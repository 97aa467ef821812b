package graft.api

import graft.SparkSpec
import graft.catalog.TableDef
import graft.model._

/** API facade semantics (reference: data_mappers/queue/jobs handlers):
  * overlap rejection, keyset pagination, watermark bounds, one-job-at-a-
  * time, queue cleanup after a completed job.
  */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  private def freshLake(): (String, TableDef) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-").toString
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (7L, "g"))
      .toDF("customer_id", "x")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
    (dir, TableDef("t", s"$dir/t", DataFormat.Parquet,
      spark.read.parquet(s"$dir/t").schema))
  }

  test("putDataMapper validates and rejects overlapping locations") {
    val api = new GraftApi(spark)
    val (_, table) = freshLake()
    api.putDataMapper(DataMapper("m1", "t", Seq("customer_id")), table)
    // same location under a different id → overlap
    intercept[IllegalArgumentException] {
      api.putDataMapper(DataMapper("m2", "t", Seq("customer_id")), table)
    }
    // replacing the SAME id is fine
    api.putDataMapper(DataMapper("m1", "t", Seq("customer_id", "x")), table)
    assert(api.listDataMappers().items.map(_.id) == Seq("m1"))
  }

  test("keyset pagination pages the queue in id order with a cursor") {
    val api = new GraftApi(spark)
    api.enqueue((1 to 25).map(i =>
      DeletionQueueItem(f"q$i%03d", MatchId.Simple(i.toString))))
    val p1 = api.listQueue(pageSize = 10)
    assert(p1.items.map(_.id) == (1 to 10).map(i => f"q$i%03d"))
    val p2 = api.listQueue(pageSize = 10, startAt = p1.nextStart)
    assert(p2.items.head.id == "q011")
    val p3 = api.listQueue(pageSize = 10, startAt = p2.nextStart)
    assert(p3.items.size == 5 && p3.nextStart.isEmpty)
  }

  test("enqueue enforces composite scoping rules") {
    val api = new GraftApi(spark)
    intercept[IllegalArgumentException] {
      api.enqueue(Seq(DeletionQueueItem("c",
        MatchId.Composite(Map("a" -> "1"))))) // no mapper scope
    }
  }

  test("full job through the facade: COMPLETED, queue cleared, " +
    "event feed paginated, future watermark rejected") {
    val api = new GraftApi(spark)
    val (_, table) = freshLake()
    api.putDataMapper(DataMapper("m1", "t", Seq("customer_id")), table)
    api.enqueue(Seq(DeletionQueueItem("q1", MatchId.Simple("7"))))
    val run = api.startJob("job1")
    assert(run.state.status == JobStatus.Completed)
    assert(api.listQueue().items.isEmpty) // cleanup cleared it
    assert(api.getJob("job1").map(_.status).contains(JobStatus.Completed))
    assert(api.listJobs().map(_.jobId) == Seq("job1"))

    val page = api.listJobEvents("job1", pageSize = 3)
    assert(page.items.size == 3)
    assert(page.items.map(_.sk) == page.items.map(_.sk).sorted)
    val rest = api.listJobEvents("job1", pageSize = 100,
      startAt = page.nextStart.get)
    assert(rest.items.nonEmpty && rest.nextStart.isEmpty)
    assert((page.items ++ rest.items).map(_.sk) ==
      run.events.map(_.sk).sorted)

    // watermark beyond JobFinishTime+1s → rejected (jobs/handlers.py:135-139)
    val future = (System.currentTimeMillis() + 3600 * 1000L).toString + "#0"
    intercept[IllegalArgumentException] {
      api.listJobEvents("job1", startAt = future)
    }
  }

  test("event log persists to parquet and states rebuild from it (S5)") {
    val api = new GraftApi(spark)
    val (_, table) = freshLake()
    api.putDataMapper(DataMapper("m1", "t", Seq("customer_id")), table)
    api.enqueue(Seq(DeletionQueueItem("q1", MatchId.Simple("7"))))
    val run = api.startJob("jobP")
    val dir = java.nio.file.Files.createTempDirectory("graft-log-").toString
    api.persistEventLog(dir)
    val restored = api.loadJobStates(dir)
    assert(restored.keySet == Set("jobP"))
    assert(restored("jobP") == run.state)
  }

  test("settings round-trip, validation, and snapshot-on-start") {
    val api = new GraftApi(spark)
    assert(api.listSettings == JobSettings()) // defaults listed
    api.putSettings(JobSettings(findQueryMaxRetries = 5,
      findConcurrencyLimit = 4, jobDetailsRetentionDays = 30))
    assert(api.listSettings.findQueryMaxRetries == 5)
    intercept[IllegalArgumentException] {
      api.putSettings(JobSettings(findConcurrencyLimit = 0))
    }
    assert(api.listSettings.findConcurrencyLimit == 4) // rejected put kept old
    // snapshot: the job carries the settings at start
    val (_, table) = freshLake()
    api.putDataMapper(DataMapper("m1", "t", Seq("customer_id")), table)
    api.enqueue(Seq(DeletionQueueItem("q1", MatchId.Simple("7"))))
    val run = api.startJob("jobS")
    assert(run.settings.findQueryMaxRetries == 5)
    assert(run.settings.jobDetailsRetentionDays == 30)
    // retention stamps an expiry ~30 days after job start
    val wantMs = run.state.jobStartTime.get + 30L * 86400000L
    assert(run.expiresAt.contains(wantMs))
  }

  test("persisted event log carries retention expiry and Jobs.retain " +
    "sweeps it (DynamoDB TTL analog)") {
    val api = new GraftApi(spark)
    api.putSettings(JobSettings(jobDetailsRetentionDays = 1))
    val (_, table) = freshLake()
    api.putDataMapper(DataMapper("m1", "t", Seq("customer_id")), table)
    api.enqueue(Seq(DeletionQueueItem("q1", MatchId.Simple("7"))))
    val run = api.startJob("jobR")
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl-").toString
    api.persistEventLog(dir)
    val log = spark.read.parquet(dir)
    import org.apache.spark.sql.functions.col
    assert(log.filter(col("expiresAt") <= 0).count() == 0)
    val now = run.expiresAt.get
    assert(graft.jobs.Jobs.retain(log, now - 1).count() == log.count())
    assert(graft.jobs.Jobs.retain(log, now + 1).count() == 0)
  }

  test("mapper/queue deletion is blocked only while a job runs") {
    val api = new GraftApi(spark)
    val (_, table) = freshLake()
    api.putDataMapper(DataMapper("m1", "t", Seq("customer_id")), table)
    api.enqueue(Seq(DeletionQueueItem("q9", MatchId.Simple("999"))))
    api.deleteQueueItems(Set("q9")) // no job running → allowed
    api.deleteDataMapper("m1")
    assert(api.listDataMappers().items.isEmpty)
  }

  test("one-concurrent-job guard DURING a run: second start, queue " +
    "cancel and mapper delete are rejected mid-flight; enqueue is NOT " +
    "(reference allows it); guards lift when the job completes") {
    // The reference hard-limits to one running job (docs/LIMITS.md:43):
    // process_handler rejects a second start (queue/handlers.py:122-126),
    // cancel_handler rejects queue deletion (queue/handlers.py:108-110),
    // delete_data_mapper_handler rejects mapper deletion
    // (data_mappers/handlers.py:100-102) — all via running_job_exists
    // (boto_utils.py:131-149). Its enqueue handlers carry NO such gate:
    // matches added during a run simply aren't in the running job's
    // snapshot. This pins the guard IN THE WINDOW, not just before and
    // after: the job is held inside its Find via the readTableFn seam.
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val api = new GraftApi(spark)
    val (_, table) = freshLake()
    api.putDataMapper(DataMapper("m1", "t", Seq("customer_id")), table)
    api.enqueue(Seq(DeletionQueueItem("q1", MatchId.Simple("7"))))
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val result = new java.util.concurrent.atomic.AtomicReference[
      graft.driver.JobRunner.JobRun]()
    val runner = new Thread(() => {
      result.set(api.startJob("j1", readTableFn = (s, td) => {
        entered.countDown()
        release.await(60, TimeUnit.SECONDS)
        graft.driver.JobRunner.readTable(s, td)
      }))
    })
    runner.start()
    try {
      assert(entered.await(60, TimeUnit.SECONDS),
        "job j1 never reached its Find")
      assert(api.runningJobExists)
      val eStart = intercept[IllegalArgumentException](api.startJob("j2"))
      assert(eStart.getMessage.contains(
        "There is already a job in progress"))
      val eCancel = intercept[IllegalArgumentException](
        api.deleteQueueItems(Set("q1")))
      assert(eCancel.getMessage.contains("job in progress"))
      val eMapper = intercept[IllegalArgumentException](
        api.deleteDataMapper("m1"))
      assert(eMapper.getMessage.contains("job in progress"))
      // enqueue mid-run is allowed — and must survive the running
      // job's completion cleanup (only CONSUMED items are cleared)
      api.enqueue(Seq(DeletionQueueItem("q2", MatchId.Simple("2"))))
    } finally {
      release.countDown()
      runner.join(120000)
    }
    assert(!runner.isAlive, "job j1 did not finish")
    assert(!api.runningJobExists)
    assert(result.get() != null, "j1 start threw instead of completing")
    assert(result.get().state.status == JobStatus.Completed)
    // j1 consumed q1; the mid-run q2 is still queued
    assert(api.listQueue().items.map(_.id) == Seq("q2"))
    // a rejected start must not have poisoned the flag: j3 runs now
    assert(api.startJob("j3").state.status == JobStatus.Completed)
  }
}
