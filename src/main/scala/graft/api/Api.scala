package graft.api

import graft.catalog.{Catalog, TableDef}
import graft.driver.JobRunner
import graft.jobs.Jobs
import graft.model._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.concurrent.TrieMap

/** Thin driver-side facade mirroring the reference REST surface
  * (docs/api/README.md:8-22; handlers under backend/lambdas/{data_mappers,
  * queue,jobs}/handlers.py): data-mapper registry with overlap validation,
  * deletion queue with keyset pagination, one-at-a-time job execution, and
  * the job-event feed with the watermark-bounded cursor.
  *
  * State lives in driver memory (the DynamoDB analog); every mutation is
  * guarded the way the reference guards it (no mapper/queue deletion while
  * a job runs, future watermarks rejected, composite scoping enforced at
  * enqueue time).
  */
final class GraftApi(spark: SparkSession) {

  final case class Page[A](items: Seq[A], nextStart: Option[String])

  private val mappers = TrieMap.empty[String, (DataMapper, TableDef)]
  private val queue = new java.util.concurrent.ConcurrentLinkedQueue[DeletionQueueItem]()
  private val jobs = TrieMap.empty[String, JobRunner.JobRun]
  private val jobOrder = new java.util.concurrent.CopyOnWriteArrayList[String]()
  private val running = new AtomicBoolean(false)
  private val settings =
    new java.util.concurrent.atomic.AtomicReference(JobSettings())

  def runningJobExists: Boolean = running.get()

  // ---- settings (settings/handlers.py:16-33; stored config analog) ---

  def listSettings: JobSettings = settings.get()

  /** Replace the engine settings; takes effect for jobs started AFTER the
    * call — running jobs keep their start-time snapshot
    * (queue/handlers.py:126-141). */
  def putSettings(s: JobSettings): JobSettings = {
    settings.set(s.validate())
    s
  }

  // ---- data mappers (data_mappers/handlers.py:69-106) ----------------

  def putDataMapper(m: DataMapper, table: TableDef): Unit = {
    Catalog.validateMapper(m, table)
    val others = mappers.filter(_._1 != m.id).values.toSeq
    Catalog.checkNoOverlap(others :+ (m -> table))
    mappers.put(m.id, (m, table))
  }

  def listDataMappers(pageSize: Int = 20,
                      startAt: Option[String] = None): Page[DataMapper] =
    keyset(mappers.values.map(_._1).toSeq.sortBy(_.id), pageSize, startAt,
      (m: DataMapper) => m.id)

  def deleteDataMapper(id: String): Unit = {
    require(!running.get(),
      "Cannot delete Data Mappers whilst there is a job in progress")
    mappers.remove(id)
  }

  // ---- deletion queue (queue/handlers.py:59-116,144-180) -------------

  def enqueue(items: Seq[DeletionQueueItem]): Seq[DeletionQueueItem] = {
    items.foreach(graft.find.Finder.validateQueueItem)
    val stamped = items.map(i =>
      if (i.createdAt == 0L) i.copy(createdAt = System.currentTimeMillis())
      else i)
    stamped.foreach(queue.add)
    stamped
  }

  def listQueue(pageSize: Int = 20,
                startAt: Option[String] = None): Page[DeletionQueueItem] = {
    import scala.jdk.CollectionConverters._
    keyset(queue.asScala.toSeq.sortBy(_.id), pageSize, startAt,
      (i: DeletionQueueItem) => i.id)
  }

  def deleteQueueItems(ids: Set[String]): Unit = {
    require(!running.get(),
      "Cannot delete queue items whilst there is a job in progress")
    queue.removeIf(i => ids.contains(i.id))
  }

  // ---- jobs (queue process_handler + jobs/handlers.py) ---------------

  /** Start a deletion job over every registered mapper and the current
    * queue. One at a time (boto_utils.py:131-149 running_job_exists;
    * queue/handlers.py:122-126 process_handler rejects a second start —
    * same message). The CAS sits OUTSIDE the try so a rejected start
    * can never clear the running job's flag. `readTableFn` passes
    * through to [[JobRunner.run]] (the JobRunnerSpec dispatch seam) —
    * ApiSpec uses it to hold a job mid-Find and probe the guards. */
  def startJob(jobId: String,
               readTableFn: (SparkSession, TableDef) =>
                 org.apache.spark.sql.DataFrame = JobRunner.readTable)
      : JobRunner.JobRun = {
    require(running.compareAndSet(false, true),
      "There is already a job in progress")
    try {
      import scala.jdk.CollectionConverters._
      // snapshot the settings onto the job: changes made while it runs
      // must not affect it (queue/handlers.py:126-141)
      val run = JobRunner.run(spark, jobId, mappers.values.toSeq,
        queue.asScala.toSeq, settings = settings.get(),
        readTableFn = readTableFn)
      // cleanup phase clears consumed queue items (stream_processor.py:129-139)
      val clearedIds = run.clearedQueue.map(_.id).toSet
      queue.removeIf(i => clearedIds.contains(i.id))
      jobs.put(jobId, run)
      jobOrder.add(jobId)
      run
    } finally running.set(false)
  }

  def getJob(jobId: String): Option[Jobs.JobState] =
    jobs.get(jobId).map(_.state)

  /** Jobs newest-first with a page limit (jobs/handlers.py:83-97). */
  def listJobs(pageSize: Int = 20): Seq[Jobs.JobState] = {
    import scala.jdk.CollectionConverters._
    jobOrder.asScala.toSeq.reverse.take(pageSize)
      .flatMap(id => jobs.get(id).map(_.state))
  }

  /** Event feed with the reference's watermark cursor
    * (jobs/handlers.py:120-216): events strictly after `startAt` in sk
    * order; a start watermark beyond (JobFinishTime + 1 s) is rejected;
    * `nextStart` is returned while the job may still produce events or
    * while more pages remain. */
  def listJobEvents(jobId: String, pageSize: Int = 20,
                    startAt: String = "0"): Page[JobEvent] = {
    val run = jobs.getOrElse(jobId,
      throw new NoSuchElementException(s"job $jobId"))
    val state = run.state
    val boundaryMs =
      state.jobFinishTime.getOrElse(System.currentTimeMillis()) + 1000L
    val watermarkMs = startAt.split('#').head.toLong
    if (watermarkMs > boundaryMs)
      throw new IllegalArgumentException(
        s"Watermark $startAt is out of bounds for this job")

    val sorted = run.events.sortBy(_.sk)
    val after = sorted.filter(_.sk > startAt)
    val page = after.take(pageSize)
    val finished = JobStatus.finished(state.status) ||
      state.status == JobStatus.Completed
    val nextStart =
      if (!finished) Some(page.lastOption.map(_.sk).getOrElse(startAt))
      else if (after.size > pageSize) Some(page.last.sk)
      else None
    Page(page, nextStart)
  }

  // ---- event-log persistence (the DynamoDB Jobs-table analog on disk,
  // S5; jobs are reconstructable from the log alone via Jobs.report) ----

  /** Append every job's events to a parquet log partitioned by job, each
    * row stamped with the job's retention expiry (`expiresAt`, 0 = keep
    * forever) so [[Jobs.retain]] can sweep the log — the DynamoDB TTL
    * analog (boto_utils.py:120-123). */
  def persistEventLog(dir: String): Unit = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val runs = jobOrder.asScala.toSeq.flatMap(jobs.get)
    val all = runs.flatMap(r =>
      r.events.map(e => (e, r.expiresAt.getOrElse(0L))))
    if (all.nonEmpty)
      all.toDF("event", "expiresAt").select(col("event.*"), col("expiresAt"))
        .write.mode("overwrite").partitionBy("jobId").parquet(dir)
  }

  /** Rebuild per-job states from a persisted log — one distributed fold,
    * no driver loop ([[Jobs.report]]). The partition column is cast back
    * to string: partition-column type inference would otherwise type an
    * all-digit job id as int and break the downstream reads. */
  def loadJobStates(dir: String): Map[String, Jobs.JobState] = {
    import org.apache.spark.sql.functions.col
    Jobs.report(spark.read.parquet(dir)
      .withColumn("jobId", col("jobId").cast("string"))).collect().map { r =>
      r.getString(0) -> Jobs.JobState(
        jobId = r.getString(0),
        status = r.getString(1),
        stats = JobStats(
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
          r.getLong(8), r.getLong(9), r.getLong(10), r.getLong(11),
          r.getLong(12), r.getLong(13), r.getLong(14)),
        jobStartTime = Option(r.get(2)).map(_.asInstanceOf[Long]),
        jobFinishTime = Option(r.get(3)).map(_.asInstanceOf[Long]))
    }.toMap
  }

  // ---- shared keyset pagination (filter key > cursor, order, limit) --

  private def keyset[A](sorted: Seq[A], pageSize: Int,
                        startAt: Option[String], key: A => String): Page[A] = {
    val after = startAt match {
      case Some(c) => sorted.filter(a => key(a) > c)
      case None => sorted
    }
    val page = after.take(pageSize)
    Page(page,
      if (after.size > pageSize) Some(key(page.last)) else None)
  }
}
