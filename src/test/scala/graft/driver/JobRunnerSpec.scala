package graft.driver

import graft.SparkSpec
import graft.catalog.TableDef
import graft.find.Finder
import graft.model._
import org.apache.spark.sql.functions.{col, struct}
import scala.jdk.CollectionConverters._

/** Driver orchestration semantics: phase-event ordering, fail-fast on a
  * broken Find query (work_query_queue.py:37-46: finish nothing more,
  * abandon the job), partial-failure fold, cleanup scoping.
  */
class JobRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def lake(): (String, TableDef) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-jr-").toString
    Seq((1L, "a"), (7L, "b"), (9L, "c")).toDF("customer_id", "x")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
    (dir, TableDef("t", s"$dir/t", DataFormat.Parquet,
      spark.read.parquet(s"$dir/t").schema))
  }

  test("happy path: phase events in order, terminal COMPLETED") {
    val (_, table) = lake()
    val run = JobRunner.run(spark, "jr1",
      Seq(DataMapper("m", "t", Seq("customer_id")) -> table),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))))
    assert(run.state.status == JobStatus.Completed)
    val names = run.events.sortBy(_.sk).map(_.eventName)
    val phases = names.filter(Set(
      JobEventName.JobStarted, JobEventName.FindPhaseStarted,
      JobEventName.FindPhaseEnded, JobEventName.ForgetPhaseStarted,
      JobEventName.ForgetPhaseEnded, JobEventName.CleanupSucceeded))
    assert(phases == Seq(
      JobEventName.JobStarted, JobEventName.FindPhaseStarted,
      JobEventName.FindPhaseEnded, JobEventName.ForgetPhaseStarted,
      JobEventName.ForgetPhaseEnded, JobEventName.CleanupSucceeded))
    assert(run.state.stats.totalObjectUpdatedCount == 1)
    assert(run.state.stats.totalRowsDeletedCount == 1)
    assert(run.state.stats.totalQueryScannedInBytes > 0) // pruned bytes
  }

  test("fail-fast: a broken Find query aborts before Forget, " +
    "job folds to FIND_FAILED") {
    val (_, good) = lake()
    val broken = TableDef("b", "/nonexistent/location/nope",
      DataFormat.Parquet, good.schema)
    val run = JobRunner.run(spark, "jr2",
      Seq(DataMapper("mb", "b", Seq("customer_id")) -> broken,
        DataMapper("mg", "t", Seq("customer_id")) -> good),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))))
    assert(run.state.status == JobStatus.FindFailed)
    val names = run.events.map(_.eventName)
    assert(names.contains(JobEventName.QueryFailed))
    assert(!names.contains(JobEventName.ForgetPhaseStarted))
    assert(!names.contains(JobEventName.ObjectUpdated))
    assert(run.clearedQueue.isEmpty) // skip_cleanup status
    assert(run.state.jobFinishTime.isDefined)
  }

  test("partial failure: one bad object folds to FORGET_PARTIALLY_FAILED, " +
    "queue NOT cleared") {
    val (dir, table) = lake()
    // second mapper over a JSON table whose file is malformed → the
    // object rewrite fails while the parquet one succeeds
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/j.json"),
      ("{\"customer_id\":7}\nnot-json{{{\n").getBytes("UTF-8"))
    val jsonTable = TableDef("j", s"$dir/j.json", DataFormat.JsonLines,
      table.schema)
    val run = JobRunner.run(spark, "jr3",
      Seq(DataMapper("mp", "t", Seq("customer_id")) -> table,
        DataMapper("mj", "j", Seq("customer_id"),
          format = DataFormat.JsonLines) -> jsonTable),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))))
    assert(run.state.status == JobStatus.ForgetPartiallyFailed)
    assert(run.state.stats.totalObjectUpdatedCount == 1)
    assert(run.state.stats.totalObjectUpdateFailedCount == 1)
    assert(run.clearedQueue.isEmpty)
  }

  test("sk ordering regression: with many objects and a late failure, " +
    "ObjectUpdateFailed still folds BEFORE ForgetPhaseEnded") {
    // three per-emitter sequencers used to collide on the millisecond
    // prefix once an object batch outnumbered the phase events; the
    // global EventSk sequencer pins emission order
    val dir = java.nio.file.Files.createTempDirectory("graft-sk-").toString
    (0 until 12).foreach { i =>
      val content =
        if (i == 11) """{"customer_id":7}""" + "\nnot-json{{{\n"
        else """{"customer_id":7}""" + "\n" + s"""{"customer_id":$i}""" + "\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/f$i.json"), content.getBytes("UTF-8"))
    }
    val schema = spark.read.json(s"$dir/f0.json").schema
    val table = TableDef("t", dir, DataFormat.JsonLines, schema)
    val run = JobRunner.run(spark, "jr5",
      Seq(DataMapper("m", "t", Seq("customer_id"),
        format = DataFormat.JsonLines) -> table),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))))
    assert(run.state.stats.totalObjectUpdatedCount == 11)
    assert(run.state.stats.totalObjectUpdateFailedCount == 1)
    assert(run.state.status == JobStatus.ForgetPartiallyFailed,
      s"misfold: ${run.state.status}")
    val sorted = run.events.sortBy(_.sk)
    val failIdx = sorted.indexWhere(
      _.eventName == JobEventName.ObjectUpdateFailed)
    val endIdx = sorted.indexWhere(
      _.eventName == JobEventName.ForgetPhaseEnded)
    assert(failIdx >= 0 && failIdx < endIdx)
  }

  test("retry budget: flaky-then-ok Find retries silently and the job " +
    "completes — QueryRetried is info-only, no QueryFailed") {
    // reference parity: a retried attempt emits NO QueryFailed
    // (state_machine.yaml:204-215 loops back to Execute Query without an
    // emit) because any QueryFailed > 0 resolves ForgetPhaseEnded to
    // FORGET_PARTIALLY_FAILED (status_updater.py:96-104) — a recovered
    // query must leave the error counters untouched
    val (_, table) = lake()
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val run = JobRunner.run(spark, "jr6",
      Seq(DataMapper("m", "t", Seq("customer_id")) -> table),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))),
      settings = JobSettings(findQueryMaxRetries = 2),
      readTableFn = (s, t) => {
        if (calls.getAndIncrement() == 0)
          throw new RuntimeException("transient query failure")
        JobRunner.readTable(s, t)
      })
    assert(run.state.status == JobStatus.Completed, run.state.status)
    val names = run.events.map(_.eventName)
    assert(names.count(_ == JobEventName.QueryRetried) == 1)
    assert(!names.contains(JobEventName.QueryFailed))
    assert(run.state.stats.totalQueryFailedCount == 0)
    assert(run.state.stats.totalObjectUpdatedCount == 1)
    assert(run.settings.findQueryMaxRetries == 2) // snapshot carried
  }

  test("retry budget exhaustion: one QueryFailed after the last attempt, " +
    "job folds to FIND_FAILED") {
    val (_, table) = lake()
    val run = JobRunner.run(spark, "jr7",
      Seq(DataMapper("m", "t", Seq("customer_id")) -> table),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))),
      settings = JobSettings(findQueryMaxRetries = 1),
      readTableFn = (_, _) =>
        throw new RuntimeException("persistent query failure"))
    assert(run.state.status == JobStatus.FindFailed)
    val names = run.events.map(_.eventName)
    assert(names.count(_ == JobEventName.QueryRetried) == 1) // the budget
    assert(names.count(_ == JobEventName.QueryFailed) == 1) // exhaustion
    assert(run.state.stats.totalQueryFailedCount == 1)
    assert(!names.contains(JobEventName.ForgetPhaseStarted))
  }

  test("an uncastable match id fails the Find with an error that names " +
    "the queue item and the column types, never the id itself") {
    val (_, table) = lake()
    val secret = "not-a-number-4711"
    val run = JobRunner.run(spark, "jr-mask",
      Seq(DataMapper("m", "t", Seq("customer_id")) -> table),
      Seq(DeletionQueueItem("item-9", MatchId.Simple(secret))),
      settings = JobSettings(findQueryMaxRetries = 1))
    assert(run.state.status == JobStatus.FindFailed)
    val errors = run.events.map(_.error).filter(_.nonEmpty)
    // QueryRetried, QueryFailed and FindPhaseFailed all carry it
    assert(errors.size == 3, run.events.map(_.eventName))
    errors.foreach { e =>
      assert(!e.contains(secret), e)
      assert(e.contains("item-9") && e.contains("LongType"), e)
    }
  }

  test("JSON-lines Find reports full-scan bytes (row format has no " +
    "column pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jb-").toString
    val payload = ("{\"customer_id\":7,\"x\":\"a\"}\n" +
      "{\"customer_id\":8,\"x\":\"b\"}\n").getBytes("UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.json"), payload)
    val schema = spark.read.json(s"$dir/d.json").schema
    val table = TableDef("j", dir, DataFormat.JsonLines, schema)
    val run = JobRunner.run(spark, "jr8",
      Seq(DataMapper("mj", "j", Seq("customer_id"),
        format = DataFormat.JsonLines) -> table),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))))
    assert(run.state.status == JobStatus.Completed)
    assert(run.state.stats.totalQueryScannedInBytes == payload.length,
      s"want full-scan bytes ${payload.length}, " +
        s"got ${run.state.stats.totalQueryScannedInBytes}")
  }

  test("queue above InSetMaxKeys takes the semi-join path, deletes " +
    "correctly") {
    val (_, table) = lake()
    // 2 present keys + absent ones: InSetMaxKeys + 1 keys → key probe
    val absent = (1 until Finder.InSetMaxKeys).map(i =>
      DeletionQueueItem(s"a$i", MatchId.Simple((1000000L + i).toString)))
    val queue = Seq(DeletionQueueItem("q1", MatchId.Simple("7")),
      DeletionQueueItem("q2", MatchId.Simple("9"))) ++ absent
    assert(queue.size == Finder.InSetMaxKeys + 1)
    val run = JobRunner.run(spark, "jr9",
      Seq(DataMapper("m", "t", Seq("customer_id")) -> table), queue)
    assert(run.state.status == JobStatus.Completed)
    assert(run.state.stats.totalRowsDeletedCount == 2)
  }

  test("a queue value Spark's cast accepts (' 12 ') deletes from a " +
    "parquet AND a JSON-lines mapper: Find and Forget share one cast") {
    val (dir, table) = lake()
    Seq((12L, "p"), (1L, "q")).toDF("customer_id", "x")
      .coalesce(1).write.mode("append").parquet(table.location)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/j.json"),
      ("{\"customer_id\":12}\n{\"customer_id\":3}\n").getBytes("UTF-8"))
    val jsonTable = TableDef("j", s"$dir/j.json", DataFormat.JsonLines,
      table.schema)
    val run = JobRunner.run(spark, "jr-ws",
      Seq(DataMapper("mp", "t", Seq("customer_id")) -> table,
        DataMapper("mj", "j", Seq("customer_id"),
          format = DataFormat.JsonLines) -> jsonTable),
      Seq(DeletionQueueItem("q", MatchId.Simple(" 12 "))))
    assert(run.state.status == JobStatus.Completed, run.events)
    assert(run.state.stats.totalRowsDeletedCount == 2)
    assert(spark.read.parquet(table.location)
      .where(col("customer_id") === 12L).count() == 0)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/j.json")), "UTF-8") ==
      "{\"customer_id\":3}\n")
  }

  test("the Forget phase of a three-mapper job (two parquet, one JSON " +
    "lines) is ONE rewrite Spark job and ONE sweep Spark job") {
    // ... and the whole job is five: ONE map-only Find job per mapper
    val dir = java.nio.file.Files.createTempDirectory("graft-1job-").toString
    Seq(Seq((1L, "a"), (7L, "b")), Seq((7L, "c"), (7L, "d"), (9L, "e")))
      .foreach(rows => rows.toDF("customer_id", "x").coalesce(1)
        .write.mode("append").parquet(s"$dir/a"))
    Seq((9L, 100L), (3L, 101L)).toDF("o_custkey", "o_id").coalesce(1)
      .write.parquet(s"$dir/b")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/j"))
    Seq("p1.json" -> "{\"user_id\":7}\n{\"user_id\":2}\n",
      "p2.json" -> "{\"user_id\":9}\n{\"user_id\":9}\n{\"user_id\":4}\n")
      .foreach { case (n, c) => java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/j/$n"), c.getBytes("UTF-8")) }
    def pq(n: String) = TableDef(n, s"$dir/$n", DataFormat.Parquet,
      spark.read.parquet(s"$dir/$n").schema)
    val jsonSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType)))
    val mappers = Seq(
      DataMapper("ma", "a", Seq("customer_id")) -> pq("a"),
      DataMapper("mb", "b", Seq("o_custkey")) -> pq("b"),
      DataMapper("mj", "j", Seq("user_id"), format = DataFormat.JsonLines) ->
        TableDef("j", s"$dir/j", DataFormat.JsonLines, jsonSchema))
    // expected deletions per object, read without the engine
    val expected = mappers.flatMap { case (m, t) =>
      JobRunner.readTable(spark, t)
        .where(col(m.columns.head).isin(7L, 9L))
        .groupBy(org.apache.spark.sql.functions.input_file_name()).count()
        .collect().map(r => graft.forget.DistributedRewrite
          .stripScheme(r.getString(0)) -> r.getLong(1))
    }.toMap
    assert(expected.size == 5 && expected.values.sum == 8L, expected)

    // (job name, innermost engine frame of its call site) per job
    val starts =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        e.stageInfos.maxByOption(_.stageId).foreach { st =>
          starts.add(st.name -> st.details.split('\n').map(_.trim)
            .find(_.contains("graft.")).getOrElse(""))
        }
    }
    Thread.sleep(300) // let earlier tests' listener events drain
    spark.sparkContext.addSparkListener(listener)
    val run =
      try {
        val r = JobRunner.run(spark, "jr-1job", mappers,
          Seq(DeletionQueueItem("q7", MatchId.Simple("7")),
            DeletionQueueItem("q9", MatchId.Simple("9")),
            DeletionQueueItem("qx", MatchId.Simple("123456"))))
        Thread.sleep(700) // listener bus is async
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(run.state.status == JobStatus.Completed, run.state.status)
    val jobs = starts.asScala.toSeq
    val findJobs = jobs.filter(_._2.contains("graft.driver.JobRunner"))
    assert(findJobs.size == 3, jobs)
    assert(jobs.size == 5, jobs)
    val forgetJobs = jobs.filter(_._2.contains("graft.forget.")).map(_._1)
    assert(forgetJobs.count(_.startsWith("collect")) == 1, forgetJobs)
    assert(forgetJobs.count(_.startsWith("foreach")) == 1, forgetJobs)
    assert(forgetJobs.size == 2, forgetJobs)
    val updated = run.events.filter(_.eventName == JobEventName.ObjectUpdated)
      .map(e => graft.forget.DistributedRewrite.stripScheme(e.path) ->
        e.statsDeleted).toMap
    assert(updated == expected)
  }

  test("with the key index, a queue no indexed object holds runs no Find " +
    "Spark job for that mapper and still reports QuerySucceeded, 0 bytes") {
    val (_, table) = lake()
    val json = {
      val dir = java.nio.file.Files.createTempDirectory("graft-jk-").toString
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.json"),
        "{\"customer_id\":7}\n{\"customer_id\":8}\n".getBytes("UTF-8"))
      TableDef("j", dir, DataFormat.JsonLines,
        spark.read.json(s"$dir/d.json").schema)
    }
    val mappers = Seq(DataMapper("m", "t", Seq("customer_id")) -> table,
      DataMapper("mj", "j", Seq("customer_id"),
        format = DataFormat.JsonLines) -> json)
    val ix = new graft.find.KeyIndex
    // the first job indexes both tables and deletes key 7
    val first = JobRunner.run(spark, "jr-ix1", mappers,
      Seq(DeletionQueueItem("q7", MatchId.Simple("7"))), keyIndex = Some(ix))
    assert(first.state.status == JobStatus.Completed, first.state.status)
    assert(first.state.stats.totalObjectUpdatedCount == 2)
    val finds = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.details.contains("graft.driver.JobRunner")))
          finds.incrementAndGet()
    }
    Thread.sleep(300) // let earlier jobs' listener events drain
    spark.sparkContext.addSparkListener(listener)
    val run =
      try {
        // 7 is gone and 123456 was never there
        val r = JobRunner.run(spark, "jr-ix2", mappers,
          Seq(DeletionQueueItem("a", MatchId.Simple("7")),
            DeletionQueueItem("b", MatchId.Simple("123456"))),
          keyIndex = Some(ix))
        Thread.sleep(700) // listener bus is async
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(run.state.status == JobStatus.Completed, run.state.status)
    assert(finds.get == 0)
    val queries = run.events.filter(_.eventName == JobEventName.QuerySucceeded)
    assert(queries.size == 2 && queries.forall(_.bytesScanned == 0L), queries)
    assert(run.foundPaths.values.forall(_.isEmpty), run.foundPaths)
    // without the index the same queue scans both tables
    val plain = JobRunner.run(spark, "jr-ix3", mappers,
      Seq(DeletionQueueItem("b", MatchId.Simple("123456"))))
    assert(plain.events.filter(_.eventName == JobEventName.QuerySucceeded)
      .map(_.bytesScanned).sum > 0)
  }

  test("concurrent Find dispatch: wall-clock tracks the slowest mapper, " +
    "not the sum; event log stays sk-ordered") {
    // six mappers over six disjoint lakes, each Find artificially held
    // for ~700ms. Sequential dispatch needs >= 4.2s; the concurrent
    // dispatcher (default limit 15) should land near ONE delay.
    val lakes = (1 to 6).map { i =>
      val (_, t) = lake()
      DataMapper(s"m$i", s"t$i", Seq("customer_id")) ->
        t.copy(name = s"t$i")
    }
    // load-insensitive concurrency gauge: how many Finds overlapped in
    // the sleep window (a wall-clock bound alone flakes on a contended
    // box and can't distinguish 2-way from 6-way dispatch)
    val current = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.nanoTime()
    val run = JobRunner.run(spark, "jrc",
      lakes,
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))),
      readTableFn = (s, t) => {
        val now = current.incrementAndGet()
        peak.getAndAccumulate(now, math.max)
        try { Thread.sleep(700); JobRunner.readTable(s, t) }
        finally current.decrementAndGet()
      })
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(run.state.status == JobStatus.Completed, run.state.status)
    val names = run.events.map(_.eventName)
    assert(names.count(_ == JobEventName.QuerySucceeded) == 6)
    assert(run.state.stats.totalObjectUpdatedCount == 6)
    // emission (buffer) order must equal sk order even under concurrency
    assert(run.events.map(_.sk) == run.events.map(_.sk).sorted,
      "event buffer order diverged from sk order")
    assert(peak.get() >= 4,
      s"Find dispatch not concurrent: peak overlap ${peak.get()}")
    assert(elapsed < 4.0, // sequential floor is 6 x 0.7s = 4.2s
      f"Find dispatch serialized: 6 x 0.7s mappers took $elapsed%.1fs")
  }

  test("findConcurrencyLimit=1 degrades to sequential dispatch and " +
    "still completes") {
    val lakes = (1 to 2).map { i =>
      val (_, t) = lake()
      DataMapper(s"s$i", s"t$i", Seq("customer_id")) ->
        t.copy(name = s"t$i")
    }
    val run = JobRunner.run(spark, "jrs", lakes,
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))),
      settings = JobSettings(findConcurrencyLimit = 1))
    assert(run.state.status == JobStatus.Completed)
    assert(run.state.stats.totalObjectUpdatedCount == 2)
  }

  test("a varchar-declared DDL table registration survives the read " +
    "path end-to-end (char/varchar normalized at registration)") {
    // the regression this pins: keeping VarcharType in the TableDef
    // schema makes spark.read.schema(...) throw "char/varchar type can
    // only be used in the table schema" and the job burns its retry
    // budget into FIND_FAILED
    val dir = java.nio.file.Files.createTempDirectory("graft-ddl-").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.json"),
      ("{\"customer_id\":7,\"x\":\"a\"}\n" +
        "{\"customer_id\":8,\"x\":\"b\"}\n").getBytes("UTF-8"))
    val table = graft.catalog.Catalog.tableFromDdl("jv", dir,
      DataFormat.JsonLines,
      Seq("customer_id" -> "bigint", "x" -> "varchar(10)"))
    val run = JobRunner.run(spark, "jrv",
      Seq(DataMapper("mv", "jv", Seq("customer_id"),
        format = DataFormat.JsonLines) -> table),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))))
    assert(run.state.status == JobStatus.Completed, run.state.status)
    assert(run.state.stats.totalRowsDeletedCount == 1)
  }

  test("simple item scoped to several mappers applies to each") {
    val (_, t1) = lake()
    val (_, t2) = lake()
    val run = JobRunner.run(spark, "jr4",
      Seq(DataMapper("m1", "t", Seq("customer_id")) -> t1,
        DataMapper("m2", "t2", Seq("customer_id")) -> t2.copy(name = "t2")),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"),
        dataMappers = Seq("m1", "m2"))))
    assert(run.state.status == JobStatus.Completed)
    assert(run.state.stats.totalObjectUpdatedCount == 2)
  }

  test("scenario-2 scale: ~1,024 mixed objects (flat + hive-partitioned " +
    "parquet, JSON, gzip JSON) through ONE job — concurrent mappers, " +
    "mixed simple+composite queue, folded stats equal per-object " +
    "tallies exactly") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val dir = java.nio.file.Files.createTempDirectory("graft-s2-").toString
    // 3,000 synthetic customers: unique id, 5 segments, 8 nations
    val src = spark.range(3000).selectExpr(
      "id AS c_id", "concat('S', id % 5) AS seg",
      "CAST(id % 8 AS BIGINT) AS nation",
      "concat('payload-', id) AS note")
    src.repartition(640).write.parquet(s"$dir/flat")           // 640 objs
    src.repartition(48).write.partitionBy("seg")
      .parquet(s"$dir/part")                                   // 5*48=240
    src.repartition(96).write.json(s"$dir/json")               //  96 objs
    src.repartition(48).write
      .option("compression", "gzip").json(s"$dir/json_gz")     //  48 objs
    def objCount(sub: String, suffix: String): Long = {
      val base = java.nio.file.Paths.get(s"$dir/$sub")
      val s = java.nio.file.Files.walk(base)
      try s.filter(p => p.toString.endsWith(suffix)).count()
      finally s.close()
    }
    val staged = objCount("flat", ".parquet") +
      objCount("part", ".parquet") + objCount("json", ".json") +
      objCount("json_gz", ".json.gz")
    assert(staged >= 1000 && staged <= 1100,
      s"staged $staged objects, want ~1,024")

    def table(name: String, sub: String, fmt: String): TableDef =
      TableDef(name, s"$dir/$sub",
        if (fmt == "parquet") DataFormat.Parquet else DataFormat.JsonLines,
        (if (fmt == "parquet") spark.read.parquet(s"$dir/$sub")
         else spark.read.json(s"$dir/$sub")).schema)
    val tFlat = table("flat", "flat", "parquet")
    val tPart = table("part", "part", "parquet")
    val tJson = table("json", "json", "json")
    val tGz = table("json_gz", "json_gz", "json")
    val mappers = Seq(
      DataMapper("m_flat", "flat", Seq("c_id", "nation", "seg")) -> tFlat,
      DataMapper("m_part", "part", Seq("c_id")) -> tPart,
      DataMapper("m_json", "json", Seq("c_id"),
        format = DataFormat.JsonLines) -> tJson,
      DataMapper("m_gz", "json_gz", Seq("c_id"),
        format = DataFormat.JsonLines) -> tGz)
    // mixed queue: 120 simple ids (unscoped: every mapper) + one
    // composite (seg, nation) scoped to the flat table
    val queue = (0 until 120).map(i =>
        DeletionQueueItem(s"s$i", MatchId.Simple((i * 25).toString))) :+
      DeletionQueueItem("c0", MatchId.Composite(
        Map("seg" -> "S2", "nation" -> "3")), dataMappers = Seq("m_flat"))

    // expected per-table row deltas + per-table matched OBJECT counts,
    // computed BEFORE the rewrite from the same plan the job uses
    val expect = mappers.map { case (m, t) =>
      val groups = graft.find.Finder.plan(m, t, queue)
      val data = JobRunner.readTable(spark, t)
      val matched = graft.find.Finder.matchedRows(spark, data, groups)
      val nRows = matched.count()
      val nObjs = matched.select(input_file_name()).distinct().count()
      (m.id, t, nRows, nObjs)
    }
    val beforeCounts = expect.map { case (_, t, _, _) =>
      JobRunner.readTable(spark, t).count() }
    assert(expect.map(_._3).sum > 200, "queue must hit a real spread")

    val run = JobRunner.run(spark, "s2", mappers, queue)
    assert(run.state.status == JobStatus.Completed, run.state.status)

    // folded stats == per-object event tallies == pre-computed truth
    val objEvents = run.events.filter(
      _.eventName == JobEventName.ObjectUpdated)
    assert(run.state.stats.totalObjectUpdatedCount == objEvents.size)
    assert(run.state.stats.totalRowsDeletedCount ==
      objEvents.map(_.statsDeleted).sum)
    assert(run.state.stats.totalObjectUpdateFailedCount == 0)
    assert(objEvents.size.toLong == expect.map(_._4).sum,
      s"updated ${objEvents.size} objects, planned ${expect.map(_._4).sum}")
    assert(run.state.stats.totalRowsDeletedCount == expect.map(_._3).sum)
    // every mapper's Find ran and found objects (concurrent dispatch)
    mappers.foreach { case (m, _) =>
      assert(run.foundPaths.getOrElse(m.id, Nil).nonEmpty, m.id) }

    // post-state: per-table deltas exact, zero surviving matches
    expect.zip(beforeCounts).foreach {
      case ((mid, t, nRows, _), before) =>
        val after = JobRunner.readTable(spark, t)
        assert(after.count() == before - nRows, s"$mid delta")
    }
    expect.foreach { case (mid, t, _, _) =>
      val m = mappers.find(_._1.id == mid).get._1
      val groups = graft.find.Finder.plan(m, t, queue)
      assert(graft.find.Finder.matchedRows(spark,
        JobRunner.readTable(spark, t), groups).count() == 0,
        s"$mid survivors")
    }
  }

  /** A parquet lake of three objects with a nested identifier
    * (`user.id`), written one object per append so the test knows which
    * ids each object holds. Returns the table and the object holding
    * each batch, in write order. */
  private def nestedLake(): (TableDef, Seq[String]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-jrn-").toString
    val loc = s"$dir/t"
    def objects(): Set[String] = {
      val f = new java.io.File(loc)
      if (!f.exists()) Set.empty
      else f.listFiles().map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val written = Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L)).map { ids =>
      val before = objects()
      ids.map(i => (i, s"name$i", s"payload-$i" * 20))
        .toDF("id", "name", "payload")
        .select(struct(col("id"), col("name")).as("user"), col("payload"))
        .coalesce(1).write.mode("append").parquet(loc)
      val added = objects() -- before
      assert(added.size == 1, added)
      added.head
    }
    (TableDef("t", loc, DataFormat.Parquet, spark.read.parquet(loc).schema),
      written)
  }

  test("Find reports the identifier column-chunk bytes of every " +
    "matched object (nested identifier path)") {
    val (table, objs) = nestedLake()
    // ids 1 and 3 live in the first two objects; sum their `user.id`
    // chunk sizes straight from the footers, before Forget rewrites them
    val conf = new org.apache.hadoop.conf.Configuration()
    val (want, whole) = objs.take(2).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try {
        val chunks = r.getFooter.getBlocks.asScala.toSeq
          .flatMap(_.getColumns.asScala)
        (chunks.filter(_.getPath.toDotString == "user.id")
          .map(_.getTotalSize).sum, chunks.map(_.getTotalSize).sum)
      } finally r.close()
    }.unzip match { case (a, b) => (a.sum, b.sum) }
    assert(want > 0 && want < whole, s"want=$want whole=$whole")
    val run = JobRunner.run(spark, "jrb",
      Seq(DataMapper("m", "t", Seq("user.id")) -> table),
      Seq(DeletionQueueItem("q1", MatchId.Simple("1")),
        DeletionQueueItem("q3", MatchId.Simple("3"))))
    assert(run.state.status == JobStatus.Completed, run.state.status)
    assert(run.foundPaths("m").size == 2)
    val reported = run.events
      .filter(_.eventName == JobEventName.QuerySucceeded).map(_.bytesScanned)
    assert(reported == Seq(want))
  }

  test("ParquetStats.rowCount of a multi-object directory equals " +
    "Spark's count") {
    val (table, _) = nestedLake() // three objects
    assert(graft.tools.ParquetStats.rowCount(
      spark.sparkContext.hadoopConfiguration, table.location) ==
      spark.read.parquet(table.location).count())
  }
}
