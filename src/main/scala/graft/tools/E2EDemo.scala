package graft.tools

import graft.catalog.{Catalog, TableDef}
import graft.driver.JobRunner
import graft.find.Finder
import graft.forget.DistributedRewrite
import graft.model._
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end verification driver: stages a private data lake (a customer
  * table split across 128 parquet objects + a JSON-lines object + a GZIP
  * JSON-lines object), runs a complete deletion job through [[JobRunner]]
  * — Find (per-mapper queries) → ONE distributed Forget job (one task per
  * object, [[graft.forget.DistributedRewrite]]) → cleanup → event fold to
  * COMPLETED — then probes the engine's error taxonomy (zero-deletion ⇒
  * ObjectUpdateFailed + FORGET_PARTIALLY_FAILED; uncastable match id ⇒
  * MatchIdCastingError at planning).
  *
  * Usage: runMain graft.tools.E2EDemo [sfDir]
  */
object E2EDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session(defaultCpus = 8)
    var failures = List.empty[String]
    def check(ok: Boolean, what: String): Unit = {
      println(s"== ${if (ok) "OK " else "FAIL"} $what")
      if (!ok) failures ::= what
    }

    val lake = Files.createTempDirectory("graft-lake-").toString
    println(s"== staging lake at $lake")
    val src = spark.read.parquet(s"$sfDir/customer.parquet")
    src.repartition(128).write.mode(SaveMode.Overwrite)
      .parquet(s"$lake/customer_pq")
    src.coalesce(1).write.mode(SaveMode.Overwrite)
      .json(s"$lake/customer_json")
    src.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("compression", "gzip").json(s"$lake/customer_json_gz")
    // directories still contain _SUCCESS markers; tables point at dirs
    val nStaged = Files.list(Paths.get(s"$lake/customer_pq")).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    check(nStaged >= 100, s"staged $nStaged parquet objects (want >=100)")

    val queue = Seq(
      DeletionQueueItem("s1", MatchId.Simple("7")),
      DeletionQueueItem("s2", MatchId.Simple("23")),
      DeletionQueueItem("c1", MatchId.Composite(
        Map("c_mktsegment" -> "FURNITURE", "c_nationkey" -> "2")),
        dataMappers = Seq("m_pq")))

    val pqTable = TableDef("customer_pq", s"$lake/customer_pq",
      DataFormat.Parquet, src.schema)
    val jsonTable = TableDef("customer_json", s"$lake/customer_json",
      DataFormat.JsonLines, src.schema)
    val gzTable = TableDef("customer_json_gz", s"$lake/customer_json_gz",
      DataFormat.JsonLines, src.schema)
    val mappers = Seq(
      DataMapper("m_pq", "customer_pq",
        Seq("c_custkey", "c_mktsegment", "c_nationkey")) -> pqTable,
      DataMapper("m_json", "customer_json", Seq("c_custkey"),
        format = DataFormat.JsonLines) -> jsonTable,
      DataMapper("m_gz", "customer_json_gz", Seq("c_custkey"),
        format = DataFormat.JsonLines) -> gzTable)

    // expected deletions, computed before the rewrite
    val pqGroups = Finder.plan(mappers.head._1, pqTable, queue)
    val expectPq = Finder.matchedRows(spark,
      spark.read.parquet(pqTable.location), pqGroups).count()
    val jsonGroups = Finder.plan(mappers(1)._1, jsonTable, queue)
    val expectJson = Finder.matchedRows(spark,
      JobRunner.readTable(spark, jsonTable), jsonGroups).count()
    val beforePq = spark.read.parquet(pqTable.location).count()
    val beforeJson = JobRunner.readTable(spark, jsonTable).count()

    // ---- the job
    val run = JobRunner.run(spark, "job1", mappers, queue)
    println(s"== job status=${run.state.status} stats=${run.state.stats}")
    run.events.groupBy(_.eventName).toSeq.sortBy(_._1).foreach { case (n, es) =>
      println(s"   event $n x${es.size}")
    }

    check(run.state.status == JobStatus.Completed, "job folds to COMPLETED")
    check(run.state.jobStartTime.isDefined && run.state.jobFinishTime.isDefined,
      "start/finish times stamped (finish stamps on the COMPLETED transition)")
    val nFoundPq = run.foundPaths.getOrElse("m_pq", Nil).size
    check(nFoundPq > 1, s"find returned $nFoundPq parquet objects (>1)")
    check(run.state.stats.totalObjectUpdatedCount ==
      nFoundPq + run.foundPaths.getOrElse("m_json", Nil).size +
        run.foundPaths.getOrElse("m_gz", Nil).size,
      "every found object updated")
    check(run.state.stats.totalRowsDeletedCount > 0, "rows deleted > 0")
    check(run.clearedQueue.map(_.id).toSet == queue.map(_.id).toSet,
      "cleanup cleared the queue")

    val afterPq = spark.read.parquet(pqTable.location).count()
    val afterJson = JobRunner.readTable(spark, jsonTable).count()
    val afterGz = JobRunner.readTable(spark, gzTable).count()
    check(afterPq == beforePq - expectPq,
      s"parquet rows $beforePq -> $afterPq (expected -$expectPq)")
    check(afterJson == beforeJson - expectJson,
      s"json rows $beforeJson -> $afterJson (expected -$expectJson)")
    check(afterGz == beforeJson - expectJson,
      s"gzip json rows -> $afterGz (expected ${beforeJson - expectJson})")
    check(Finder.matchedRows(spark,
      spark.read.parquet(pqTable.location), pqGroups).count() == 0,
      "no surviving parquet row matches")
    check(Finder.matchedRows(spark,
      JobRunner.readTable(spark, jsonTable), jsonGroups).count() == 0,
      "no surviving json row matches")

    // PROBE 1: zero-deletion invariant via the distributed path — a
    // "found" object with nothing to delete must emit ObjectUpdateFailed
    // (reference main.py:182-187), never silently succeed
    val cleanFile = Files.list(Paths.get(s"$lake/customer_pq"))
      .iterator().asScala.find(_.toString.endsWith(".parquet")).get.toString
    val probeEvents = DistributedRewrite.run(spark, "probe",
      Seq(ObjectWorkUnit("probe", cleanFile, "m_pq", DataFormat.Parquet,
        deleteOldVersions = true)), pqGroups)
    check(probeEvents.map(_.eventName) == Seq(JobEventName.ObjectUpdateFailed),
      "zero-deletion object -> ObjectUpdateFailed")
    check(graft.jobs.Jobs.fold("probe",
      probeEvents :+ JobEvent("probe", "9999999999999#999999",
        JobEventName.ForgetPhaseEnded, 0L)).status ==
      JobStatus.ForgetPartiallyFailed,
      "ForgetPhaseEnded after failure -> FORGET_PARTIALLY_FAILED")

    // PROBE 3: dedup-driven forget — cluster losers leave through REAL
    // per-batch deletion jobs (bounded queue feed, not one driver-side
    // collect): 30 duplicate clusters ⇒ 30 losers, batchSize=8 ⇒ 4 jobs
    locally {
      import spark.implicits._
      val docsDir = s"$lake/docs"
      val docs = ((0 until 30).flatMap(c => Seq(
          (c.toLong, s"duplicated body number $c " * 6),
          (100L + c, s"duplicated body number $c " * 6))) ++
        (200 until 220).map(i => (i.toLong, s"singleton body $i " * 6)))
        .toDF("doc_id", "text")
      docs.repartition(6).write.mode(SaveMode.Overwrite).parquet(docsDir)
      val docsTable = TableDef("docs", docsDir, DataFormat.Parquet,
        spark.read.parquet(docsDir).schema)
      val pairs = graft.llm.Dedup.exactDuplicates(
          spark.read.parquet(docsDir), "doc_id", "text")
        .select(col("keep_id").as("id_a"), explode(col("ids")).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      // snapshot the PRE-forget corpus and its derived artifacts (the
      // forget will rewrite the files underneath any lazy frame)
      val preSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val pre = spark.createDataFrame(
        spark.read.parquet(docsDir).select("doc_id", "text")
          .collect().toSeq.asJava, preSchema)
      val preIdx = graft.llm.IndexMaintain.indexWithOverflow(
        pre, "doc_id", "text", minDf = 2, maxDf = 25).persist()
      preIdx.count()
      val preCms = graft.llm.Sketch.countMinCounters(
        pre, "text", depth = 4, width = 512).persist()
      preCms.count()
      // materialize the loser ids BEFORE the forget rewrites the
      // files — `pairs`' lineage re-reads the (mutated) table
      val loserIds = pairs.select(col("id_b")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val dRun = graft.llm.DedupForget.forgetDuplicates(spark,
        "dedup-e2e", docsTable, "doc_id", pairs, batchSize = 8)
      check(dRun.status == JobStatus.Completed,
        s"dedup-forget folds to COMPLETED (got ${dRun.status})")
      check(dRun.batches.size == 4,
        s"30 losers at batchSize=8 -> ${dRun.batches.size} jobs (want 4)")
      check(dRun.stats.totalRowsDeletedCount == 30,
        s"dedup-forget deleted ${dRun.stats.totalRowsDeletedCount} rows " +
          "(want 30)")
      val survivors = spark.read.parquet(docsDir).count()
      check(survivors == 50,
        s"docs 80 -> $survivors after dedup-forget (want 50)")
      // PROBE 3b: the deletion PROPAGATES to derived artifacts — the
      // maintained inverted index and the subtracted CMS must equal
      // from-scratch builds on the post-forget table
      val post = spark.read.parquet(docsDir).select("doc_id", "text")
      val forgotten = pre.filter(col("doc_id").isin(loserIds: _*))
      def canonIdx(ix: org.apache.spark.sql.DataFrame) =
        ix.select(col("token"), col("df"),
          coalesce(concat_ws(",", transform(col("postings"),
            _.cast("string"))), lit("<overflow>")).as("p"))
      val mIdx = canonIdx(graft.llm.IndexMaintain.forgetFromIndex(
        preIdx, forgotten, post, "doc_id", "text", 2, 25))
      val rIdx = canonIdx(graft.llm.IndexMaintain.indexWithOverflow(
        post, "doc_id", "text", 2, 25))
      val idxDiff = mIdx.exceptAll(rIdx)
        .unionAll(rIdx.exceptAll(mIdx)).count()
      check(idxDiff == 0,
        s"maintained index == rebuilt index ($idxDiff rows differ)")
      val mCms = graft.llm.Sketch.cmsSubtract(preCms,
        graft.llm.Sketch.countMinCounters(forgotten, "text", 4, 512))
      val rCms = graft.llm.Sketch.countMinCounters(post, "text", 4, 512)
      val cmsDiff = mCms.exceptAll(rCms)
        .unionAll(rCms.exceptAll(mCms)).count()
      check(cmsDiff == 0,
        s"subtracted CMS == re-sketched CMS ($cmsDiff registers differ)")
      // ...and the session's newest linear artifacts propagate the
      // same way: the bit-length histogram and the bigram count
      // table (the collocation-serving artifact) subtract
      val lenCol = size(split(col("text"), " ")).cast("long")
      val mHist = graft.llm.Sketch.logHistogramSubtract(
        graft.llm.Sketch.logHistogramCounters(pre, lenCol),
        graft.llm.Sketch.logHistogramCounters(forgotten, lenCol))
      val rHist = graft.llm.Sketch.logHistogramCounters(post, lenCol)
      val histDiff = mHist.exceptAll(rHist)
        .unionAll(rHist.exceptAll(mHist)).count()
      check(histDiff == 0,
        s"subtracted histogram == rebuilt ($histDiff buckets differ)")
      def biCounts(d: org.apache.spark.sql.DataFrame) =
        d.select(filter(split(col("text"), " "),
            t => length(t) > 0).as("_ts"))
          .select(explode(graft.llm.TextStats.gramsOf(col("_ts"), 2))
            .as("ngram"))
          .groupBy(col("ngram")).agg(count(lit(1)).as("freq"))
      val mBi = graft.llm.TextStats.ngramCountsForget(
        biCounts(pre), forgotten, "text", n = 2)
      val rBi = biCounts(post)
      val biDiff = mBi.exceptAll(rBi)
        .unionAll(rBi.exceptAll(mBi)).count()
      check(biDiff == 0,
        s"forgotten bigram counts == rebuilt ($biDiff grams differ)")
      // PROBE 3c: the INSERT direction closes the loop — re-
      // ingesting the very rows the forget removed must bring the
      // maintained index back to the pre-forget artifact (the
      // insert-then-forget round trip, driven end-to-end: the index
      // here is maintained across a REAL forget then a re-ingest)
      val postForgetIdx = graft.llm.IndexMaintain.forgetFromIndex(
        preIdx, forgotten, post, "doc_id", "text", 2, 25)
      val reinserted = canonIdx(graft.llm.IndexMaintain.insertIntoIndex(
        postForgetIdx, forgotten, pre, "doc_id", "text", 2, 25))
      val preCanon = canonIdx(preIdx)
      val insDiff = reinserted.exceptAll(preCanon)
        .unionAll(preCanon.exceptAll(reinserted)).count()
      check(insDiff == 0,
        s"re-ingesting the forgotten rows restores the index " +
          s"($insDiff rows differ)")
      preIdx.unpersist(); preCms.unpersist()
    }

    // PROBE 4: PII-driven forget — find the objects whose text holds
    // PII, redact IN PLACE through the same distributed rewrite job
    // (rows survive, clean objects untouched)
    locally {
      import spark.implicits._
      val piiDir = s"$lake/piidocs"
      ((0 until 12).map(i =>
          (i.toLong, s"plain corpus text body number $i " * 4)) ++
        Seq((100L, "contact agent@corp.example.net or 555-123-4567 now"),
            (101L, "ssn on file: 123-45-6789 from host 10.0.0.9")))
        .toDF("doc_id", "text")
        .repartition(4).write.mode(SaveMode.Overwrite).parquet(piiDir)
      val before = spark.read.parquet(piiDir).count()
      val found = graft.llm.PiiForget.findObjects(
        spark.read.parquet(piiDir), "text")
      val pEvents = graft.llm.PiiForget.scrubObjects(spark, "pii-e2e",
        found.map(p => ObjectWorkUnit("pii-e2e", p, "pii",
          DataFormat.Parquet, false)),
        Seq("text"))
      check(pEvents.nonEmpty &&
        pEvents.forall(_.eventName == JobEventName.ObjectUpdated),
        s"pii scrub updated ${pEvents.size} objects cleanly")
      check(pEvents.map(_.statsDeleted).sum == 2,
        s"pii scrub redacted ${pEvents.map(_.statsDeleted).sum} rows (want 2)")
      val after = spark.read.parquet(piiDir)
      check(after.count() == before,
        "pii scrub preserves every row (scrub, not delete)")
      val residual = after.filter(
        graft.llm.PiiForget.anyPii(col("text"))).count()
      check(residual == 0, s"no residual PII rows (got $residual)")
    }

    // PROBE 2: uncastable match id ⇒ planning-time MatchIdCastingError
    val probe2 = try {
      val badGroups = Finder.plan(
        DataMapper("m2", "customer_pq", Seq("c_custkey")), pqTable,
        Seq(DeletionQueueItem("bad", MatchId.Simple("not-a-number"))))
      Finder.matchedFiles(spark,
        spark.read.parquet(pqTable.location), badGroups, DataFormat.Parquet)
        .collect()
      false
    } catch { case _: MatchIdCastingError => true }
    check(probe2, "uncastable match id -> MatchIdCastingError")

    println(if (failures.isEmpty) "== E2E PASS"
            else s"== E2E FAIL: ${failures.reverse.mkString("; ")}")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
