package graft

import graft.catalog.TableDef
import graft.find.Finder
import graft.forget.DistributedRewrite
import graft.model._
import graft.tools.{ParquetStats, Session}
import graft.tools.Session.{Timed, timed}
import org.apache.spark.sql.SaveMode
import scala.util.control.NonFatal

/** Benchmark main. Reports, on ONE JSON line:
  *
  *   - per-query wall time with FULL materialization (noop sink — a bare
  *     `count()` lets Catalyst prune every projection) and a per-query
  *     `ok` flag; any failure exits non-zero.
  *   - BASELINE facet (a): the Find column-scan ratio — bytes of the
  *     identifier column chunks vs the whole table (the reference's
  *     1.3-7% Athena scan claim, docs/COST_OVERVIEW.md:219,241).
  *   - BASELINE facet (b): Forget rewrite throughput — lineitem staged as
  *     64 objects, every object matched and rewritten by ONE
  *     [[DistributedRewrite]] job; objects/min + rows/s.
  */
object Bench {
  /** A bench reading that is not a gate entry. `ledger`: it carries an
    * entry-seconds reading in scripts/bench_ledger.json (GateLint's
    * stale-key check accepts a ledger key that is a gate entry or a
    * ledger facet). `soak`: long-running by design — it sits far above
    * the noise floor and, for the forget rungs, pins obj/min flatness
    * against object count — so the budget lint reports it under
    * `soak_entries`, not `n_over_budget`, which counts unexpected
    * overruns only, and `epoch_ratio` and `total_ex_soak` leave it
    * out. */
  final case class Facet(name: String, ledger: Boolean = true,
                         soak: Boolean = false)

  private val Forget64 = Facet("forget_rewrite_64obj")
  private val Forget1024 = Facet("forget_rewrite_1024obj")
  private val ForgetJson = Facet("forget_json_1024obj")
  private val PiiScrub = Facet("pii_scrub_64obj")
  private val FindJoinFallback = Facet("find_join_fallback")
  private val ModelLoadSearch = Facet("model_load_search")
  private val MediaDecode = Facet("media_decode")
  private val DsirStratFit = Facet("dsir_strat_fit")
  private val AnnRecall = Facet("ann_recall", ledger = false)
  private val Forget10240 = Facet("forget_rewrite_10240obj", soak = true)
  private val Forget40960 = Facet("forget_rewrite_40960obj", soak = true)

  val Facets: Seq[Facet] = Seq(Forget64, Forget1024, ForgetJson, PiiScrub,
    FindJoinFallback, ModelLoadSearch, MediaDecode, DsirStratFit, AnnRecall,
    Forget10240, Forget40960)

  private val soakNames: Set[String] =
    Facets.filter(_.soak).map(_.name).toSet

  /** A sampled facet's timed body and its untimed result check. */
  private final case class Sample(body: () => Unit,
                                  check: () => Boolean = () => true)

  /** One staged-rewrite facet's reading: the matched objects, the
    * median run's seconds and the rows processed and deleted (or
    * redacted) per run. */
  private final case class Rewrite(objects: Int, sec: Double, rows: Long,
                                   deleted: Long) {
    def objectsPerMin: Double = rate(objects * 60.0, sec)
    def rowsPerSec: Double = rate(rows.toDouble, sec)
  }

  // throughputs derive from the MEDIAN time (the published number) and
  // the per-run-identical row/object counts; 0 when a facet was
  // filtered out by SPARK_GRAFT_ONLY
  private def rate(n: Double, sec: Double): Double =
    if (sec > 0) n / sec else 0.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Dev filter for back-to-back A/B timing of one entry (the measured
    // round-over-round noise floor is ±24% — cross-round comparisons
    // cannot attribute small deltas, so perf work times the one entry
    // it touched, twice, in the same JVM state): comma-separated gate
    // entry or facet names; unset = run everything (the driver's mode).
    val wanted = SparkEntry.only(
      sys.env.get("SPARK_GRAFT_ONLY").toSeq.flatMap(_.split(",")),
      SparkEntry.entries.map(_.name).toSet ++ Facets.map(_.name))
    def wants(f: Facet): Boolean = wanted(f.name)
    val spark = Session(defaultCpus = 32)

    // untimed warmup: JVM/codegen/writer paths + the q21 partitioned
    // staging (a one-time layout cost, not query time)
    Session.warmup(spark)
    spark.read.parquet(s"$sfDir/region.parquet").write
      .format("noop").mode(SaveMode.Overwrite).save()
    graft.catalog.Staging.partitionedCustomer(spark, sfDir)

    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val ok = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // Per-entry process-CPU and GC attribution: wall time alone cannot
    // tell ambient machine contention from a real regression, so each
    // sample is a [[Session.Timed]] (wall, process-CPU and collector
    // deltas); the entry reports the MEDIAN-WALL sample's cpu and gc (a
    // coherent triple, not three independent medians).
    val entryCpu = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val entryGc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def medianTimed(samples: Seq[Timed]): Timed =
      samples.sortBy(_.wall).apply(samples.size / 2)
    def record(name: String, t: Timed): Unit = {
      times(name) = t.wall; entryCpu(name) = t.cpu; entryGc(name) = t.gc
    }
    // Throughput facets (forget rewrite, PII scrub) run FIRST — before
    // the query loop — so their readings are immune to in-run
    // contention (heap and page-cache pressure of the preceding entries
    // once halved pii_scrub_objects_per_min with no code change). Their
    // own warm-run protocol (untimed run 0) still covers JIT/writer
    // warmup.
    // facet (b): distributed forget throughput. Protocol per object
    // count: stage once, one untimed warm run, then median of
    // `timedRuns` timed runs, each over a fresh copy (see stagedRewrite).
    val stage = java.nio.file.Files.createTempDirectory("graft-bench-")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val table = TableDef("li", s"$stage/master64", DataFormat.Parquet,
      li.schema)
    val mapper = DataMapper("li", "li", Seq("l_returnflag"))
    val groups = Finder.plan(mapper, table,
      Seq(DeletionQueueItem("q", MatchId.Simple("R"))))

    def listFiles(dir: String, suffix: String): Seq[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val p = it.next().toString
          if (p.endsWith(suffix)) buf += p
        }
        buf.toSeq
      } finally s.close()
    }
    def copyDir(src: String, dst: String): Unit = {
      val from = java.nio.file.Paths.get(src)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
      val s = java.nio.file.Files.list(from)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (java.nio.file.Files.isRegularFile(p))
            java.nio.file.Files.copy(p,
              java.nio.file.Paths.get(dst, p.getFileName.toString))
        }
      } finally s.close()
    }
    def fileName(p: String): String = new java.io.File(p).getName

    /** Runs one staged-rewrite facet and records its median reading.
      * The rewrite MUTATES its objects (rows purged or redacted,
      * versions superseded) and a rerun over them would time a no-op
      * job (a second scrub pass is even a zero-change hard error), so
      * every run — the untimed warm-up run 0 included, when `warm` —
      * rewrites a FRESH copy of `master`. Work units are the `matched`
      * objects of a Find pass (untimed, once per staging): Forget only
      * ever receives Find's matched-file list, and the engine treats a
      * zero-deletion work unit as a hard error by design (reference
      * main.py:182-187). Rows are identical across runs by
      * construction; the count of matched objects is what throughputs
      * derive from. */
    def stagedRewrite(f: Facet, master: String, matched: Set[String],
                      mapperId: String, format: DataFormat,
                      timedRuns: Int = 3, warm: Boolean = true)
                     (rewrite: (String, Seq[ObjectWorkUnit]) => Seq[JobEvent])
        : Rewrite = {
      val suffix = if (format == DataFormat.Parquet) ".parquet" else ".json.gz"
      var allOk = true
      var rows, deleted = 0L
      val samples = scala.collection.mutable.ArrayBuffer.empty[Timed]
      for (run <- (if (warm) 0 else 1) to timedRuns) {
        val jobId = s"${f.name}-$run"
        val dir = s"$stage/$jobId/$mapperId"
        copyDir(master, dir)
        val units = listFiles(dir, suffix)
          .filter(p => matched(fileName(p)))
          .map(ObjectWorkUnit(jobId, _, mapperId, format, true))
        val (events, tm) = timed(rewrite(jobId, units))
        val updated = events.count(_.eventName == JobEventName.ObjectUpdated)
        if (updated != units.size) {
          allOk = false
          errors += s"${f.name}(run $run): " +
            s"only $updated/${units.size} objects updated"
        }
        if (run > 0) samples += tm
        rows = events.map(_.statsProcessed).sum
        deleted = events.map(_.statsDeleted).sum
      }
      val med = medianTimed(samples.toSeq)
      record(f.name, med)
      ok(f.name) = allOk
      Rewrite(matched.size, med.wall, rows, deleted)
    }

    val rewrites = scala.collection.mutable.Map.empty[Facet, Rewrite]
      .withDefaultValue(Rewrite(0, 0.0, 0L, 0L))
    /** Facet (b) at `nObjects` lineitem objects, matched by a Find pass
      * over the staged copy. */
    def forgetRung(f: Facet, nObjects: Int, timedRuns: Int,
                   warm: Boolean): Unit =
      if (wants(f)) {
        val master = s"$stage/master$nObjects"
        li.repartition(nObjects).write.mode(SaveMode.Overwrite)
          .parquet(master)
        val matched = Finder.matchedFiles(spark,
            spark.read.parquet(master), groups)
          .collect()
          .map(r => fileName(DistributedRewrite.stripScheme(r.getString(0))))
          .toSet
        rewrites(f) = stagedRewrite(f, master, matched, "li",
          DataFormat.Parquet, timedRuns, warm) { (jobId, units) =>
          DistributedRewrite.run(spark, jobId, units, groups)
        }
      }

    forgetRung(Forget64, 64, timedRuns = 3, warm = true)
    // at-scale forget: 1,024 objects in ONE job (the reference's
    // scenario-4 shape — 45k objects through a worker fleet,
    // docs/COST_OVERVIEW.md:288-290 — scaled to the bench box; exercises
    // per-task overhead: footer read, staging commit, version capture)
    forgetRung(Forget1024, 1024, timedRuns = 3, warm = true)

    // JSON-lines forget rung: the reference's scenario 5 — gzip JSON
    // objects, row-format table, full-scan Find, byte-preserving
    // raw-line rewrite (159 obj/min on their fleet,
    // docs/COST_OVERVIEW.md:302-322) — so a regression in the
    // text-mode rewrite path (DistributedRewrite raw-line + gzip
    // in/out) shows in the ledger. Lineitem staged as 1,024 gzip
    // JSON-lines objects, Find pass untimed (row-format Find is a full
    // scan by design).
    if (wants(ForgetJson)) {
      import org.apache.spark.sql.functions.{col, input_file_name}
      val master = s"$stage/json-master1024"
      li.repartition(1024).write.mode(SaveMode.Overwrite)
        .option("compression", "gzip").json(master)
      val jsonTable = TableDef("lij", master, DataFormat.JsonLines,
        li.schema)
      val jsonGroups = Finder.plan(
        DataMapper("lij", "lij", Seq("l_returnflag"),
          format = DataFormat.JsonLines),
        jsonTable, Seq(DeletionQueueItem("q", MatchId.Simple("R"))))
      // full-scan Find (scenario-5 semantics), untimed: declared
      // schema + the json reader, distinct containing files
      val matched = spark.read.schema(li.schema).json(master)
        .withColumn("_f", input_file_name())
        .filter(col("l_returnflag") === "R")
        .select(col("_f")).distinct().collect()
        .map(r => fileName(DistributedRewrite.stripScheme(r.getString(0))))
        .toSet
      rewrites(ForgetJson) = stagedRewrite(ForgetJson, master, matched,
        "lij", DataFormat.JsonLines) { (jobId, units) =>
        DistributedRewrite.run(spark, jobId, units, jsonGroups)
      }
    }

    // facet (c): PII scrub throughput — the redaction counterpart of
    // facet (b), through the same distributed rewrite machinery. The
    // documents corpus is staged as 64 objects with identifiers
    // planted on ~10% of rows (the corpus itself is PII-free); work
    // units come from the Find pass exactly like facet (b).
    if (wants(PiiScrub)) {
      import graft.llm.PiiForget
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      val master = s"$stage/pii-master"
      spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(col("text"),
              lit(" contact agent@corp.example.net or 555-123-4567")))
            .otherwise(col("text")))
        .repartition(64).write.mode(SaveMode.Overwrite).parquet(master)
      val matched = PiiForget
        .findObjects(spark.read.parquet(master), "text")
        .map(fileName).toSet
      rewrites(PiiScrub) = stagedRewrite(PiiScrub, master, matched,
        "docs", DataFormat.Parquet) { (jobId, units) =>
        PiiForget.scrubObjects(spark, jobId, units, Seq("text"))
      }
    }

    // Eager-stage the write-once shared artifacts (pairs/cluster/span
    // frames, serialized models, CDC feed files) BEFORE any timed
    // sample: a consumer entry's first sample must never pay another
    // entry's one-time artifact build. Untimed by design (a 100 TB
    // pipeline writes these once, outside any query's cost); skipped
    // when SPARK_GRAFT_ONLY selects no gate entry (e.g. forget-facet-
    // only A/B runs).
    val gate = SparkEntry.entries.filter(e => wanted(e.name)).sortBy(_.name)
    if (gate.nonEmpty) {
      val t0 = System.nanoTime()
      SparkEntry.stageSharedArtifacts(spark, sfDir)
      System.err.println(f"[bench] artifact staging (untimed): " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      // start the timed loop from a settled heap: the staging pass
      // just churned allocation across every artifact builder, and
      // residue-GC inside a first sample reads as query time
      System.gc()
    }

    // Median-of-3 per query: single-iteration timings ride on JIT/IO
    // noise (round-over-round ±40% wobble on untouched code paths made
    // regressions unattributable). The median absorbs a one-off slow
    // run without hiding a real slowdown the way min would.
    //
    // Drift convention: entries whose 3-sample median lands under
    // ~2 s are dominated by FIXED overhead (job submit, codegen, file
    // listing), where proportional variance is largest — untouched
    // sub-2 s entries have read 3× with zero code change. Those
    // entries take 2 extra samples (median-of-5); the per-entry
    // MINIMUM is additionally recorded in the detail file
    // (`query_mins`) as the noise floor — a real regression moves the
    // min, ambient contention only moves the median.
    val mins = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val cheapEntrySec = 2.0
    gate.foreach { e =>
      val samples = scala.collection.mutable.ArrayBuffer.empty[Timed]
      var failed = false
      var attempts = 0
      var lastElapsed = 0.0
      // latched: the 3→5 extension decision is made ONCE, when the
      // 3rd sample lands. Re-evaluating per iteration let a 4th
      // sample push the running median back over the threshold and
      // stop the loop at 4 samples — recording sorted(2) of 4, an
      // upper-middle value that is neither median-of-3 nor
      // median-of-5.
      var extended = false
      def maxAttempts: Int = {
        if (!extended && samples.size == 3 &&
            samples.map(_.wall).sorted.apply(1) < cheapEntrySec)
          extended = true
        if (extended) 5 else 3
      }
      while (attempts < maxAttempts && !failed) {
        val t0 = System.nanoTime()
        try {
          // only SUCCESSFUL runs enter the median: a failed attempt's
          // duration measures the failure, not the query, and would
          // contaminate `total` with fictitious work
          samples += e.inGroup(spark)(timed(e.run(spark, sfDir)
            .write.format("noop").mode(SaveMode.Overwrite).save()))._2
        } catch {
          case NonFatal(ex) =>
            failed = true
            lastElapsed = (System.nanoTime() - t0) / 1e9
            errors += s"${e.name}: ${String.valueOf(ex.getMessage).take(200)}"
        }
        attempts += 1
        // q29's cached prefix index must not accumulate across
        // iterations (or leak into the next query's timing)
        graft.llm.Dedup.releaseCaches()
      }
      ok(e.name) = !failed
      if (samples.nonEmpty) {
        record(e.name, medianTimed(samples.toSeq))
        mins(e.name) = samples.map(_.wall).min
      } else times(e.name) = lastElapsed
    }

    // facet (a): identifier-column scan ratio — (i) plan-side from the
    // parquet footers (bytes of the pruned column chunks), (ii) runtime
    // task input bytes actually read by a Find over lineitem. Note the
    // ratio is data-bound: on this 16-column synthetic lineitem the
    // l_orderkey chunk alone is ~24% of the compressed bytes (the
    // reference's 1.3-7% comes from wider production tables); the plan
    // reads exactly the identifier chunks, which IS the optimum.
    val conf = new org.apache.hadoop.conf.Configuration()
    val scanLineitem = ParquetStats.columnBytes(conf,
      s"$sfDir/lineitem.parquet", Seq("l_orderkey"))
    val scanCustomer = ParquetStats.columnBytes(conf,
      s"$sfDir/customer.parquet", Seq("c_custkey", "c_name"))
    val runtimeRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          runtimeRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    val findRuntimeRatio = {
      val liTable = TableDef("li0", s"$sfDir/lineitem.parquet",
        DataFormat.Parquet,
        spark.read.parquet(s"$sfDir/lineitem.parquet").schema)
      val g = Finder.plan(DataMapper("li0", "li0", Seq("l_orderkey")),
        liTable, Seq(DeletionQueueItem("q", MatchId.Simple("7"))))
      spark.sparkContext.addSparkListener(listener)
      try {
        Finder.matchedFiles(spark,
          spark.read.parquet(s"$sfDir/lineitem.parquet"), g)
          .write.format("noop").mode(SaveMode.Overwrite).save()
        Thread.sleep(500) // let the listener bus drain
      } finally spark.sparkContext.removeSparkListener(listener)
      runtimeRead.get().toDouble /
        math.max(1L, new java.io.File(s"$sfDir/lineitem.parquet").length())
    }

    /** Median-of-3 reading of `f`, same rationale as the query loop.
      * `prepare` runs once, untimed, and returns the timed body and its
      * untimed result check; a failure anywhere reads 0 s and not ok. */
    def sampled(f: Facet)(prepare: => Sample): Unit =
      if (wants(f)) try {
        val p = prepare
        record(f.name, medianTimed((1 to 3).map(_ => timed(p.body())._2)))
        ok(f.name) = p.check()
      } catch {
        case NonFatal(e) =>
          times(f.name) = 0.0
          ok(f.name) = false
          errors += s"${f.name}: ${String.valueOf(e.getMessage).take(200)}"
      }

    // at-scale Find fallback: a queue larger than InSetMaxKeys forces the
    // broadcast semi-join strategy (ONE scan + exploded keys + broadcast
    // left-semi — FinderSpec pins the plan shape; this facet times it on
    // real sf data). Keys 1..InSetMaxKeys+1 over l_orderkey guarantee
    // real matches; the check is that the fallback actually finds files.
    sampled(FindJoinFallback) {
      val liTable = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val queue = (1 to Finder.InSetMaxKeys + 1).map(i =>
        DeletionQueueItem(s"q$i", MatchId.Simple(i.toString)))
      val g = Finder.plan(
        DataMapper("lifb", "lifb", Seq("l_orderkey")),
        TableDef("lifb", s"$sfDir/lineitem.parquet", DataFormat.Parquet,
          liTable.schema),
        queue)
      Sample(
        () => Finder.matchedFiles(spark, liTable, g)
          .write.format("noop").mode(SaveMode.Overwrite).save(),
        () => Finder.matchedFiles(spark, liTable, g).count() > 0)
    }

    // production model-load path: load the STORED IVF-PQ model frame
    // from disk (the ModelIo round trip, bypassing the in-JVM memo) and
    // run the q82 search on the loaded copy. Training + store are q81's
    // price and happen untimed; the timed span is load + search — the
    // per-run cost of a pipeline that trains once and serves many.
    sampled(ModelLoadSearch) {
      import org.apache.spark.sql.functions.col
      SparkEntry.ivfPqModelCached(spark, sfDir) // untimed: train+store
      val path = graft.tools.ArtifactStore.pathOf(s"ivfpq:$sfDir").get
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Sample { () =>
        val m = graft.llm.ModelIo.loadIvfPq(spark.read.parquet(path))
        graft.llm.IvfPq.search(emb, emb.filter(col("vec_id") < 3),
          "vec_id", "embedding", m, nprobe = 2, k = 10)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
    }

    // media-decode facet: the LIVE synthesis + javax.imageio/javax.sound
    // decode + dHash64 fingerprint pass over both modalities — the
    // ingest-time cost q120/q121 do not carry because they band the
    // STORED fingerprint artifact (a pipeline fingerprints each media
    // object once, on ingest; the near-dup pass reads the store). One
    // facet prices both codecs so a decoder regression stays
    // ledger-visible.
    sampled(MediaDecode) {
      Sample { () =>
        SparkEntry.mkMediaFingerprints(spark, sfDir, "image")
          .write.format("noop").mode(SaveMode.Overwrite).save()
        SparkEntry.mkMediaFingerprints(spark, sfDir, "audio")
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
    }

    // stratified-DSIR fit facet: the LIVE per-language target fits + raw
    // background fit that q122 does not re-pay per sample (write-once
    // models, memoized like the other learned artifacts; q122 prices
    // the scoring projection). Driver-side result, so the timed span
    // is exactly the two fit jobs.
    sampled(DsirStratFit) {
      Sample(() => SparkEntry.mkDsirStratModels(spark, sfDir))
    }

    // facet (d): ANN recall at the BENCH sf. The q23/q30 oracles pin
    // EXACT-equality at the gate's sf0.01 only — this facet measures
    // whether the recall-tuned parameters (LSH bits/tables, IVF
    // nprobe) hold as the corpus scales, the number a production
    // tuning loop would watch. Reported as the MINIMUM recall@10 over
    // the query set (worst query, not an average that hides one).
    // ann_recall_ivf_min is now the AUTO-TUNED operator (the loop a
    // production index runs — target 0.95, nprobe raised until the
    // probe sample hits it), so the facet holds ≥0.95 at any sf by
    // construction; ann_recall_ivf_fixed14_min keeps the raw
    // fixed-nprobe reading (it erodes with scale: 1.0 at sf0.01 →
    // 0.9 at sf0.1) and ann_ivf_nprobe reports what the tuner paid.
    var (recallLsh, recallIvf, recallIvfFixed) = (-1.0, -1.0, -1.0)
    var recallPq = -1.0
    var recallPqRefined = -1.0
    var recallPqRefinedFixed = -1.0
    var recallIvfPqRefined = -1.0
    var recallIvfPqRaw = -1.0
    var ivfNprobe = -1
    var pqShortlist = -1
    var ivfPqNprobe = -1
    var ivfPqShortlist = -1
    if (wants(AnnRecall)) {
      import graft.llm.{RandomHyperplaneLsh, Similarity, SimilarityEval}
      import org.apache.spark.sql.functions.col
      try {
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val queries = emb.filter(col("vec_id") < 5)
        val exact = Similarity.bruteForceTopK(
          emb, queries, "vec_id", "embedding", 10).cache()
        exact.count()
        def minRecall(approx: org.apache.spark.sql.DataFrame): Double =
          SimilarityEval.recallAtK(approx, exact, "vec_id", 10)
            .agg(org.apache.spark.sql.functions.min(col("recall")))
            .head().getDouble(0)
        recallLsh = minRecall(RandomHyperplaneLsh(dim = 64, bits = 2,
          tables = 32).topK(emb, queries, "vec_id", "embedding", 10))
        recallIvfFixed = minRecall(Similarity.ivfTopK(emb, queries,
          "vec_id", "embedding", 10, nlist = 16, nprobe = 14,
          sampleSeed = 6))
        val (tuned, nprobe) = Similarity.ivfTopKAutoTuned(emb, queries,
          "vec_id", "embedding", 10, nlist = 16, targetRecall = 0.95,
          initialNprobe = 8, sampleSeed = 6)
        recallIvf = minRecall(tuned)
        ivfNprobe = nprobe
        // PQ is LOSSY, and near-uniform synthetic vectors are its
        // pathological case (no cluster structure for the codebook to
        // exploit — same story as IVF's nprobe≈nlist above): the raw
        // reconstruction recall is the honest compression-error
        // signal, the refined number (PQ shortlist + exact re-rank of
        // shortlist/n of the corpus) is what production watches.
        // Tuned by A/B at sf0.01 (refined@100): m=4/ksub=8 0.3,
        // m=8/8 0.6, m=16/8 0.8, m=16/16 0.9 — clustered real
        // embeddings would reach these numbers at far smaller codes.
        val cb = graft.llm.Pq.train(emb, "vec_id", "embedding",
          m = 16, ksub = 16, iters = 3)
        recallPq = minRecall(graft.llm.Pq.reconstructTopK(emb, queries,
          "vec_id", "embedding", cb, 10))
        // fixed shortlist=100: the raw reading, which erodes as the
        // corpus grows (0.9 at sf0.01 → 0.5 at sf0.1); the headline
        // refined facet is the AUTO-TUNED operator (target 0.95,
        // shortlist doubled until the probe sample hits it — ≥0.95 at
        // any sf by construction), with ann_pq_shortlist reporting
        // what the tuner paid.
        recallPqRefinedFixed = minRecall(graft.llm.Pq.refinedTopK(emb,
          queries, "vec_id", "embedding", cb, shortlist = 100, k = 10))
        // warm start: seed the walks at the growth rule this corpus'
        // own A/B series measured (paid shortlist ≈ n/5, nprobe ≈
        // nlist at sf0.1) — the tuner still measures recall, so the
        // facets keep their ≥target guarantee; cold-start doublings
        // would re-derive a known knob.
        val nEmb = emb.count()
        val seedShortlist = math.max(40L, nEmb / 5).toInt
        val (pqTuned, paidShortlist) = graft.llm.Pq.refinedTopKAutoTuned(
          emb, queries, "vec_id", "embedding", cb, k = 10,
          targetRecall = 0.95, initialShortlist = seedShortlist)
        recallPqRefined = minRecall(pqTuned)
        pqShortlist = paidShortlist
        // IVF-PQ tuned refine (the composed index's production path):
        // nprobe + shortlist walk in lockstep to the same target.
        val model = graft.llm.IvfPq.train(emb, "vec_id", "embedding",
          nlist = 16, m = 16, ksub = 16, iters = 3)
        // raw ADC ranking at a full probe — the composed index's
        // honest lossy signal (PQ-raw's counterpart; isolates the
        // residual-code resolution from any cell-miss effect)
        recallIvfPqRaw = minRecall(graft.llm.IvfPq.search(emb, queries,
          "vec_id", "embedding", model, nprobe = 16, k = 10))
        val (ivfPqTuned, paidNprobe, paidSl) =
          graft.llm.IvfPq.refinedSearchAutoTuned(emb, queries,
            "vec_id", "embedding", model, k = 10, targetRecall = 0.95,
            initialNprobe = 16, initialShortlist = seedShortlist)
        recallIvfPqRefined = minRecall(ivfPqTuned)
        ivfPqNprobe = paidNprobe
        ivfPqShortlist = paidSl
        exact.unpersist()
      } catch {
        case NonFatal(e) => errors += s"ann_recall: ${e.getMessage}"
      }
    }

    // ---- soak rungs run LAST: the 10,240- and 40,960-object rewrites
    // push 50k+ tasks and gigabytes of staging churn through the
    // shared JVM, and their heap/GC residue must not land inside any
    // timed query or facet sample. Every such sample completes before
    // the first soak task is scheduled; the soaks' own readings are
    // single-shot and 30-100 s by design, far above any residue the
    // query loop could leave in return.
    // soak: 10,240 objects in ONE job — the reference's scenario-3 scale
    // (10k objects, docs/COST_OVERVIEW.md:265-267) run directly. Long
    // enough (~10x the 1024 facet) that a single timed run sits above
    // the noise floor; the smaller facets already warmed every code
    // path, so one run, fresh staging, no median.
    forgetRung(Forget10240, 10240, timedRuns = 1, warm = false)
    // scale rung: 40,960 objects in ONE job — the shape the reference
    // runs at 45,300 objects (docs/COST_OVERVIEW.md:288). Same total
    // row math as every other rung (the full lineitem), 4× the object
    // count of the 10,240 soak at ~1/4 the rows per object — so obj/min
    // flat vs the 10,240 reading pins the per-object overhead (footer
    // read, staging commit, version capture) as the scaling direction,
    // the way the `cdc` soak tier pins state flatness.
    forgetRung(Forget40960, 40960, timedRuns = 1, warm = false)

    def jd(d: Double): String = f"$d%.4f"
    // ---- self-adjudication against the committed ledger: the bench
    // carries scripts/check.py's epoch-normalized instrument itself, so
    // a bench report arrives pre-adjudicated:
    // `epoch_ratio` (median of per-entry latest/ledger over non-soak
    // entries — robust to any single regressed entry), and per-entry
    // flags with BOTH signals (normalized median vs 1.3x/1.4x, the
    // absolute min floor) plus the work-vs-work cpu_ratio evidence.
    // FAIL needs both signals, the same AND-rule check.py applies.
    def readLedger(name: String): Map[String, Double] =
      try {
        val f = new java.io.File(s"scripts/$name")
        if (!f.exists()) Map.empty
        else {
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(f)
          val it = node.fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
          }
          b.result()
        }
      } catch { case NonFatal(_) => Map.empty }
    val ledger = readLedger("bench_ledger.json")
    val ledgerMins = readLedger("bench_ledger_mins.json")
    val ledgerCpu = readLedger("bench_ledger_cpu.json")
    // Content fingerprint of the ledger the flags were computed against:
    // it tells check.py whether the embedded adjudication is current
    // (file mtimes cannot, git checkouts rewrite them arbitrarily).
    val ledgerFingerprint: String =
      try {
        val f = java.nio.file.Paths.get("scripts/bench_ledger.json")
        if (!java.nio.file.Files.exists(f)) ""
        else java.security.MessageDigest.getInstance("SHA-256")
          .digest(java.nio.file.Files.readAllBytes(f))
          .take(8).map(b => f"$b%02x").mkString
      } catch { case NonFatal(_) => "" }
    val epochKeys = times.keys.toSeq.filter(k =>
      !soakNames(k) && times(k) > 0 &&
        ledger.get(k).exists(_ > 0)).sorted
    val epochRatio: Double =
      if (epochKeys.isEmpty) -1.0
      else {
        val rs = epochKeys.map(k => times(k) / ledger(k)).sorted
        rs(rs.size / 2)
      }
    /** (level, detail-json) per tripped entry; level 2 = FAIL (both
      * signals), 1 = WARN (one). */
    val perfFlags: Seq[(String, Int, String)] =
      if (epochRatio <= 0) Nil
      else times.keys.toSeq.sorted.flatMap { k =>
        ledger.get(k).filter(_ > 0).flatMap { led =>
          val cur = times(k)
          if (cur <= 0) None
          else {
            val thresh = if (led < 2.0) 1.4 else 1.3
            val norm = cur / epochRatio
            val medTrip = norm > led * thresh
            val minTrip = (mins.get(k), ledgerMins.get(k)) match {
              case (Some(cm), Some(om)) =>
                cm > om * thresh && cm - om > 0.5
              case _ => false
            }
            if (!medTrip && !minTrip) None
            else {
              val cpuR = (entryCpu.get(k), ledgerCpu.get(k)) match {
                case (Some(cc), Some(oc)) if oc > 0 => cc / oc
                case _ => -1.0
              }
              val detail =
                s""""$k":{"level":${if (medTrip && minTrip) 2 else 1},""" +
                s""""med_trip":$medTrip,"min_trip":$minTrip,""" +
                s""""median":${jd(cur)},"ledger":${jd(led)},""" +
                s""""norm":${jd(norm)},""" +
                s""""min":${jd(mins.getOrElse(k, -1.0))},""" +
                s""""min_ledger":${jd(ledgerMins.getOrElse(k, -1.0))},""" +
                s""""cpu":${jd(entryCpu.getOrElse(k, -1.0))},""" +
                s""""cpu_ledger":${jd(ledgerCpu.getOrElse(k, -1.0))},""" +
                s""""cpu_ratio":${jd(cpuR)},""" +
                s""""gc":${jd(entryGc.getOrElse(k, -1.0))}}"""
              Some((k, if (medTrip && minTrip) 2 else 1, detail))
            }
          }
        }
      }
    val perfFlagsJson =
      perfFlags.map(_._3).mkString("{", ",", "}")
    val nPerfFails = perfFlags.count(_._2 == 2)
    val nPerfWarns = perfFlags.count(_._2 == 1)
    val perfFailNames = perfFlags.filter(_._2 == 2).map(f =>
      "\"" + f._1 + "\"").mkString("[", ",", "]")

    def obj(kvs: Iterable[(String, Double)]): String =
      kvs.map { case (k, v) => s""""$k":${jd(v)}""" }.mkString("{", ",", "}")
    val qs = obj(times)
    val qMins = obj(mins)
    val qCpus = obj(entryCpu)
    val qGcs = obj(entryGc)
    val oks = ok.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val errJson = errors.map(e => "\"" +
      e.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\n\\r\\t]", " ") + "\"").mkString("[", ",", "]")
    val total = times.values.sum
    // per-entry budget lint: an entry that quietly adds >8 s to the run
    // is listed. A listing is a WARNING to the author, not a failure;
    // deliberate soaks (Facet.soak) go to `soak_entries`, and
    // `n_over_budget` counts UNEXPECTED overruns only.
    val entryBudgetSec = 8.0
    val overBudget = times.toSeq
      .filter { case (k, v) => v > entryBudgetSec && !soakNames(k) }
      .sortBy(-_._2)
    val overBudgetJson = obj(overBudget)
    // cpu/wall attribution for exactly the entries the budget lint
    // flags: an over-budget entry with cpu/wall far below its healthy
    // parallelism was starved of CPU (ambient contention), one whose
    // cpu grew with wall did real extra work.
    val overBudgetCpuJson =
      obj(overBudget.map { case (k, _) => k -> entryCpu.getOrElse(k, -1.0) })
    val soakJson = obj(times.filter(t => soakNames(t._1)))
    // round-over-round comparisons need the query total SEPARATED from
    // deliberate soak spend: adding a soak rung moves `value` without
    // any query regressing — `total_ex_soak` is the comparable series
    val totalExSoak = times.toSeq.filterNot(t => soakNames(t._1))
      .map(_._2).sum
    val Seq(r64, r1024, r10240, r40960, rJson, rPii) =
      Seq(Forget64, Forget1024, Forget10240, Forget40960, ForgetJson,
        PiiScrub).map(rewrites)
    val line =
      s"""{"metric":"total","value":${jd(total)},"unit":"sec",""" +
      s""""total_ex_soak":${jd(totalExSoak)},""" +
      s""""queries":$qs,"query_mins":$qMins,""" +
      s""""queries_cpu":$qCpus,"queries_gc":$qGcs,""" +
      s""""ok":$oks,"errors":$errJson,""" +
      s""""entries_over_budget":$overBudgetJson,""" +
      s""""entries_over_budget_cpu":$overBudgetCpuJson,""" +
      s""""n_over_budget":${overBudget.size},""" +
      s""""soak_entries":$soakJson,""" +
      s""""entry_budget_sec":${jd(entryBudgetSec)},""" +
      s""""epoch_ratio":${jd(epochRatio)},""" +
      s""""ledger_fingerprint":"$ledgerFingerprint",""" +
      s""""perf_flags":$perfFlagsJson,""" +
      s""""n_perf_fails":$nPerfFails,"n_perf_warns":$nPerfWarns,""" +
      s""""find_scan_ratio_lineitem":${jd(scanLineitem.ratio)},""" +
      s""""find_scan_ratio_customer":${jd(scanCustomer.ratio)},""" +
      s""""find_runtime_scan_ratio":${jd(findRuntimeRatio)},""" +
      s""""forget_objects":${r64.objects},""" +
      s""""forget_objects_per_min":${jd(r64.objectsPerMin)},""" +
      s""""forget_rows_per_sec":${jd(r64.rowsPerSec)},""" +
      s""""forget_rows_deleted":${r64.deleted},""" +
      s""""forget_1024_objects_per_min":${jd(r1024.objectsPerMin)},""" +
      s""""forget_1024_rows_per_sec":${jd(r1024.rowsPerSec)},""" +
      s""""forget_10240_objects_per_min":${jd(r10240.objectsPerMin)},""" +
      s""""forget_10240_rows_per_sec":${jd(r10240.rowsPerSec)},""" +
      s""""forget_40960_objects_per_min":${jd(r40960.objectsPerMin)},""" +
      s""""forget_40960_rows_per_sec":${jd(r40960.rowsPerSec)},""" +
      s""""forget_json_objects_per_min":${jd(rJson.objectsPerMin)},""" +
      s""""forget_json_rows_per_sec":${jd(rJson.rowsPerSec)},""" +
      s""""forget_json_rows_deleted":${rJson.deleted},""" +
      s""""pii_scrub_objects_per_min":${jd(rPii.objectsPerMin)},""" +
      s""""pii_scrub_rows_per_sec":${jd(rPii.rowsPerSec)},""" +
      s""""pii_scrub_rows_redacted":${rPii.deleted},""" +
      s""""ann_recall_lsh_min":${jd(recallLsh)},""" +
      s""""ann_recall_ivf_min":${jd(recallIvf)},""" +
      s""""ann_recall_ivf_fixed14_min":${jd(recallIvfFixed)},""" +
      s""""ann_recall_pq_min":${jd(recallPq)},""" +
      s""""ann_recall_pq_refined_min":${jd(recallPqRefined)},""" +
      s""""ann_recall_pq_refined_fixed100_min":${jd(recallPqRefinedFixed)},""" +
      s""""ann_recall_ivfpq_min":${jd(recallIvfPqRaw)},""" +
      s""""ann_recall_ivfpq_refined_min":${jd(recallIvfPqRefined)},""" +
      s""""ann_ivf_nprobe":$ivfNprobe,""" +
      s""""ann_pq_shortlist":$pqShortlist,""" +
      s""""ann_ivfpq_nprobe":$ivfPqNprobe,""" +
      s""""ann_ivfpq_shortlist":$ivfPqShortlist,""" +
      s""""sf":"$sfDir"}"""
    // The FULL per-query series goes to the file only: the driver
    // captures a bounded tail of stdout, and at 60 entries the full
    // line overflows it (an overflowing line parses to null). stdout
    // gets a ≲2 KB summary — total, counts, the headline facets, and
    // the most expensive queries — printed as the BARE LAST line so the
    // driver's JSON parse always lands.
    try {
      val out = java.nio.file.Paths.get("target/bench-latest.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] could not write bench-latest.json: $e")
    }
    // The full 140-entry map cannot arrive intact — the driver keeps
    // only the LAST 2000 stdout chars, and the names alone are ~4 KB —
    // so fill `queries` with as many entries as keep the WHOLE line
    // inside a conservative 1900-char budget: ~40 entries in
    // DESCENDING cost order, so the expensive (comparison-relevant)
    // entries always land and a round-over-round comparison has many
    // entries in common.
    val compactPrefix =
      s"""{"metric":"total","value":${jd(total)},"unit":"sec",""" +
      s""""total_ex_soak":${jd(totalExSoak)},""" +
      s""""n_queries":${times.size},"n_ok":${ok.values.count(identity)},""" +
      s""""n_errors":${errors.size},"queries":"""
    val compactSuffix =
      s""""n_over_budget":${overBudget.size},""" +
      s""""entries_over_budget_cpu":$overBudgetCpuJson,""" +
      s""""epoch_ratio":${jd(epochRatio)},""" +
      s""""n_perf_fails":$nPerfFails,"n_perf_warns":$nPerfWarns,""" +
      s""""perf_fails":$perfFailNames,""" +
      s""""find_runtime_scan_ratio":${jd(findRuntimeRatio)},""" +
      s""""forget_10240_objects_per_min":${jd(r10240.objectsPerMin)},""" +
      s""""forget_40960_objects_per_min":${jd(r40960.objectsPerMin)},""" +
      s""""forget_json_objects_per_min":${jd(rJson.objectsPerMin)},""" +
      s""""pii_scrub_objects_per_min":${jd(rPii.objectsPerMin)},""" +
      s""""ann_recall_lsh_min":${jd(recallLsh)},""" +
      s""""ann_recall_ivf_min":${jd(recallIvf)},""" +
      s""""ann_recall_pq_min":${jd(recallPq)},""" +
      s""""ann_recall_pq_refined_min":${jd(recallPqRefined)},""" +
      s""""ann_recall_ivfpq_min":${jd(recallIvfPqRaw)},""" +
      s""""ann_recall_ivfpq_refined_min":${jd(recallIvfPqRefined)},""" +
      s""""ann_ivf_nprobe":$ivfNprobe,""" +
      s""""ann_pq_shortlist":$pqShortlist,""" +
      s""""ann_ivfpq_nprobe":$ivfPqNprobe,""" +
      s""""ann_ivfpq_shortlist":$ivfPqShortlist,""" +
      s""""ledger_fingerprint":"$ledgerFingerprint",""" +
      s""""detail":"target/bench-latest.json","sf":"$sfDir"}"""
    val lineBudget = 1900
    val qsBudget = lineBudget - compactPrefix.length -
      compactSuffix.length - 3 // "{", "}," around the queries map
    val topQsBuf = new StringBuilder
    times.toSeq.sortBy(-_._2).foreach { case (k, v) =>
      val s = s""""$k":${jd(v)}"""
      val add = s.length + (if (topQsBuf.nonEmpty) 1 else 0)
      if (topQsBuf.length + add <= qsBudget) {
        if (topQsBuf.nonEmpty) topQsBuf.append(',')
        topQsBuf.append(s)
      }
    }
    val compact = compactPrefix + "{" + topQsBuf + "}," + compactSuffix
    println(compact)
    spark.stop()
    if (ok.values.exists(v => !v)) sys.exit(1)
  }
}
