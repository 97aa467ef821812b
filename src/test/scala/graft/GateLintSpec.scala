package graft

/** Hard gate for the q51/q69/q70/q72 bug class: every gate row's
  * OUTPUT schema must be scalar hash-safe types only, and every
  * oracle `sum(` must be CAST-wrapped (see [[GateLint]]). Runs the
  * real [[SparkEntry.entries]] at sf0.001 — the same frames the driver
  * gate hashes at sf0.01 — and pins the entry table's own rules: one
  * entry per name, one selection rule, one job group per entry run. */
class GateLintSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("no gate query emits a float/decimal/array/map/struct column") {
    val violations = SparkEntry.selected(Nil).flatMap { e =>
      val schema =
        try e.run(spark, dir).schema
        catch { case ex: Throwable =>
          fail(s"${e.name} failed to build on $dir: ${ex.getMessage}")
        }
      GateLint.schemaViolations(e.name, schema)
    }
    assert(violations.isEmpty,
      s"gate-output type latitude:\n  ${violations.mkString("\n  ")}")
  }

  test("no oracle SQL carries a bare (un-CAST) sum aggregate") {
    val violations = SparkEntry.selected(Nil).flatMap { e =>
      val sql =
        try e.oracle(spark, dir)
        catch { case ex: Throwable =>
          fail(s"${e.name} oracle generation failed: ${ex.getMessage}")
        }
      GateLint.oracleViolations(e.name, sql)
    }
    assert(violations.isEmpty,
      s"oracle sum-widening hazards:\n  ${violations.mkString("\n  ")}")
  }

  test("a duplicate gate entry name is rejected") {
    val e = SparkEntry("q01_find_simple")
    val ex = intercept[IllegalArgumentException](
      SparkEntry.table(e, SparkEntry("q05_agg_stats"), e))
    assert(ex.getMessage.contains("q01_find_simple"), ex.getMessage)
    val names = SparkEntry.entries.map(_.name)
    assert(names.distinct.size == names.size)
    // a facet named like an entry would make a selection ambiguous
    assert(Bench.Facets.map(_.name).distinct.size == Bench.Facets.size &&
      !Bench.Facets.exists(f => names.contains(f.name)))
  }

  test("entries are picked by exact name; an unknown name fails") {
    val known = Set("a", "b", "c")
    val all = SparkEntry.only(Nil, known)
    assert(known.forall(all))
    val two = SparkEntry.only(Seq("a", " b ", ""), known)
    assert(two("a") && two("b") && !two("c"))
    val typo = intercept[IllegalArgumentException](
      SparkEntry.only(Seq("a", "d"), known))
    assert(typo.getMessage.contains("d"), typo.getMessage)
    assert(SparkEntry.selected(Seq("q05_agg_stats", "q01_find_simple"))
      .map(_.name) == Seq("q01_find_simple", "q05_agg_stats"))
    assert(SparkEntry.selected(Nil).size == SparkEntry.entries.size)
    // a substring is not a name
    intercept[IllegalArgumentException](SparkEntry.selected(Seq("q05")))
  }

  test("an entry run through its runner submits every Spark job under " +
    "its own name as job group") {
    val jobs = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.put(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    // the bus delivers in order: once a marker job's start arrives,
    // every job submitted before it has been seen
    def mark(tag: String): Seq[String] = {
      sc.setJobGroup(tag, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      var g = ""
      while (g != tag) {
        g = jobs.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(g != null, s"marker job $tag never reached the listener")
        if (g != tag) seen += g
      }
      seen.toSeq
    }
    sc.addSparkListener(listener)
    try {
      mark("before")
      // k-means: an eager fit (several collected jobs) plus the write
      val e = SparkEntry("q57_kmeans")
      e.inGroup(spark)(e.run(spark, dir)
        .write.format("noop").mode("overwrite").save())
      assert(sc.getLocalProperty("spark.jobGroup.id") == null,
        "the runner must clear the group")
      val groups = mark("after")
      assert(groups.size > 1, s"expected several jobs, saw $groups")
      assert(groups.forall(_ == e.name), groups.mkString(", "))
    } finally sc.removeSparkListener(listener)
  }

  test("every gate query has a RECORDED sf0.1 bench reading in " +
    "scripts/bench_ledger.json (the commit-time budget gate)") {
    // The r14 q125 lesson: a gate row landed with no bench reading
    // and turned out to cost 91.9 s (32% of the whole bench). This
    // lint makes the reading a precondition: a new gate entry fails
    // the suite until its sf0.1 entry-seconds is measured and
    // recorded (SPARK_GRAFT_ONLY=<name> bench run, then update the
    // ledger). Budget OVERRUNS stay the bench facet's job
    // (n_over_budget) — this gate only refuses UNMEASURED entries.
    val ledgerPath = java.nio.file.Paths.get("scripts/bench_ledger.json")
    assert(java.nio.file.Files.exists(ledgerPath),
      "scripts/bench_ledger.json missing")
    val ledger = ujsonKeys(new String(
      java.nio.file.Files.readAllBytes(ledgerPath), "UTF-8"))
    val gate = SparkEntry.entries.map(_.name).toSet
    val ledgerFacets = Bench.Facets.filter(_.ledger).map(_.name).toSet
    val unmeasured = gate -- ledger
    assert(unmeasured.isEmpty,
      s"gate entries with NO recorded sf0.1 bench reading: " +
        s"${unmeasured.toSeq.sorted.mkString(", ")} — run " +
        s"SPARK_GRAFT_ONLY=<name> graft.Bench at sf0.1 and record " +
        s"the seconds in scripts/bench_ledger.json before shipping")
    val stale = ledger -- gate -- ledgerFacets
    assert(stale.isEmpty,
      s"ledger rows without a gate entry (stale): $stale")
    // facets declared ledger-worthy must actually carry readings —
    // otherwise a facet can ship priced-nowhere exactly like a gate row
    val unmeasuredFacets = ledgerFacets -- ledger
    assert(unmeasuredFacets.isEmpty,
      s"declared ledger facets with NO recorded reading: $unmeasuredFacets")
  }

  /** Top-level keys of a flat JSON object {"name": 1.23, ...} without
    * a JSON dependency: good enough for the ledger's fixed shape. */
  private def ujsonKeys(s: String): Set[String] =
    "\"([^\"]+)\"\\s*:".r.findAllMatchIn(s).map(_.group(1)).toSet
}
