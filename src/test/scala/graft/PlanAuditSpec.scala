package graft

import graft.catalog.TableDef
import graft.find.Finder
import graft.model._
import org.apache.spark.sql.execution.FileSourceScanExec

/** Physical-plan audits for the expensive paths — the 100 TB design
  * contract, asserted rather than eyeballed:
  *
  *   - the Find predicate reaches the parquet scan as PushedFilters
  *     (row-group stats pruning — the BASELINE column-scan claim needs it),
  *   - the scan projection is pruned to identifier columns,
  *   - the star join broadcasts its small sides,
  *   - hot paths run inside WholeStageCodegen.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private lazy val custFile = stageParquetFile(
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet"))

  test("find predicate pushes down to the parquet scan and prunes columns") {
    val data = spark.read.parquet(custFile)
    val table = TableDef("c", custFile, DataFormat.Parquet, data.schema)
    val mapper = DataMapper("m", "c", Seq("c_custkey"))
    val groups = Finder.plan(mapper, table,
      Seq(DeletionQueueItem("a", MatchId.Simple("7")),
        DeletionQueueItem("b", MatchId.Simple("23"))))
    val files = Finder.matchedFiles(spark, data, groups, DataFormat.Parquet)
    // sparkPlan (pre-AQE) exposes the scan node directly
    val scan = files.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no parquet scan"))
    // native-typed InSet reaches the data source (row-group stats prune)
    assert(scan.dataFilters.nonEmpty &&
      scan.dataFilters.mkString.contains("c_custkey"),
      s"no pushed data filter in: ${scan.dataFilters}")
    // projection pruned to the identifier column only
    assert(scan.requiredSchema.fieldNames.toSeq == Seq("c_custkey"),
      s"scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
  }

  test("star join broadcasts dimension sides and stays in codegen") {
    val df = SparkEntry("q09_join_star").run(
      spark, "/root/testdata/sf0.001")
    // execute THIS queryExecution (collect, not a separate write plan)
    // so AQE finalizes stages and assigns codegen ids
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no BHJ in:\n$plan")
    // codegen spans render as "*(n)" stage markers in the string plan
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"no codegen spans in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("find single-scan predicate plan has no shuffle for matchedRows") {
    val data = spark.read.parquet(custFile)
    val table = TableDef("c", custFile, DataFormat.Parquet, data.schema)
    val groups = Finder.plan(DataMapper("m", "c", Seq("c_custkey")), table,
      Seq(DeletionQueueItem("a", MatchId.Simple("7"))))
    val plan = Finder.matchedRows(spark, data, groups)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("exact Jaccard join (q29) plans equi-joins only — no cartesian " +
    "and no nested-loop over the full corpus") {
    val df = SparkEntry("q29_jaccard_exact").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // the candidate self-join keys on the shingle; join strategy must be
    // hash- or sort-based, never BroadcastNestedLoop over the data side
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in:\n$plan")
  }

  test("IVF top-k (q30) broadcasts the probed query side, no cartesian") {
    val df = SparkEntry("q30_ann_ivf").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), s"no broadcast join in:\n$plan")
  }

  test("text stats run as one codegen'd projection, no shuffle") {
    val plan = SparkEntry("q25_text_quality").run(
      spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"no codegen spans in:\n$plan")
  }

  test("deterministic sample (q32) is a map-only pushed filter — " +
    "no shuffle, no UDF") {
    val plan = SparkEntry("q32_det_sample").run(
      spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
      s"non-codegen eval in:\n$plan")
  }

  test("vocabulary top-k (q33) ranks via TakeOrdered, never a global " +
    "sort of the vocabulary") {
    val df = SparkEntry("q33_vocab_topk").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"no TakeOrderedAndProject in:\n$plan")
    // a Sort node would mean the full vocabulary is globally sorted
    assert(!"(?m)^\\s*[+:]?-?\\s*\\*?\\(?\\d*\\)?\\s*Sort ".r
        .findFirstIn(plan).isDefined,
      s"global sort in:\n$plan")
  }

  test("bm25 (q75) broadcasts the term table, reuses the dl exchange " +
    "for the L scalar, tokenizes the corpus at most twice, and cuts " +
    "top-k via TakeOrdered") {
    val df = SparkEntry("q75_bm25").run(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no BHJ in:\n$plan")
    // L = sum(dl) must ride the SAME shuffle as the dl length join —
    // the canonical-subtree contract bm25Frames pins with its
    // explicit null-id filter
    assert(plan.contains("ReusedExchange"),
      s"dl exchange not reused for L in:\n$plan")
    // corpus text feeds exactly tf + dl — a third tokenizing scan
    // means the reuse regressed (count the AQE FINAL plan only; the
    // string also embeds the pre-reuse initial plan)
    val finalPlan = plan.split("== Initial Plan ==").head
    val textScans = "ReadSchema: [^\\n]*text:string".r
      .findAllIn(finalPlan).size
    assert(textScans <= 2, s"$textScans text scans in:\n$finalPlan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k not TakeOrdered in:\n$plan")
  }

  test("k-term conjunctive search (q74) broadcasts the k-term pick " +
    "into the postings join") {
    val df = SparkEntry("q74_conjunctive_k").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no BHJ in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("phrase search from the positional index (q86) joins posting " +
    "frames on the doc id — equi-joins only, no cartesian, no " +
    "per-doc window") {
    val df = SparkEntry("q86_phrase_indexed").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in:\n$plan")
    assert(plan.contains("Join"), s"no join in:\n$plan")
    assert(!plan.contains("Window"), s"window op in:\n$plan")
  }

  test("proximity search (q87) likewise: equi-joins on the doc id, " +
    "the occurrence count a pure array expression") {
    val df = SparkEntry("q87_proximity_search").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in:\n$plan")
    assert(!plan.contains("Window"), s"window op in:\n$plan")
  }

  test("positional index (q85) aggregates with map-side partials and " +
    "never collects a term's corpus-wide list into one buffer row " +
    "per token (one output row per (token, doc))") {
    val df = SparkEntry("q85_positional_index").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // count distinct + the per-(token, doc) collect are hash
    // aggregations (partial_ markers = map-side combine present)
    assert(plan.contains("HashAggregate"), s"no hash agg in:\n$plan")
    assert(plan.contains("partial_"), s"no partial agg in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("LM surprisal scoring (q88/q89/q90) broadcasts every literal " +
    "cost table — the only shuffle is the per-doc aggregation's, and " +
    "partials combine map-side") {
    for (q <- Seq("q88_unigram_surprisal", "q89_bigram_surprisal",
        "q90_moore_lewis")) {
      val df = SparkEntry(q).run(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$q: no BHJ in:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q: cost-table join shuffled in:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian in:\n$plan")
      assert(plan.contains("partial_"), s"$q: no partial agg in:\n$plan")
      assert(!plan.contains("Window"), s"$q: window op in:\n$plan")
    }
  }

  test("DSIR scoring (q92) is ONE shuffle-free codegen'd projection — " +
    "no join, no explode-aggregate, no exchange of any kind") {
    val df = SparkEntry("q92_dsir").run(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"q92: shuffle in:\n$plan")
    assert(!plan.contains("Join"), s"q92: join in:\n$plan")
    assert(!plan.contains("Generate"), s"q92: explode in:\n$plan")
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"q92: no codegen span in:\n$plan")
  }

  test("leakage-safe split (q93) is one equi-join + a map-side hash " +
    "predicate — no window, no cartesian") {
    val df = SparkEntry("q93_leakage_split").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"q93: window in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q93: cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q93: nested loop in:\n$plan")
  }

  test("temperature mix (q94) keeps the q60 two-phase shape: the ONLY " +
    "exchange is the per-stratum merge over heap-pruned rows, quotas " +
    "ride a literal CASE (no quota-table join)") {
    val df = SparkEntry("q94_temperature_mix").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"q94: quota join in:\n$plan")
    assert(!plan.contains("Window"), s"q94: window in:\n$plan")
    assert(plan.contains("partial_"), s"q94: no partial agg in:\n$plan")
  }

  test("duplicated-span coverage (q95) windows PER DOCUMENT (always a " +
    "PARTITION BY), joins occurrences to dup grams hash/sort-based, " +
    "and aggregates with map-side partials") {
    val df = SparkEntry("q95_dup_coverage").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    // every Window node must carry a non-empty partition spec — a
    // GLOBAL window would single-task the corpus. Asserted on the
    // optimized logical plan (AQE wraps physical windows inside query
    // stages that TreeNode.collect does not traverse).
    val ws = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(ws.nonEmpty, "q95: expected the interval-union window")
    assert(ws.forall(_.partitionSpec.nonEmpty),
      s"q95: unkeyed window in:\n${df.queryExecution.optimizedPlan}")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"q95: cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q95: nested loop in:\n$plan")
    assert(plan.contains("partial_"), s"q95: no partial agg in:\n$plan")
  }

  test("hybrid RRF fusion (q98) never re-reads the corpus after the " +
    "rankings: no cartesian, no global unkeyed aggregation of corpus " +
    "rows — the fused frame is union + one hash agg + TakeOrdered") {
    val df = SparkEntry("q98_hybrid_rrf").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"q98: cartesian in:\n$plan")
    assert(plan.contains("TakeOrdered"),
      s"q98: fusion cut is not TakeOrdered in:\n$plan")
    // the corpus text feeds exactly tf + dl (the bm25 contract) —
    // fusion must not add another tokenizing pass. Count the AQE
    // FINAL plan only: the string also embeds the pre-reuse initial
    // plan (the q75 audit's convention)
    val finalPlan = plan.split("== Initial Plan ==").head
    val textScans = "ReadSchema: [^\\n]*text:string".r
      .findAllIn(finalPlan).size
    assert(textScans <= 2, s"q98: $textScans text scans in:\n$finalPlan")
  }

  test("index forget (q99) maintains via equi-joins only (token and " +
    "df-window update), with map-side partial aggregation and no " +
    "nested loop anywhere") {
    val df = SparkEntry("q99_index_forget").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"q99: cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q99: nested loop in:\n$plan")
    assert(plan.contains("partial_"), s"q99: no partial agg in:\n$plan")
  }

  test("PPS sample (q106) draws via the range-shuffle prefix sum — " +
    "NO window anywhere (the q37 contract); the only nested-loop " +
    "input is the broadcast 1-row totals frame") {
    val df = SparkEntry("q106_pps_sample").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val ws = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(ws.isEmpty,
      s"q106: window in:\n${df.queryExecution.optimizedPlan}")
    assert(!df.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("per-group percentiles (q104) rank under a KEYED window only; " +
    "rollup report (q105) is join-free with map-side partials") {
    val d104 = SparkEntry("q104_group_percentiles").run(
      spark, "/root/testdata/sf0.001")
    d104.collect()
    val ws = d104.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"q104: unkeyed window in:\n${d104.queryExecution.optimizedPlan}")
    val d105 = SparkEntry("q105_corpus_rollup").run(
      spark, "/root/testdata/sf0.001")
    d105.collect()
    val p105 = d105.queryExecution.executedPlan.toString
    assert(!p105.contains("Join"), s"q105: join in:\n$p105")
    assert(p105.contains("partial_"), s"q105: no partial agg in:\n$p105")
  }

  test("gram novelty (q110) builds and shuffles the exploded (doc, " +
    "gram) rows ONCE: one Generate, one gram-keyed exchange, no gram " +
    "expression pushed into the scan") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Aqe extends AdaptiveSparkPlanHelper
    // a synthetic documents table with unique AND shared grams (docs
    // 151..200 copy 1..50), so no branch is empty and AQE prunes none
    val dir = java.nio.file.Files.createTempDirectory("graft-q110-").toString
    (1L to 200L).map { i =>
      val r = new scala.util.Random(i % 150)
      (i, Seq.fill(20)(s"w${r.nextInt(30)}").mkString(" "))
    }.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val df = SparkEntry("q110_gram_novelty").run(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val gens = Aqe.collect(plan) { case g: GenerateExec => g }
    assert(gens.size == 1, s"${gens.size} Generate nodes in:\n$plan")
    // the generator grams the projected token column: a tokenizer
    // inlined into the gram lambda re-tokenizes per gram
    assert(!gens.head.generator.toString.contains("split("),
      s"generator re-tokenizes: ${gens.head.generator}")
    // a pushed `size(grams) > 0` filter would evaluate the gram
    // lambda a second time inside the scan
    val pushed = Aqe.collect(plan) { case s: FileSourceScanExec => s }
      .flatMap(_.dataFilters).map(_.toString)
    assert(!pushed.exists(_.contains("transform(")),
      s"gram expression in scan data filters: $pushed")
    val gramKeyed = Aqe.collect(plan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case h: HashPartitioning => h }
      .filter(_.expressions.exists {
        case a: Attribute => a.name == "_g"
        case _ => false
      })
    assert(gramKeyed.size == 1,
      s"${gramKeyed.size} gram-keyed exchanges in:\n$plan")
  }

  test("collocations (q108) rank via TakeOrdered over vocab-sized " +
    "equi-joins — no window, no cartesian; novelty (q110) joins " +
    "without windows and aggregates with map-side partials") {
    val d108 = SparkEntry("q108_collocations").run(
      spark, "/root/testdata/sf0.001")
    d108.collect()
    val w108 = d108.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(w108.isEmpty,
      s"q108: window in:\n${d108.queryExecution.optimizedPlan}")
    val p108 = d108.queryExecution.executedPlan.toString
    assert(p108.contains("TakeOrderedAndProject"),
      s"q108: no TakeOrdered in:\n$p108")
    assert(!p108.contains("CartesianProduct"), s"q108: cartesian:\n$p108")
    val d110 = SparkEntry("q110_gram_novelty").run(
      spark, "/root/testdata/sf0.001")
    d110.collect()
    val w110 = d110.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(w110.isEmpty,
      s"q110: window in:\n${d110.queryExecution.optimizedPlan}")
    val p110 = d110.queryExecution.executedPlan.toString
    assert(!p110.contains("CartesianProduct"), s"q110: cartesian:\n$p110")
    assert(p110.contains("partial_"), s"q110: no partial agg in:\n$p110")
    // per-group top-k (q111): the two-phase partials replace the
    // oracle's keyed ROW_NUMBER — no window node at all
    val d111 = SparkEntry("q111_top_tokens_by_group").run(
      spark, "/root/testdata/sf0.001")
    d111.collect()
    val w111 = d111.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(w111.isEmpty,
      s"q111: window in:\n${d111.queryExecution.optimizedPlan}")
    // weighted sparse pairs (q112): AllPairs equi-joins on the term
    // only, TakeOrdered cut — no window, no cartesian
    val d112 = SparkEntry("q112_tfidf_pairs").run(
      spark, "/root/testdata/sf0.001")
    d112.collect()
    val w112 = d112.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(w112.isEmpty,
      s"q112: window in:\n${d112.queryExecution.optimizedPlan}")
    val p112 = d112.queryExecution.executedPlan.toString
    assert(p112.contains("TakeOrderedAndProject"),
      s"q112: no TakeOrdered in:\n$p112")
    assert(!p112.contains("CartesianProduct"), s"q112: cartesian:\n$p112")
    // contamination share (q113): equi-joins only, no window
    val d113 = SparkEntry("q113_ref_overlap").run(
      spark, "/root/testdata/sf0.001")
    d113.collect()
    val w113 = d113.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(w113.isEmpty,
      s"q113: window in:\n${d113.queryExecution.optimizedPlan}")
    assert(!d113.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("histogram percentile sketch (q109): the one unkeyed window " +
    "runs over the POST-AGGREGATION bucket frame (<= 65 rows by " +
    "construction), never the corpus") {
    val d109 = SparkEntry("q109_hist_percentiles").run(
      spark, "/root/testdata/sf0.001")
    d109.collect()
    val ws = d109.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(ws.size == 1,
      s"q109: expected one window:\n${d109.queryExecution.optimizedPlan}")
    // the window's input subtree must already have aggregated the
    // corpus down to the bucket counters
    val aggsBelow = ws.head.child.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggsBelow.nonEmpty,
      s"q109: window over unaggregated input:\n${ws.head}")
    assert(!d109.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("interval-overlap join (q103) is a hash equi-join on the " +
    "bucket id — never a nested loop over session pairs") {
    val df = SparkEntry("q103_interval_join").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"q103: cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q103: nested loop in:\n$plan")
  }

  test("one-copy span dedup (q102) windows PER DOCUMENT only (the " +
    "canonical pick is an aggregation, never a per-gram sort), joins " +
    "hash/sort-based, map-side partials present") {
    val df = SparkEntry("q102_span_dedup").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val ws = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(ws.nonEmpty, "q102: expected the interval-merge windows")
    assert(ws.forall(_.partitionSpec.nonEmpty),
      s"q102: unkeyed window in:\n${df.queryExecution.optimizedPlan}")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"q102: cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q102: nested loop in:\n$plan")
    assert(plan.contains("partial_"), s"q102: no partial agg in:\n$plan")
  }

  test("positional forget (q101) maintains via equi-joins only, " +
    "aggregates with map-side partials, no nested loop, and its " +
    "windows (if any) are always keyed") {
    val df = SparkEntry("q101_positional_forget").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"q101: cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q101: nested loop in:\n$plan")
    assert(plan.contains("partial_"), s"q101: no partial agg in:\n$plan")
    val ws = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(ws.forall(_.partitionSpec.nonEmpty),
      s"q101: unkeyed window in:\n${df.queryExecution.optimizedPlan}")
  }

  test("curation v2 (q117) serves both gram screens from ONE shared " +
    "census exchange — reused by every consumer, and the plan reads " +
    "fewer bytes than the unfused per-screen composition it replaced") {
    val sfDir = "/root/testdata/sf0.001"
    // Task inputMetrics count file AND cache reads; that is
    // apples-to-apples here because neither composition persists
    // census frames (the only cache on either side is
    // jaccardPairsExact's internal prefix index, present in both).
    def measure(build: => org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Long) = {
      val read = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            read.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        // build INSIDE the window: docClusters' MinHash pass runs
        // eagerly at construction and must be accounted too
        val d = build
        d.collect()
        Thread.sleep(500) // let the listener bus drain
        (d, read.get())
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // The stored cluster artifact is write-once per corpus, staged
    // before any timing by Bench and Plans: build it here with one
    // untimed run of the entry, so the fused side reads the same stored
    // frame whether or not an earlier test already built it.
    SparkEntry("q117_curation_v2").run(spark, sfDir).collect()
    graft.llm.Dedup.releaseCaches()
    val (df, fusedBytes) =
      measure(SparkEntry("q117_curation_v2").run(spark, sfDir))
    graft.llm.Dedup.releaseCaches()
    val plan = df.queryExecution.executedPlan.toString
    // all census consumers hang off ONE repartition(gram) exchange:
    // ReuseExchange must serve at least one of them from the shared
    // materialization (a screen that re-derived its own grams would
    // tokenize from the file on a fresh exchange instead)
    assert(plan.contains("ReusedExchange") ||
        plan.contains("ReusedQueryStage") ||
        "ShuffleQueryStage \\d+".r.findAllIn(plan).toSeq
          .groupBy(identity).exists(_._2.size >= 2),
      s"census exchange not reused in:\n$plan")
    // runtime byte differential — the 100 TB claim in numbers: replay
    // the PRE-census composition (each screen tokenizing the corpus
    // from scratch, two separate semi-joins) under the same listener
    // and require the census-served plan to read strictly fewer file
    // bytes. Self-calibrating: per-scan fixed costs (footers, tiny-SF
    // dictionary pages) hit both sides equally.
    import org.apache.spark.sql.functions._
    val (_, unfusedBytes) = measure {
      import graft.llm.{Dedup, TextStats}
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val bench = docs.filter(col("doc_id") % 5 === 0)
      val losers = Dedup.duplicateClusters(
          Dedup.jaccardPairsExact(docs, "doc_id", "text",
            shingleLen = 16, threshold = 0.8), "id_a", "id_b")
        .filter(col("id_a") =!= col("cluster_id"))
        .select(col("id_a").as("doc_id"))
      val clean = TextStats.refGramOverlap(train, bench,
          "doc_id", "text", n = 8)
        .filter(col("overlap_micro") < 500000).select("doc_id")
      val novel = TextStats.gramNovelty(train, "doc_id", "text", n = 8)
        .filter(col("novelty_micro") >= 250000).select("doc_id")
      train.filter(TextStats.qualityKeep(col("text")))
        .join(losers, Seq("doc_id"), "left_anti")
        .join(clean, Seq("doc_id"), "left_semi")
        .join(novel, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"))
    }
    graft.llm.Dedup.releaseCaches()
    assert(fusedBytes < unfusedBytes,
      s"census-served q117 read $fusedBytes bytes, not fewer than the " +
        s"unfused composition's $unfusedBytes — artifact reuse regressed")
  }

  test("index insert (q118) maintains via equi-joins only — no " +
    "cartesian, no nested loop, map-side partials — and its per-token " +
    "update never windows") {
    val df = SparkEntry("q118_index_insert").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"q118: cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q118: nested loop in:\n$plan")
    assert(plan.contains("partial_"), s"q118: no partial agg in:\n$plan")
    val ws = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(ws.isEmpty, s"q118: window in:\n${df.queryExecution.optimizedPlan}")
  }

  test("positional insert (q119): equi-joins only, keyed or absent " +
    "windows, no cartesian") {
    val df = SparkEntry("q119_positional_insert").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"q119: cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q119: nested loop in:\n$plan")
    val ws = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(ws.forall(_.partitionSpec.nonEmpty),
      s"q119: unkeyed window in:\n${df.queryExecution.optimizedPlan}")
  }

  test("perceptual near-dedup (q120/q121) pairs through the banded " +
    "engine — hash equi-joins on the chunk, never a fingerprint " +
    "cross product") {
    Seq("q120_image_near_dedup", "q121_audio_near_dedup").foreach { q =>
      val df = SparkEntry(q).run(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q: nested loop in:\n$plan")
      // ★r19: the entry reads the STORED fingerprint artifact (a
      // parquet scan — the decode-once store a 100 TB pipeline
      // writes at ingest), never a live synthesize+decode pass (no
      // SerializeFromObject/mapPartitions subtree in the plan)
      assert(plan.contains("FileScan parquet") ||
          plan.contains("Scan parquet"),
        s"$q: no stored-artifact scan in:\n$plan")
      assert(!plan.contains("SerializeFromObject"),
        s"$q: live media derivation in:\n$plan")
    }
  }

  test("pipeline entries serve duplicate clusters from the STORED " +
    "artifact (derived + written once per dir), never by re-running " +
    "clustering inline") {
    val sfDir = "/root/testdata/sf0.001"
    // first consumer builds the artifact (derive + parquet write)...
    SparkEntry("q65_dup_profile").run(spark, sfDir).collect()
    graft.llm.Dedup.releaseCaches()
    // ...every later consumer's plan must READ it: the losers branch
    // is a FileScan of the artifact path, not a MinHash/CC subtree
    Seq("q66_curation_pipeline", "q93_leakage_split",
        "q117_curation_v2", "q124_curation_v3").foreach { q =>
      val df = SparkEntry(q).run(spark, sfDir)
      df.collect()
      graft.llm.Dedup.releaseCaches()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft-cluster-artifact-"),
        s"$q clusters not served from the stored artifact in:\n$plan")
    }
    // same contract one level down: the span family's coverage/
    // surgery entries consume the STORED span census (q129 owns it).
    // q31's pairs-artifact read is NOT plan-assertable — its
    // connected components run iterative driver-side rounds over
    // localCheckpoints, so the final plan reads a checkpoint RDD;
    // the stored-pairs consumption shows in the bench split instead
    // (q29 prices the census, q31 1.3 s prices CC).
    Seq("q95_dup_coverage" -> "graft-span-census-",
        "q102_span_dedup" -> "graft-span-census-").foreach {
      case (q, marker) =>
        val df = SparkEntry(q).run(spark, sfDir)
        df.collect()
        graft.llm.Dedup.releaseCaches()
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains(marker),
          s"$q not served from the stored artifact ($marker) in:\n$plan")
    }
  }

  test("curation v3 (q124): the scrubbed frame is computed ONCE and " +
    "shared by its consumers (quality filter + novelty census + " +
    "roster) instead of re-executing the scrub per consumer; no " +
    "cartesian") {
    val df = SparkEntry("q124_curation_v3").run(
      spark, "/root/testdata/sf0.001")
    df.collect()
    graft.llm.Dedup.releaseCaches()
    val plan = df.queryExecution.executedPlan.toString
    // ★r21: the scrub is MATERIALIZED (localCheckpoint) at the
    // stored-intermediate seam, so consumers read the checkpointed
    // rows (`Scan ExistingRDD`) — a strictly stronger guarantee than
    // the former runtime exchange reuse; the scrub's own window
    // machinery must no longer appear in the consuming plan at all
    assert(plan.contains("ExistingRDD") ||
        plan.contains("ReusedExchange") ||
        plan.contains("ReusedQueryStage") ||
        "ShuffleQueryStage \\d+".r.findAllIn(plan).toSeq
          .groupBy(identity).exists(_._2.size >= 2),
      s"scrubbed frame neither materialized nor reused in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q124: cartesian in:\n$plan")
  }

  test("CMS forget (q100) is two bounded counter aggregations and one " +
    "register-wise merge — state never exceeds depth×width rows, no " +
    "joins at all") {
    val df = SparkEntry("q100_cms_forget").run(
      spark, "/root/testdata/sf0.001")
    val out = df.collect()
    assert(out.length <= 4 * 1024, s"q100: ${out.length} registers")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"q100: join in:\n$plan")
    assert(plan.contains("partial_"), s"q100: no partial agg in:\n$plan")
  }

}
