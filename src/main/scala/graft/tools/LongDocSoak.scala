package graft.tools

import graft.llm.{Bpe, Dedup, Packing, TextStats}
import graft.tools.Session.timed
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-document LENGTH soak for the map-side text operators — the
  * missing axis of [[DedupSoak]] (which grows doc COUNT): a per-row
  * complexity bug is invisible on the 54-token sf fixtures (a
  * superquadratic q125 counter passes the sf0.01 gate green)
  * and fatal on a real pre-training corpus, where single documents
  * run 10k–100k tokens. Fixed doc count, token length grows by the
  * scale arg; each operator's wall must grow near-linearly in LENGTH.
  *
  * The corpus plants the structures each operator's worst case feeds
  * on, all growing linearly with doc length:
  *
  *   - a repeated 4-token phrase every ~100 tokens (dup-4-gram
  *     coverage and top-gram runs for `repetitionSignals` — the
  *     sort + run-length path does real merging work);
  *   - a fixed 16-token boilerplate span every ~500 tokens shared
  *     with the ref split (so `scrubRefSpans`' covered-index set —
  *     and with it the surgery's except-set — grows linearly: the
  *     shape that melts a per-token membership scan);
  *   - vocab-drawn filler with stopwords (qualityFilter's counters).
  *
  * Criterion: `t(k×) / t(1×)` per operator well under `k²` (hard
  * requirement) and near `k` (reported as `near_linear`, time ratio
  * ≤ 2.5·k — slack for job overhead at the small end and log
  * factors). Scales are LENGTH multipliers of the 1,000-token base
  * (default "1,10,30"); `SPARK_GRAFT_SOAK_DOCS` sets the doc count
  * (default 960). */
object LongDocSoak {

  private val vocab: IndexedSeq[String] = (0 until 40).map { i =>
    val rnd = new java.util.Random(i * 0x9e3779b97f4a7c15L)
    (0 until 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  }
  // C4-ish stopwords qualityFilter counts (see TextStats.stopwords)
  private val stops = Seq("the", "and", "of", "to", "in")
  private val boiler: Seq[String] = (0 until 16).map(i => s"boil${i}er")

  /** Deterministic corpus: `nDocs` docs of ~`tokens` tokens each.
    * Generation is per-partition, seeded by doc id — no driver-side
    * materialization. Docs with id % 5 == 0 are the REF split; every
    * doc carries the shared boilerplate every ~500 tokens, so the
    * train split has ref-covered spans proportional to its length. */
  def corpus(spark: SparkSession, nDocs: Long, tokens: Int): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).mapPartitions { ids =>
      ids.map { boxed =>
        val id: Long = boxed
        val rnd = new java.util.Random(id * 0x9e3779b97f4a7c15L + 17)
        val phrase = Array.tabulate(4)(j => vocab((id % 7).toInt * 4 + j % 4))
        val buf = new scala.collection.mutable.ArrayBuffer[String](tokens + 32)
        while (buf.length < tokens) {
          val r = rnd.nextInt(100)
          if (r < 4 && buf.length % 97 < 4) buf ++= phrase
          else if (buf.length % 499 < 1) buf ++= boiler
          else if (r < 20) buf += stops(rnd.nextInt(stops.length))
          else buf += vocab(rnd.nextInt(vocab.length))
        }
        (id, buf.take(tokens).mkString(" "))
      }
    }.toDF("doc_id", "text")
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()

  def run(spark: SparkSession, scales: Seq[Int], args: Seq[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_SOAK_DOCS", "960").toLong
    val baseTokens = 1000

    // FIXED merge list (learning is corpus-iterative and not the
    // per-doc path under test; literals keep encode+pack the timed
    // part) — pairs that occur in the vocab's first chars
    val merges = vocab.take(12).map(w =>
      Bpe.Merge(w.substring(0, 1), w.substring(1, 2)))

    val ops: Seq[(String, DataFrame => Unit)] = Seq(
      "repetition_signals" -> (d =>
        noop(TextStats.repetitionSignals(d, "doc_id", "text"))),
      "repetition_stats" -> (d =>
        noop(TextStats.repetitionStats(d, "doc_id", "text", n = 2))),
      "text_stats" -> (d => noop(d.select(col("doc_id"),
        length(col("text")).as("text_chars"),
        (length(col("text")) -
          length(regexp_replace(col("text"), " ", ""))).as("n_spaces")))),
      "quality_filter" -> (d =>
        noop(TextStats.qualityFilter(d, "doc_id", "text"))),
      "tokenize_pack" -> (d =>
        noop(Packing.packSequences(Bpe.encode(d, "text", merges),
          "doc_id", col("n_bpe_tokens").cast("long"), seqLen = 256))),
      "ref_span_scrub" -> (d =>
        noop(Dedup.scrubRefSpans(
          d.filter(col("doc_id") % 5 =!= 0),
          d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", n = 8))),
      // every doc carries the shared boilerplate, so the covered set
      // (and the rebuild's except-set) grows linearly with length
      "remove_spans" -> (d =>
        noop(Dedup.removeRepeatedSpans(d, "doc_id", "text",
          windowTokens = 8, docFreqCap = 2))),
      // char-shingle span family (runs on docs/10 — see `fewer`
      // below: the occurrence frame is CHAR-scale): removed-interval
      // count grows linearly with length, so these catch any
      // accumulator-fold rebuild that re-copies the prefix per
      // interval (O(L·k)) as superlinear wall
      "span_coverage" -> (d =>
        noop(Dedup.dupSpanCoverage(d, "doc_id", "text",
          shingleLen = 16))),
      "span_surgery" -> (d =>
        noop(Dedup.dedupSpansKeepFirst(d, "doc_id", "text",
          shingleLen = 16))))
    val fewer = Set("span_coverage", "span_surgery")

    val report = new Soak.Report("longdoc")
    scales.foreach { k =>
      val toks = baseTokens * k
      val docs = corpus(spark, nDocs, toks).persist()
      docs.count() // materialize OUTSIDE the timed sections
      val small = corpus(spark, math.max(nDocs / 10, 32), toks).persist()
      small.count()
      val times = ops.map { case (name, run) =>
        val d = if (fewer(name)) small else docs
        run(d) // warm (codegen, broadcast)
        name -> (timed(run(d))._2.wall min timed(run(d))._2.wall)
      }.toMap
      // INDEX-SEARCH tier: the three index-query operators'
      // cost driver is positions-per-token, which grows with doc
      // length — build the positional + inverted indexes per scale
      // (outside the timed window: build cost is the exploded-positions
      // aggregation, soaked elsewhere) and run the searches with
      // deliberately HOT terms: 'the' ≈ 16% of all tokens (proximity's
      // sweep sees ~0.2·L events/doc), the boilerplate trigram recurs
      // every ~500 tokens (phrase's intersection lists grow ∝ L).
      val posIdx = TextStats.positionalIndex(docs, "doc_id", "text")
        .persist()
      posIdx.count() // index build OUTSIDE the timed sections
      val invIdx = TextStats.invertedIndex(docs, "doc_id", "text",
        minDf = 1).persist()
      invIdx.count()
      val idxRuns: Seq[(String, () => Unit)] = Seq(
        "proximity_search" -> (() => noop(TextStats.proximitySearch(
          posIdx, "doc_id", Seq("the", "and", "of"), window = 6))),
        "phrase_search" -> (() => noop(TextStats.phraseSearchIndexed(
          posIdx, "doc_id", Seq("boil0er", "boil1er", "boil2er")))),
        "conjunctive_search" -> (() => noop(TextStats.conjunctiveSearch(
          invIdx, nTerms = 3))))
      val idxTimes = idxRuns.map { case (name, run) =>
        run() // warm
        name -> (timed(run())._2.wall min timed(run())._2.wall)
      }.toMap
      posIdx.unpersist(); invIdx.unpersist()
      docs.unpersist(); small.unpersist()
      report.scale(k, Map("tokens_per_doc" -> toks.toDouble,
          "docs" -> nDocs.toDouble) ++
        (times ++ idxTimes).map { case (n, t) => s"${n}_sec" -> t })
    }

    val ratios = report.ratios()
    if (ratios.nonEmpty) {
      val kRatio = ratios("tokens_per_doc")
      val opRatios = ratios.toSeq.filter(_._1.endsWith("_sec")).sortBy(_._1)
      val superlinear = opRatios.filter(_._2 > 2.5 * kRatio).map(_._1)
      opRatios.foreach { case (name, r) =>
        require(r < kRatio * kRatio,
          s"$name grew QUADRATICALLY in doc length: ${f"$r%.1f"}× " +
            s"wall at ${kRatio.toInt}× tokens")
      }
      println(Soak.line("tier" -> "longdoc",
        "near_linear" -> superlinear.isEmpty,
        "superlinear_ops" -> superlinear))
    }
  }
}
