package graft.tools

import graft.llm.{IndexMaintain, TextStats}
import graft.streaming.StreamingIndex
import graft.tools.Session.timed
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale soak for the streaming CDC index loop — the missing scale
  * evidence for the lifecycle matrix's STREAM axis (build / forget /
  * insert are soaked by [[IndexForgetSoak]], the CDC operator was
  * spec-and-gate only): drive the [[DedupSoak]] adversarial corpus
  * through [[StreamingIndex.invertedIndexCdc]] — ingest everything,
  * then forget HALF the hot-boilerplate carriers (10% of the corpus)
  * — and require the max-seq snapshot to equal the batch index built
  * FROM SCRATCH on the net corpus, at every scale.
  *
  * The corpus's ~20 boilerplate tokens are census-scale hot keys
  * (df = n/5): they overflow immediately (maxDf = 200), exercise the
  * marker path at scale, and the forget batch halves their df while
  * keeping them over the window — honest markers with exact net df
  * at census scale (full tombstone + re-ingest is spec-pinned). The random vocabulary
  * stays in-window and must match the batch build token-for-token,
  * posting-for-posting.
  *
  * Reported per scale: ingest + forget wall seconds, end-to-end
  * docs/min through the stateful operator, snapshot row count, and
  * the assertion verdicts. Near-linear wall growth in corpus size is
  * the scale criterion (state is vocabulary-keyed; per-batch work is
  * batch-sized).
  *
  * A CHURN tier follows the scale runs: a production CDC feed
  * cycles forget→re-ingest on the same keys for months, so one
  * long-lived query drives N cycles over the base corpus, asserting
  * after EVERY half-cycle that the snapshot equals the batch build on
  * the then-net corpus, and that the state-store row count is FLAT
  * across cycles — state is keyed by vocabulary (tombstones shrink to
  * seq-only, they never leave), which is the operator's core memory
  * claim; this verifies it empirically.
  *
  * Usage: `runMain graft.tools.Soak cdc [scales] [churnCycles]`
  * (defaults "1,10" — multiples of the 5,000-doc sf0.1 documents
  * shape — and 4 cycles). */
object CdcSoak {

  private val MaxDf = 200

  /** (token, df) over a corpus: each token's document frequency. */
  private def tokenDf(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), explode(array_distinct(
        filter(TextStats.tokens(col("text")), t => length(t) > 0)))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("_dff"))

  /** The max-seq snapshot of a CDC memory sink, tombstones dropped by
    * the reader rule. */
  private def latest(spark: SparkSession, queryName: String): DataFrame =
    spark.table(queryName)
      .withColumn("_rn", row_number().over(Window
        .partitionBy("token").orderBy(col("seq").desc)))
      .filter(col("_rn") === 1 && col("df") > 0)

  // Canonical (token, df, p) rows of each index shape. concat_ws over a
  // NULL array yields "" (never NULL), so the marker branch tests the
  // array itself. The batch truths mark a token as overflow when its
  // FULL-corpus df exceeds maxDf (`_dff`, joined from [[tokenDf]]):
  // ingests precede forgets, so peak df = full df.
  private def invCanon(snap: DataFrame): DataFrame = snap
    .select(col("token"), col("df"),
      when(col("postings").isNull, lit("<overflow>"))
        .otherwise(concat_ws(",", transform(col("postings"),
          _.cast("string")))).as("p"))

  private def invTruth(corpus: DataFrame, dfFull: DataFrame): DataFrame =
    TextStats.invertedIndex(corpus, "doc_id", "text",
        minDf = 1, maxDf = Int.MaxValue)
      .join(dfFull, "token")
      .select(col("token"), col("df"),
        when(col("_dff") > MaxDf, lit("<overflow>"))
          .otherwise(concat_ws(",", transform(col("postings"),
            _.cast("string")))).as("p"))

  private def posCanon(snap: DataFrame): DataFrame = snap
    .select(col("token"), col("df"),
      when(col("docs").isNull, lit("<overflow>"))
        .otherwise(concat_ws(";", transform(col("docs"), e =>
          concat_ws(":", e.getField("doc_id").cast("string"),
            concat_ws(",", transform(e.getField("positions"),
              _.cast("string"))))))).as("p"))

  private def posTruth(corpus: DataFrame, dfFull: DataFrame): DataFrame =
    IndexMaintain
      .positionalIndexWithOverflow(corpus, "doc_id", "text",
        minDf = 1, maxDf = Int.MaxValue)
      .join(dfFull, "token")
      .groupBy(col("token"))
      .agg(max(col("df")).as("df"), max(col("_dff")).as("_dff"),
        sort_array(collect_list(when(col("doc_id").isNotNull,
          struct(col("doc_id"), col("positions"))))).as("_rows"))
      .select(col("token"), col("df"),
        when(col("_dff") > MaxDf, lit("<overflow>"))
          .otherwise(concat_ws(";", transform(col("_rows"), e =>
            concat_ws(":", e.getField("doc_id").cast("string"),
              concat_ws(",", transform(e.getField("positions"),
                _.cast("string"))))))).as("p"))

  private def symDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).unionAll(b.exceptAll(a)).count()

  /** The two CDC index shapes: name, operator, canonical snapshot rows
    * and batch truth. */
  private val shapes: Seq[(String, DataFrame => Dataset[_],
      DataFrame => DataFrame, (DataFrame, DataFrame) => DataFrame)] = Seq(
    ("inverted", df => StreamingIndex.invertedIndexCdc(
      df, "op", "doc_id", "text", maxDf = MaxDf), invCanon, invTruth),
    ("positional", df => StreamingIndex.positionalIndexCdc(
      df, "op", "doc_id", "text", maxDf = MaxDf), posCanon, posTruth))

  def run(spark: SparkSession, scales: Seq[Int], args: Seq[String]): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val churnCycles = args.headOption.map(_.trim.toInt).getOrElse(4)
    val baseDocs = 5000L
    // starts `shape` on a fresh memory stream: (stream, running query)
    def start(shape: DataFrame => Dataset[_], queryName: String) = {
      val stream = MemoryStream[(Int, Long, String)]
      val query = shape(stream.toDF().toDF("op", "doc_id", "text"))
        .writeStream.format("memory").queryName(queryName)
        .outputMode("update").start()
      (stream, query)
    }

    val report = new Soak.Report("cdc")
    scales.foreach { k =>
      val n = baseDocs * k
      // driver-side feed rows (bounded: ~50 tokens/doc of 6 chars)
      val docs = DedupSoak.corpus(spark, n)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      // HALF the boilerplate carriers: hot tokens stay hot (net df =
      // n/10 > maxDf) so the marker path is exercised at census scale
      val dead = docs.filter(_._1 % 10 == 3).map(_._1).toSet
      val feed =
        docs.map { case (i, x) => (1, i, x) }.grouped(2000).toSeq ++
          docs.filter(d => dead(d._1))
            .map { case (i, x) => (-1, i, x) }.grouped(2000).toSeq
      val full = DedupSoak.corpus(spark, n)
      val net = full.filter(!(col("doc_id") % 10 === 3))
      val dfFull = tokenDf(full)
      // each shape drives the whole feed through one query; its
      // snapshot must equal the batch build on the net corpus
      val Seq((sec, nSnap, nMarkers), (psec, _, _)) =
        shapes.map { case (shape, mk, canon, truth) =>
          val qn = s"cdc_soak_${shape}_$k"
          val (stream, query) = start(mk, qn)
          val (_, t) = timed {
            try feed.foreach { b =>
              stream.addData(b); query.processAllAvailable()
            } finally query.stop()
          }
          val snap = canon(latest(spark, qn)).persist()
          val diff = symDiff(snap, truth(net, dfFull))
          require(diff == 0,
            s"scale $k: $shape CDC snapshot != batch net-corpus index " +
              s"($diff rows differ)")
          val counts = (snap.count(),
            snap.filter(col("p") === "<overflow>").count())
          snap.unpersist()
          (t.wall, counts._1, counts._2)
        }
      require(nMarkers > 0 || k == 0,
        s"scale $k: no marker rows — hot tokens failed to overflow")
      val ops = docs.size + dead.size
      report.scale(k, Map("docs" -> n.toDouble, "cdc_sec" -> sec,
        "docs_per_min" -> math.rint(ops / sec * 60.0),
        "snapshot_tokens" -> nSnap.toDouble,
        "marker_tokens" -> nMarkers.toDouble, "pos_cdc_sec" -> psec,
        "pos_docs_per_min" -> math.rint(ops / psec * 60.0)))
    }
    val r = report.ratios()
    if (r.nonEmpty) println(Soak.line("tier" -> "cdc",
      "near_linear" -> (r("cdc_sec") < 2.5 * r("docs"))))

    // CHURN: a production CDC feed cycles forget→re-ingest on the same
    // keys for months. One long-lived query PER CDC index shape runs
    // `churnCycles` forget→re-ingest rounds on the same dead set. The
    // snapshot must equal the batch build after EVERY half-cycle, and
    // state rows must be FLAT (vocabulary-keyed — tombstones shrink to
    // seq-only, they never leave).
    if (churnCycles > 0) {
      val n = baseDocs * scales.head
      val docs = DedupSoak.corpus(spark, n)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val dead = docs.filter(_._1 % 10 == 3)
      // ever-overflow is stable across cycles: peak df = full-corpus
      // df (no token with full df > maxDf ever nets to 0 in this
      // corpus — hot boilerplate keeps half its carriers), so the
      // batch marker condition stays "full df > maxDf" all soak long
      val full = DedupSoak.corpus(spark, n)
      val net = full.filter(!(col("doc_id") % 10 === 3))
      val dfFull = tokenDf(full)
      shapes.foreach { case (shape, mk, canon, truth) =>
        val qn = s"cdc_churn_$shape"
        val (stream, query) = start(mk, qn)
        def drive(rows: Seq[(Int, Long, String)]): Unit =
          rows.grouped(2000).foreach { b =>
            stream.addData(b); query.processAllAvailable()
          }
        def stateRows(): Long =
          Option(query.lastProgress).toSeq
            .flatMap(_.stateOperators).map(_.numRowsTotal).sum
        def snapshotDiff(corpus: DataFrame): Long =
          symDiff(canon(latest(spark, qn)), truth(corpus, dfFull))
        try {
          drive(docs.map { case (i, x) => (1, i, x) })
          val states = scala.collection.mutable.ArrayBuffer(stateRows())
          (1 to churnCycles).foreach { c =>
            val ((dForget, dBack), t) = timed {
              drive(dead.map { case (i, x) => (-1, i, x) })
              val dForget = snapshotDiff(net)
              drive(dead.map { case (i, x) => (1, i, x) })
              (dForget, snapshotDiff(full))
            }
            val sr = stateRows()
            states += sr
            require(dForget == 0 && dBack == 0,
              s"$shape churn cycle $c: snapshot != batch (forget diff " +
                s"$dForget, re-ingest diff $dBack)")
            println(Soak.line("tier" -> "cdc", "churn_cycle" -> c,
              "shape" -> shape, "sec" -> t.wall, "state_rows" -> sr))
          }
          require(states.max == states.min,
            s"$shape state-store rows must be FLAT across churn cycles " +
              s"(vocabulary-bounded), got $states")
          println(Soak.line("tier" -> "cdc", "churn" -> shape,
            "cycles" -> churnCycles, "docs" -> n, "state_rows_flat" -> true,
            "state_rows" -> states.max))
        } finally query.stop()
      }
    }
  }
}
