package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Forget-aware index maintenance ([[IndexMaintain]]): the maintained
  * index must equal a from-scratch rebuild on the remaining corpus —
  * including the overflow contract's hard case, a token crossing back
  * into the df window — and the crossing rebuild must not touch the
  * remaining corpus when nothing crosses. */
class IndexMaintainSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "text")
  }

  /** Canonical comparable rows: (token, df, postings-as-string|null). */
  private def rows(df: DataFrame): Set[(String, Long, String)] =
    df.collect().map { r =>
      val p = r.getAs[scala.collection.Seq[Long]]("postings")
      (r.getAs[String]("token"), r.getAs[Long]("df"),
        if (p == null) null else p.mkString(","))
    }.toSet

  // corpus engineered so the forget batch {1, 3} exercises every path:
  //  - "hot" df 6 > maxDf 4 → overflow; loses 2 → df 4 CROSSES back in
  //  - "warm" df 6 → overflow; loses only doc 1 → df 5 stays overflow
  //  - "mid" df 4 in-window, loses 2 → array_except update to df 2
  //  - "low" df 2 = minDf, loses both → drops below minDf
  //  - "keep" df 2 untouched → passes through unrewritten
  private val corpus = docs(Seq(
    1L -> "hot warm mid low",
    2L -> "hot warm mid keep",
    3L -> "hot mid low",
    4L -> "hot warm mid keep",
    5L -> "hot warm x",
    6L -> "hot warm y",
    7L -> "warm z"))
  private val forgetIds = Set(1L, 3L)
  private val forgotten = corpus.filter(col("id").isin(forgetIds.toSeq: _*))
  private val remaining =
    corpus.filter(!col("id").isin(forgetIds.toSeq: _*))

  test("indexWithOverflow: exact df everywhere, null postings past maxDf") {
    val idx = IndexMaintain.indexWithOverflow(corpus, "id", "text",
      minDf = 2, maxDf = 4)
    val got = rows(idx)
    assert(got.contains(("hot", 6L, null)))
    assert(got.contains(("warm", 6L, null)))
    assert(got.contains(("mid", 4L, "1,2,3,4")))
    assert(got.contains(("low", 2L, "1,3")))
    assert(got.contains(("keep", 2L, "2,4")))
    // hapax tokens are below minDf — absent
    assert(!got.exists(t => Set("x", "y", "z")(t._1)))
  }

  test("forgetFromIndex equals a from-scratch rebuild (crossing included)") {
    val idx = IndexMaintain.indexWithOverflow(corpus, "id", "text",
      minDf = 2, maxDf = 4)
    val maintained = IndexMaintain.forgetFromIndex(idx, forgotten,
      remaining, "id", "text", minDf = 2, maxDf = 4)
    val rebuilt = IndexMaintain.indexWithOverflow(remaining, "id", "text",
      minDf = 2, maxDf = 4)
    assert(rows(maintained) === rows(rebuilt))
    // and the crossing token really did come back with real postings
    assert(rows(maintained).contains(("hot", 4L, "2,4,5,6")))
    // while the still-overflowed one kept a null list
    assert(rows(maintained).contains(("warm", 5L, null)))
    // the touched in-window token updated via array_except
    assert(rows(maintained).contains(("mid", 2L, "2,4")))
  }

  test("two sequential forget batches equal one combined batch") {
    val idx = IndexMaintain.indexWithOverflow(corpus, "id", "text",
      minDf = 2, maxDf = 4)
    val rem1 = corpus.filter(col("id") =!= 1L)
    val step1 = IndexMaintain.forgetFromIndex(idx,
      corpus.filter(col("id") === 1L), rem1, "id", "text", 2, 4)
    val step2 = IndexMaintain.forgetFromIndex(step1,
      corpus.filter(col("id") === 3L), remaining, "id", "text", 2, 4)
    val oneShot = IndexMaintain.forgetFromIndex(idx, forgotten,
      remaining, "id", "text", 2, 4)
    assert(rows(step2) === rows(oneShot))
  }

  test("no crossing → the remaining corpus is never scanned") {
    val idx = IndexMaintain.indexWithOverflow(corpus, "id", "text",
      minDf = 2, maxDf = 4)
    // forgetting doc 6 touches "hot"/"warm" (6→5, both stay overflow)
    // and the hapax "y" (not in the index) — nothing crosses
    val rem = corpus.filter(col("id") =!= 6L)
    // a remaining side that THROWS if any row is ever evaluated —
    // the equality below can only hold if the no-crossing path
    // skipped the rebuild scan entirely
    val poisoned = rem.filter(
      raise_error(lit("remaining corpus must not be scanned")).isNotNull)
    val maintained = IndexMaintain.forgetFromIndex(idx,
      corpus.filter(col("id") === 6L), poisoned, "id", "text", 2, 4)
    val rebuilt = IndexMaintain.indexWithOverflow(rem, "id", "text", 2, 4)
    assert(rows(maintained) === rows(rebuilt))
  }

  /** Canonical positional rows: (token, df, id|null, positions|null). */
  private def prows(df: DataFrame): Set[(String, Long, Any, String)] =
    df.collect().map { r =>
      val p = r.getAs[scala.collection.Seq[Int]]("positions")
      (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (p == null) null else p.mkString(","))
    }.toSet

  test("positionalIndexWithOverflow: marker rows past maxDf, per-doc " +
    "position rows in-window") {
    val idx = IndexMaintain.positionalIndexWithOverflow(corpus, "id",
      "text", minDf = 2, maxDf = 4)
    val got = prows(idx)
    assert(got.contains(("hot", 6L, null, null)))
    assert(got.contains(("warm", 6L, null, null)))
    assert(got.contains(("mid", 4L, 1L, "3")))
    assert(got.contains(("mid", 4L, 3L, "2")))
    assert(got.contains(("keep", 2L, 2L, "4")))
    assert(!got.exists(t => Set("x", "y", "z")(t._1)))
  }

  test("forgetFromPositionalIndex equals a from-scratch rebuild " +
    "(crossing marker becomes real position rows)") {
    val idx = IndexMaintain.positionalIndexWithOverflow(corpus, "id",
      "text", minDf = 2, maxDf = 4)
    val maintained = IndexMaintain.forgetFromPositionalIndex(idx,
      forgotten, remaining, "id", "text", minDf = 2, maxDf = 4)
    val rebuilt = IndexMaintain.positionalIndexWithOverflow(remaining,
      "id", "text", minDf = 2, maxDf = 4)
    assert(prows(maintained) === prows(rebuilt))
    // crossing token materialized with per-doc positions
    assert(prows(maintained).contains(("hot", 4L, 2L, "1")))
    // still-overflowed token kept its (decremented) marker
    assert(prows(maintained).contains(("warm", 5L, null, null)))
    // touched in-window rows decremented df, forgotten rows dropped
    assert(prows(maintained).contains(("mid", 2L, 4L, "3")))
    assert(!prows(maintained).exists(t => t._3 == 1L || t._3 == 3L))
  }

  test("positional no-crossing forget never scans the remaining corpus") {
    val idx = IndexMaintain.positionalIndexWithOverflow(corpus, "id",
      "text", minDf = 2, maxDf = 4)
    val rem = corpus.filter(col("id") =!= 6L)
    val poisoned = rem.filter(
      raise_error(lit("remaining corpus must not be scanned")).isNotNull)
    val maintained = IndexMaintain.forgetFromPositionalIndex(idx,
      corpus.filter(col("id") === 6L), poisoned, "id", "text", 2, 4)
    val rebuilt = IndexMaintain.positionalIndexWithOverflow(rem, "id",
      "text", 2, 4)
    assert(prows(maintained) === prows(rebuilt))
  }

  // ---- INSERT-batch maintenance (the ingestion half) ----

  // insert corpus engineered so the batch {8, 9} exercises every path:
  //  - "hot" df 4 = maxDf in-window; gains 2 → df 6 CROSSES UP → marker
  //  - "over" df 5 overflow; gains 1 → df 6 stays overflow
  //  - "mid" df 2 in-window; gains 1 → postings extend to df 3
  //  - "keep" df 2 untouched → passes through unrewritten
  //  - "rare" df 1 (BELOW minDf — absent from the index); gains 1 →
  //    df 2 enters the window (the corpus-pass novel case)
  //  - "new" df 0; gains 2 → df 2 enters
  //  - "solo" df 0; gains 1 → still below minDf, stays absent
  private val insCorpus = docs(Seq(
    1L -> "hot mid over keep rare",
    2L -> "hot mid over keep",
    3L -> "hot over",
    4L -> "hot over",
    5L -> "over"))
  private val insBatch = docs(Seq(
    8L -> "hot mid over new solo",
    9L -> "hot new rare"))
  private val insFull = insCorpus.unionByName(insBatch)

  test("insertIntoIndex equals a from-scratch rebuild on the grown " +
    "corpus (cross-up, overflow, extend, novel-enter included)") {
    val idx = IndexMaintain.indexWithOverflow(insCorpus, "id", "text",
      minDf = 2, maxDf = 4)
    val maintained = IndexMaintain.insertIntoIndex(idx, insBatch,
      insFull, "id", "text", minDf = 2, maxDf = 4)
    val rebuilt = IndexMaintain.indexWithOverflow(insFull, "id", "text",
      minDf = 2, maxDf = 4)
    assert(rows(maintained) === rows(rebuilt))
    // the in-window token that crossed UP dropped its list, kept df
    assert(rows(maintained).contains(("hot", 6L, null)))
    // the overflow token just incremented
    assert(rows(maintained).contains(("over", 6L, null)))
    // the staying in-window token extended sorted
    assert(rows(maintained).contains(("mid", 3L, "1,2,8")))
    // the below-minDf token entered with its OLD occurrence included
    assert(rows(maintained).contains(("rare", 2L, "1,9")))
    assert(rows(maintained).contains(("new", 2L, "8,9")))
    assert(!rows(maintained).exists(_._1 == "solo"))
  }

  test("two sequential inserts equal one combined insert") {
    val idx = IndexMaintain.indexWithOverflow(insCorpus, "id", "text",
      minDf = 2, maxDf = 4)
    val mid = insCorpus.unionByName(insBatch.filter(col("id") === 8L))
    val step1 = IndexMaintain.insertIntoIndex(idx,
      insBatch.filter(col("id") === 8L), mid, "id", "text", 2, 4)
    val step2 = IndexMaintain.insertIntoIndex(step1,
      insBatch.filter(col("id") === 9L), insFull, "id", "text", 2, 4)
    val oneShot = IndexMaintain.insertIntoIndex(idx, insBatch,
      insFull, "id", "text", 2, 4)
    assert(rows(step2) === rows(oneShot))
  }

  test("insert then forget of the same batch restores the original " +
    "index") {
    val idx = IndexMaintain.indexWithOverflow(insCorpus, "id", "text",
      minDf = 2, maxDf = 4)
    val grown = IndexMaintain.insertIntoIndex(idx, insBatch,
      insFull, "id", "text", 2, 4)
    val back = IndexMaintain.forgetFromIndex(grown, insBatch,
      insCorpus, "id", "text", 2, 4)
    assert(rows(back) === rows(idx))
  }

  test("minDf=1 insert never scans the corpus (novel tokens build " +
    "batch-locally)") {
    val idx = IndexMaintain.indexWithOverflow(insCorpus, "id", "text",
      minDf = 1, maxDf = 4)
    val poisoned = insFull.filter(
      raise_error(lit("corpus must not be scanned")).isNotNull)
    val maintained = IndexMaintain.insertIntoIndex(idx, insBatch,
      poisoned, "id", "text", minDf = 1, maxDf = 4)
    val rebuilt = IndexMaintain.indexWithOverflow(insFull, "id", "text",
      minDf = 1, maxDf = 4)
    assert(rows(maintained) === rows(rebuilt))
  }

  test("no novel tokens → the minDf>1 insert skips the corpus pass") {
    val idx = IndexMaintain.indexWithOverflow(insCorpus, "id", "text",
      minDf = 2, maxDf = 4)
    // a batch whose vocabulary is entirely in-index
    val batch = docs(Seq(8L -> "mid keep"))
    val full = insCorpus.unionByName(batch)
    val poisoned = full.filter(
      raise_error(lit("corpus must not be scanned")).isNotNull)
    val maintained = IndexMaintain.insertIntoIndex(idx, batch,
      poisoned, "id", "text", 2, 4)
    val rebuilt = IndexMaintain.indexWithOverflow(full, "id", "text", 2, 4)
    assert(rows(maintained) === rows(rebuilt))
  }

  test("insertIntoPositionalIndex equals a from-scratch rebuild on " +
    "the grown corpus (marker-up crossing drops rows whole)") {
    val idx = IndexMaintain.positionalIndexWithOverflow(insCorpus,
      "id", "text", minDf = 2, maxDf = 4)
    val maintained = IndexMaintain.insertIntoPositionalIndex(idx,
      insBatch, insFull, "id", "text", minDf = 2, maxDf = 4)
    val rebuilt = IndexMaintain.positionalIndexWithOverflow(insFull,
      "id", "text", minDf = 2, maxDf = 4)
    assert(prows(maintained) === prows(rebuilt))
    // crossed-up token: ONE marker row, no per-doc rows
    assert(prows(maintained).contains(("hot", 6L, null, null)))
    assert(prows(maintained).count(_._1 == "hot") === 1)
    // batch doc's rows materialized with batch-local positions
    assert(prows(maintained).contains(("mid", 3L, 8L, "2")))
    // novel-entering token carries its old-corpus occurrence
    assert(prows(maintained).contains(("rare", 2L, 1L, "5")))
    assert(prows(maintained).contains(("rare", 2L, 9L, "3")))
  }

  test("positional insert: minDf=1 never scans the corpus, and " +
    "insert-then-forget restores the original") {
    val idx1 = IndexMaintain.positionalIndexWithOverflow(insCorpus,
      "id", "text", minDf = 1, maxDf = 4)
    val poisoned = insFull.filter(
      raise_error(lit("corpus must not be scanned")).isNotNull)
    val maintained = IndexMaintain.insertIntoPositionalIndex(idx1,
      insBatch, poisoned, "id", "text", 1, 4)
    val rebuilt = IndexMaintain.positionalIndexWithOverflow(insFull,
      "id", "text", 1, 4)
    assert(prows(maintained) === prows(rebuilt))
    val idx2 = IndexMaintain.positionalIndexWithOverflow(insCorpus,
      "id", "text", minDf = 2, maxDf = 4)
    val grown = IndexMaintain.insertIntoPositionalIndex(idx2, insBatch,
      insFull, "id", "text", 2, 4)
    val back = IndexMaintain.forgetFromPositionalIndex(grown, insBatch,
      insCorpus, "id", "text", 2, 4)
    assert(prows(back) === prows(idx2))
  }

  test("seeded random df windows, both shapes: the window-only build is " +
    "the overflow build minus its overflow rows, and a random forget " +
    "batch and a random insert batch each equal the from-scratch build") {
    val rnd = new scala.util.Random(61)
    // min of two draws skews df toward the low tokens, so the top df
    // sits well above the rest and every window has overflow to cross
    val vocab = (0 until 12).map(i => s"t$i")
    val corpusRows = (1L to 40L).map(i => i -> Seq.fill(1 + rnd.nextInt(8))(
      vocab(math.min(rnd.nextInt(12), rnd.nextInt(12)))).mkString(" "))
    val all = docs(corpusRows)
    val topDf = TextStats.invertedIndex(all, "id", "text", minDf = 1)
      .agg(max(col("df"))).head().getLong(0)
    val windows = (1L, 1L + rnd.nextInt(topDf.toInt - 1)) +:
      Seq.fill(2) {
        val lo = 1L + rnd.nextInt(3)
        (lo, lo + rnd.nextInt(topDf.toInt))
      }
    assert(windows.exists(_._2 < topDf), windows)
    def split(share: Double): (DataFrame, DataFrame) = {
      val picked = corpusRows.map(_._1).filter(_ => rnd.nextDouble() < share)
      (all.filter(col("id").isin(picked: _*)),
        all.filter(!col("id").isin(picked: _*)))
    }
    windows.foreach { case (lo, hi) =>
      val ctx = s"window [$lo, $hi], top df $topDf"
      val (forgotten, remaining) = split(0.3)
      val (batch, before) = split(0.3)

      val inv = IndexMaintain.indexWithOverflow(all, "id", "text", lo, hi)
      assert(rows(TextStats.invertedIndex(all, "id", "text", lo, hi)) ===
        rows(inv).filter(_._3 != null), ctx)
      assert(rows(IndexMaintain.forgetFromIndex(inv, forgotten, remaining,
        "id", "text", lo, hi)) === rows(IndexMaintain.indexWithOverflow(
        remaining, "id", "text", lo, hi)), s"forget, $ctx")
      assert(rows(IndexMaintain.insertIntoIndex(
        IndexMaintain.indexWithOverflow(before, "id", "text", lo, hi),
        batch, all, "id", "text", lo, hi)) === rows(inv), s"insert, $ctx")

      val pos = IndexMaintain.positionalIndexWithOverflow(all, "id", "text",
        lo, hi)
      assert(prows(TextStats.positionalIndex(all, "id", "text", lo, hi)) ===
        prows(pos).filter(_._3 != null), ctx)
      assert(prows(IndexMaintain.forgetFromPositionalIndex(pos, forgotten,
        remaining, "id", "text", lo, hi)) ===
        prows(IndexMaintain.positionalIndexWithOverflow(remaining, "id",
          "text", lo, hi)), s"positional forget, $ctx")
      assert(prows(IndexMaintain.insertIntoPositionalIndex(
        IndexMaintain.positionalIndexWithOverflow(before, "id", "text", lo,
          hi), batch, all, "id", "text", lo, hi)) === prows(pos),
        s"positional insert, $ctx")
    }
  }

  test("forgetRows on a PQ code frame: search over the pruned codes " +
    "equals search over the re-encoded remainder") {
    import spark.implicits._
    val cb: Seq[Seq[Array[Float]]] = Seq(
      Seq(Array(1f, 0f), Array(0f, 1f)),
      Seq(Array(1f, 1f), Array(1f, -1f)))
    // vectors ON the codebook (lossless reconstruction) so the two
    // rankings must agree exactly, not just approximately
    val data = (for {
      (c0, i0) <- cb(0).zipWithIndex
      (c1, i1) <- cb(1).zipWithIndex
    } yield ((i0 * 2 + i1).toLong, (c0 ++ c1).toSeq)).toSeq
      .toDF("vec_id", "embedding")
    val queries = data.filter(col("vec_id") < 2)
    val pruned = IndexMaintain.forgetRows(
      Pq.encode(data, "vec_id", "embedding", cb),
      Seq(2L).toDF("vec_id"), "vec_id")
    def ranked(d: DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    val viaPruned = Pq.reconstructTopKEncoded(pruned, queries,
      "vec_id", "embedding", cb, k = 2)
    val viaReencode = Pq.reconstructTopK(
      data.filter(col("vec_id") =!= 2L), queries,
      "vec_id", "embedding", cb, k = 2)
    assert(ranked(viaPruned) === ranked(viaReencode))
    assert(!ranked(viaPruned).exists(_._2 == 2L))
  }
}
