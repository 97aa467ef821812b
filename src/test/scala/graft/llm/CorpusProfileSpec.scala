package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Corpus-profiling operators added round 13: exact-integer
  * collocation lift ([[TextStats.collocations]]), the bounded-state
  * histogram percentile sketch ([[Sketch.logHistogramPercentiles]]),
  * and the per-doc gram novelty profile ([[TextStats.gramNovelty]]). */
class CorpusProfileSpec extends SparkSpec {
  import spark.implicits._

  // ---- collocations ----

  private val collocDocs = Seq(
    (1L, "new york new york new york"),
    (2L, "new york  new york new york"), // double space: empty dropped
    (3L, "a b a b a b a c")).toDF("doc_id", "text")

  test("collocations: exact integer lift, deterministic order") {
    // T = 20 tokens; pairs at minCount 3: "a b"/"b a" c12=3 each
    // (c(a)=4, c(b)=3), "new york" c12=6 c=6/6, "york new" c12=4;
    // the 5e6 lift tie breaks (w1, w2) ascending
    val out = TextStats.collocations(collocDocs, "text",
      minCount = 3, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out === Seq(
      ("a", "b", 3L, 4L, 3L, 60000000L / 12),     // 5,000,000
      ("b", "a", 3L, 3L, 4L, 60000000L / 12),     // tie, w1 breaks
      ("new", "york", 6L, 6L, 6L, 120000000L / 36), // 3,333,333
      ("york", "new", 4L, 6L, 6L, 80000000L / 36))) // 2,222,222
    // truncation matches BIGINT div: 120e6/36 = 3,333,333.33... -> 3,333,333
    assert(out(2)._6 === 3333333L)
  }

  test("collocations: minCount gates rare pairs; k cuts after the sort") {
    val out = TextStats.collocations(collocDocs, "text",
      minCount = 5, k = 10).collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("new", "york")))
    val top1 = TextStats.collocations(collocDocs, "text",
      minCount = 3, k = 1).collect()
    assert(top1.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("a", "b")))
  }

  test("collocations: randomized brute-force differential — exact " +
    "counts and lift on a random corpus") {
    val rnd = new scala.util.Random(19)
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(12)(s"t${rnd.nextInt(8)}").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val toks = docs.flatMap(_._2.split(" "))
    val uni = toks.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val t = toks.size.toLong
    val pairCounts = docs.flatMap(_._2.split(" ").sliding(2).map(_.mkString(" ")))
      .groupBy(identity).map { case (g, o) => g -> o.size.toLong }
    val expected = pairCounts.toSeq
      .filter(_._2 >= 4)
      .map { case (g, c12) =>
        val Array(w1, w2) = g.split(" ")
        (w1, w2, c12, uni(w1), uni(w2),
          c12 * t * 1000000L / (uni(w1) * uni(w2)))
      }
      .sortBy(x => (-x._6, x._1, x._2)).take(15)
    val got = TextStats.collocations(df, "text", minCount = 4, k = 15)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("tfidfDotPairs: randomized brute-force differential on token " +
    "terms") {
    val rnd = new scala.util.Random(23)
    val docs = (0 until 30).map { i =>
      (i.toLong, Seq.fill(8)(s"w${rnd.nextInt(12)}").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val maxDf = 10
    val tf = docs.flatMap { case (id, tx) =>
      tx.split(" ").groupBy(identity).map { case (w, o) =>
        (id, w, o.size.toLong) }
    }
    val dfreq = tf.groupBy(_._2).map { case (w, o) => w -> o.size.toLong }
    val w = dfreq.filter { case (_, d) => d >= 2 && d <= maxDf }
      .map { case (t, d) => t -> 1000000L / d }
    val brute = (for {
      (ia, wa, ca) <- tf; (ib, wb, cb) <- tf
      if ia < ib && wa == wb && w.contains(wa)
    } yield ((ia, ib), ca * cb * w(wa)))
      .groupBy(_._1).map { case ((a, b), o) =>
        (a, b, o.size.toLong, o.map(_._2).sum) }
      .toSeq.sortBy(x => (-x._4, x._1, x._2)).take(10)
    val got = TextStats.tfidfDotPairs(df, "doc_id", "text",
      maxDf = maxDf, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === brute)
  }

  test("topTokensByGroup: exact per-group (freq desc, token) top-k; " +
    "k cuts within each group independently") {
    val docs = Seq(
      (1L, "en", "x x x y y z"),
      (2L, "en", "y w"),
      (3L, "fr", "a b a"),
      (4L, "fr", "b")).toDF("doc_id", "lang", "text")
    // en: x=3, y=3 (tie -> token asc), z=1, w=1; fr: a=2, b=2
    val out = TextStats.topTokensByGroup(docs, "lang", "text", k = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(out === Seq(
      ("en", "x", 3L, 1), ("en", "y", 3L, 2),
      ("fr", "a", 2L, 1), ("fr", "b", 2L, 2)))
    // a group smaller than k emits its whole vocabulary
    val solo = Seq((1L, "de", "nur ein")).toDF("doc_id", "lang", "text")
    val all = TextStats.topTokensByGroup(solo, "lang", "text", k = 5)
      .collect()
    assert(all.length === 2)
  }

  test("ngramCountsForget: maintained counts equal a rebuild on the " +
    "remaining corpus; served collocations match; non-subset raises") {
    val remaining = collocDocs.filter(col("doc_id") =!= 3L)
    val forgotten = collocDocs.filter(col("doc_id") === 3L)
    def counts(df: org.apache.spark.sql.DataFrame, n: Int) =
      df.select(explode(TextStats.ngrams(col("text"), n)).as("ngram"))
        .groupBy(col("ngram")).agg(count(lit(1)).as("freq"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(_._1).toSeq
    val maintainedUni = TextStats.ngramCountsForget(
      counts(collocDocs, 1), forgotten, "text", n = 1)
    val maintainedPairs = TextStats.ngramCountsForget(
      counts(collocDocs, 2), forgotten, "text", n = 2)
    assert(rows(maintainedUni) === rows(counts(remaining, 1)))
    assert(rows(maintainedPairs) === rows(counts(remaining, 2)))
    val served = TextStats.collocationsFromCounts(maintainedUni,
      maintainedPairs, minCount = 3, k = 10).collect().map(_.toSeq).toSeq
    val rebuilt = TextStats.collocations(remaining, "text",
      minCount = 3, k = 10).collect().map(_.toSeq).toSeq
    assert(served === rebuilt)
    val e = intercept[Exception] {
      TextStats.ngramCountsForget(counts(remaining, 2),
        Seq((9L, "never seen text")).toDF("doc_id", "text"),
        "text", n = 2).collect()
    }
    assert(String.valueOf(e.getMessage).contains("negative count") ||
      String.valueOf(e.getCause).contains("negative count"))
  }

  // ---- exact heavy hitters ----

  test("exactHeavyHitters: equals the brute-force count under any " +
    "partitioning, including a hitter spread exactly one-per-partition") {
    val rnd = new scala.util.Random(11)
    val noise = Seq.fill(300)((rnd.nextLong().abs,
      s"w${rnd.nextInt(40)} w${rnd.nextInt(40)}"))
    val docs = noise.toDF("doc_id", "text")
    def brute(df: org.apache.spark.sql.DataFrame, t: Long) =
      df.select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= t)
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(x => (-x._2, x._1)).toSeq
    Seq(1, 7).foreach { parts =>
      val d = docs.repartition(parts)
      val got = TextStats.exactHeavyHitters(d, "text", 12).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got === brute(d, 12), s"parts=$parts")
    }
    // adversarial spread: "hh" appears exactly threshold=8 times,
    // one occurrence per partition — local counts are all 1, which
    // still reaches ceil(8/8); the pigeonhole bound is tight here
    val spread = (0 until 8).map(i => (i.toLong, "hh filler" + i))
      .toDF("doc_id", "text").repartition(8, col("doc_id"))
    val out = TextStats.exactHeavyHitters(spread, "text", 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("hh", 8L)))
  }

  test("exactHeavyHitters: a locally-hot but globally-light token is " +
    "a candidate yet filtered by the exact recount") {
    val docs = Seq((1L, "rare rare rare rare rare common common " +
      "common common common common common common")).toDF("doc_id", "text")
    val out = TextStats.exactHeavyHitters(docs, "text", 6)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("common", 8L)))
  }

  // ---- reference contamination share ----

  test("refGramOverlap: exact per-doc shared-gram ratio against the " +
    "reference gram set; gram-less docs keep a 0/0/0 row") {
    val train = Seq(
      (1L, "a b c d"), // bigrams {a b, b c, c d}
      (2L, "x"),       // shorter than n: no grams
      (3L, "p q r")).  // {p q, q r}
      toDF("doc_id", "text")
    val ref = Seq(
      (100L, "b c d e"), // ref grams {b c, c d, d e}
      (101L, "q r")).    // {q r}
      toDF("doc_id", "text")
    val out = TextStats.refGramOverlap(train, ref, "doc_id", "text",
      n = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(out === Seq(
      (1L, 3L, 2L, 666666L), // b c + c d shared, a b not
      (2L, 0L, 0L, 0L),
      (3L, 2L, 1L, 500000L))) // q r shared
  }

  // ---- tf-idf weighted pairs ----

  private def pairRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq

  test("tfidfDotPairs: exact integer idf weights, df window excludes " +
    "stopwords and hapaxes, deterministic tie-break") {
    val docs = Seq(
      (1L, "x x q r"),
      (2L, "x y q"),
      (3L, "x y z"),
      (4L, "w w w")).toDF("doc_id", "text")
    // maxDf=2: x (df=3) is cut as a stopword, r/z/w (df=1) cannot
    // pair; y and q carry w = 1e6 div 2 = 500000
    val narrow = pairRows(TextStats.tfidfDotPairs(docs, "doc_id",
      "text", maxDf = 2, k = 10))
    assert(narrow === Seq(
      (1L, 2L, 1L, 500000L),   // share q — tie with (2,3), id breaks
      (2L, 3L, 1L, 500000L)))  // share y
    // maxDf=3 admits x at w = 333333; tf products are exact
    val wide = pairRows(TextStats.tfidfDotPairs(docs, "doc_id",
      "text", maxDf = 3, k = 10))
    assert(wide === Seq(
      (1L, 2L, 2L, 2L * 333333L + 500000L),  // x (tf 2·1) + q
      (2L, 3L, 2L, 333333L + 500000L),       // x + y
      (1L, 3L, 1L, 2L * 333333L)))           // x only
    val top2 = pairRows(TextStats.tfidfDotPairs(docs, "doc_id",
      "text", maxDf = 3, k = 2))
    assert(top2 === wide.take(2))
  }

  test("tfidfDotPairs: n-gram terms — docs pairing only through a " +
    "shared bigram, never through shared-but-unordered tokens") {
    val docs = Seq(
      (5L, "a b c"),
      (6L, "a b d"),
      (7L, "b a e")). // has a and b but not the "a b" bigram
      toDF("doc_id", "text")
    val out = pairRows(TextStats.tfidfDotPairs(docs, "doc_id", "text",
      maxDf = 3, k = 10, n = 2))
    assert(out === Seq((5L, 6L, 1L, 500000L)))
  }

  // ---- histogram percentile sketch ----

  private def hist(values: Seq[Long], ps: Seq[Int]) =
    Sketch.logHistogramPercentiles(values.toDF("v"), col("v"), ps)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))

  test("histogram percentiles: known buckets, ceil-rank pick, " +
    "cumulative counts") {
    val values = Seq[Long](0, 1, 2, 3, 4, 5, 6, 7, 8, 16, 31, 32, 100)
    val out = hist(values, Seq(1, 50, 100))
    // p=1: rank 1 -> value 0 -> bucket 0 [0,0], 1 value <= hi
    // p=50: rank ceil(6.5)=7 -> value 6 -> bucket 3 [4,7], 8 values <= 7
    // p=100: rank 13 -> value 100 -> bucket 7 [64,127], all 13
    assert(out === Seq(
      (1L, 0L, 0L, 0L, 1L),
      (50L, 3L, 4L, 7L, 8L),
      (100L, 7L, 64L, 127L, 13L)))
  }

  test("histogram percentiles: bracket guarantee vs the exact order " +
    "statistic on a randomized corpus") {
    val rnd = new scala.util.Random(7)
    val values = Seq.fill(200)(rnd.nextInt(1 << 20).toLong)
    val sorted = values.sorted
    val ps = Seq(1, 5, 25, 50, 75, 95, 99, 100)
    val out = hist(values, ps)
    assert(out.map(_._1) === ps.map(_.toLong))
    out.foreach { case (p, _, lo, hi, nLe) =>
      val exact = sorted(((p * values.size + 99) / 100 - 1).toInt)
      assert(lo <= exact && exact <= hi,
        s"p=$p exact=$exact outside [$lo,$hi]")
      assert(nLe === sorted.count(_ <= hi).toLong)
    }
  }

  test("logHistogramPercentilesByGroup: each group's brackets equal " +
    "a standalone ungrouped run over that group's rows") {
    val rnd = new scala.util.Random(3)
    val rows = Seq("a", "b", "c").flatMap { g =>
      Seq.fill(50)((g, rnd.nextInt(1 << (4 + g.hashCode.abs % 12))
        .toLong))
    }
    val df = rows.toDF("g", "v")
    val ps = Seq(25, 50, 95)
    val grouped = Sketch.logHistogramPercentilesByGroup(df, "g",
      col("v"), ps).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    Seq("a", "b", "c").foreach { g =>
      val solo = Sketch.logHistogramPercentiles(
        df.filter(col("g") === g), col("v"), ps).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      ps.foreach { p =>
        assert(grouped((g, p.toLong)) === solo(p.toLong),
          s"group $g p $p diverges")
      }
    }
  }

  test("histogram percentiles: the top bucket (63) brackets " +
    "Long.MaxValue-scale values without overflow") {
    val out = hist(Seq(1L, Long.MaxValue, Long.MaxValue - 1), Seq(100))
    val (_, bucket, lo, hi, nLe) = out.head
    assert(bucket === 63L)
    assert(lo === (1L << 62))
    assert(hi === Long.MaxValue) // shiftleft(1,63)-1 wraps to MaxValue
    assert(lo <= Long.MaxValue && nLe === 3L)
  }

  test("histogram percentiles: negative values raise") {
    val e = intercept[Exception] {
      hist(Seq(3L, -1L), Seq(50))
    }
    assert(String.valueOf(e.getMessage)
        .contains("values must be non-null and >= 0") ||
      String.valueOf(e.getCause)
        .contains("values must be non-null and >= 0"))
  }

  // ---- gram novelty ----

  test("gram novelty: df=1 grams counted per doc; gram-less docs keep " +
    "a 0/0/0 row; fully-unique docs score 1e6") {
    val docs = Seq(
      (1L, "a b c"),    // bigrams {a b, b c}; "a b" shared with doc 2
      (2L, "a b d"),    // {a b, b d}
      (3L, "x"),        // shorter than n: no grams
      (4L, "p q r s")). // {p q, q r, r s} all corpus-unique
      toDF("doc_id", "text")
    val out = TextStats.gramNovelty(docs, "doc_id", "text", n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(out === Seq(
      (1L, 2L, 1L, 500000L),
      (2L, 2L, 1L, 500000L),
      (3L, 0L, 0L, 0L),
      (4L, 3L, 3L, 1000000L)))
  }

  test("gram novelty == a driver-side reference on seeded random " +
    "corpora (null ids, null texts, repeated ids, short texts, " +
    "within-doc repeats)") {
    val rnd = new scala.util.Random(110)
    val vocab = Seq("a", "b", "c", "d", "e", "f")
    (1 to 6).foreach { trial =>
      val n = 1 + trial % 3
      val rows: Seq[(Option[Long], Option[String])] = Seq.fill(40) {
        val id = if (rnd.nextInt(10) == 0) None
          else Some(rnd.nextInt(25).toLong)
        val text = if (rnd.nextInt(10) == 0) None
          else Some(Seq.fill(rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size)))
            .mkString(if (rnd.nextInt(5) == 0) "  " else " "))
        (id, text)
      }
      // reference: a row's distinct grams, df over ALL rows (null ids
      // included), per-id sums; a null-id row profiles 0/0/0
      def grams(t: Option[String]): Seq[String] = {
        val ts = t.toSeq.flatMap(_.split(" ")).filter(_.nonEmpty)
        if (ts.size < n) Nil else ts.sliding(n).map(_.mkString(" ")).toSeq
          .distinct
      }
      val gs = rows.map { case (id, t) => id -> grams(t) }
      val df = gs.flatMap(_._2).groupBy(identity).map(e => e._1 -> e._2.size)
      val expected = rows.map { case (id, _) =>
        val mine = gs.filter(g => id.isDefined && g._1 == id).flatMap(_._2)
        val (ng, nu) = (mine.size.toLong, mine.count(df(_) == 1).toLong)
        (id, ng, nu, if (ng > 0) nu * 1000000L / ng else 0L)
      }.sortBy(_.toString)
      val got = TextStats.gramNovelty(rows.toDF("doc_id", "text"),
          "doc_id", "text", n)
        .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
          r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_.toString)
      assert(got == expected, s"trial $trial (n = $n): " +
        s"diff=${got.diff(expected).take(5)} " +
        s"missing=${expected.diff(got).take(5)}")
    }
  }

  test("gram novelty: within-doc repeats fold before the df count — " +
    "a gram repeated in ONE doc is still corpus-unique") {
    val docs = Seq(
      (1L, "z z z z"), // distinct bigram {z z} (3 occurrences, 1 distinct)
      (2L, "m n")).toDF("doc_id", "text")
    val out = TextStats.gramNovelty(docs, "doc_id", "text", n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(out === Seq(
      (1L, 1L, 1L, 1000000L),
      (2L, 1L, 1L, 1000000L)))
  }
}
