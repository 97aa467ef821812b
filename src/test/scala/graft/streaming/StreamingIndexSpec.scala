package graft.streaming

import graft.SparkSpec
import graft.llm.TextStats
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming index maintenance must equal the batch structure over
  * the rows seen so far — the [[StreamingSketchSpec]] differential
  * applied to the retrieval family: the n-gram count table (and its
  * (freq desc, gram asc) top-k cut) and the inverted index, each fed
  * across multiple micro-batches, plus the maxDf overflow contract
  * that bounds per-token state. */
class StreamingIndexSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b a b c"),
    (2L, "b c d"),
    (3L, "a b e f"),
    (4L, "g h i j"),
    (5L, "a b c d e"))
  private def batches = Seq(docs.take(2), docs.slice(2, 4), docs.drop(4))

  /** An append-only (doc_id, text) feed as a CDC feed: op +1 on every
    * row. */
  private def ingestOnly(stream: MemoryStream[(Long, String)]) =
    stream.toDF().toDF("doc_id", "text")
      .withColumn("op", org.apache.spark.sql.functions.lit(1))

  test("streaming ngram counts converge to the batch gram table and " +
    "the snapshot's sorted cut equals batch topNgrams") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val query = StreamingIndex.ngramCountsCdc(ingestOnly(stream), "op",
        "text", n = 2)
      .writeStream.format("memory").queryName("ngrams_out")
      .outputMode("complete").start()
    try {
      batches.foreach { b => stream.addData(b); query.processAllAvailable() }
    } finally query.stop()
    val snap = spark.table("ngrams_out")
    val streamedTop = snap.orderBy($"freq".desc, $"ngram").limit(3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batchTop = TextStats.topNgrams(docs.toDF("doc_id", "text"),
        "text", n = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamedTop == batchTop, s"stream $streamedTop vs $batchTop")
    // the full table matches too, not just the cut
    val all = snap.collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    val batchAll = TextStats.topNgrams(docs.toDF("doc_id", "text"),
        "text", n = 2, k = 1000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(all == batchAll, s"stream $all\nbatch  $batchAll")
  }

  test("collocations served from streaming-maintained 1-gram and " +
    "2-gram counts equal the batch collocation ranking") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val src = ingestOnly(stream)
    val q1 = StreamingIndex.ngramCountsCdc(src, "op", "text", n = 1)
      .writeStream.format("memory").queryName("colloc_uni")
      .outputMode("complete").start()
    val q2 = StreamingIndex.ngramCountsCdc(src, "op", "text", n = 2)
      .writeStream.format("memory").queryName("colloc_pairs")
      .outputMode("complete").start()
    try {
      batches.foreach { b =>
        stream.addData(b)
        q1.processAllAvailable(); q2.processAllAvailable()
      }
    } finally { q1.stop(); q2.stop() }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val served = rows(TextStats.collocationsFromCounts(
      spark.table("colloc_uni"), spark.table("colloc_pairs"),
      minCount = 2, k = 10))
    val batch = rows(TextStats.collocations(docs.toDF("doc_id", "text"),
      "text", minCount = 2, k = 10))
    assert(served == batch, s"served $served\nbatch  $batch")
    assert(served.nonEmpty) // "a b" appears 4x — the diff has teeth
  }

  test("streaming inverted index: latest snapshot per token equals " +
    "batch invertedIndex in the df window; overflowed terms keep an " +
    "exact df with dropped postings") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    // maxDf = 3: "a" (df 3) and "b" (df 4) exercise the boundary —
    // b overflows and must drop its list for good; a stays listed
    val query = StreamingIndex.invertedIndexCdc(ingestOnly(stream), "op",
        "doc_id", "text", maxDf = 3)
      .writeStream.format("memory").queryName("index_out")
      .outputMode("update").start()
    try {
      batches.foreach { b => stream.addData(b); query.processAllAvailable() }
    } finally query.stop()
    // update-mode memory sink appends each refresh; df strictly grows
    // per emission, so max-df per token is the current snapshot
    val snap = spark.table("index_out").collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.getSeq[Long](2)).map(_.toSeq)))
      .groupBy(_._1).map { case (_, vs) => vs.maxBy(_._2) }.toSeq
    val inWindow = snap.filter(t => t._2 >= 2 && t._2 <= 3)
      .map(t => (t._1, t._2, t._3.get)).sortBy(_._1)
    val batch = TextStats.invertedIndex(docs.toDF("doc_id", "text"),
        "doc_id", "text", minDf = 2, maxDf = 3)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Long](2).toSeq)).sortBy(_._1).toSeq
    assert(inWindow == batch, s"stream $inWindow\nbatch  $batch")
    // overflow contract: b's df is exact (4) and its postings null
    val b = snap.find(_._1 == "b").get
    assert(b._2 == 4L && b._3.isEmpty, b)
    // every emitted in-window snapshot list is sorted
    assert(snap.forall(t => t._3.forall(p => p == p.sorted)))
  }

  test("CDC inverted index: inserts then forgets converge to the " +
    "batch index on the NET corpus; a crossed-down overflow token " +
    "keeps the honest marker (exact df, null postings); full forget " +
    "tombstones") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Int, Long, String)]
    // maxDf = 3; "hot" reaches df 5 (overflows), then 3 deletes take
    // its NET df to 2 — back inside the window, but the stream
    // cannot recover the list: marker semantics. "cold" (df 2) loses
    // one doc in-window via the posting set. "gone" is fully
    // forgotten and must tombstone.
    val ins = Seq(
      (1, 1L, "hot cold gone"),
      (1, 2L, "hot cold"),
      (1, 3L, "hot x"),
      (1, 4L, "hot y"),
      (1, 5L, "hot z"))
    val del = Seq(
      (-1, 3L, "hot x"),
      (-1, 4L, "hot y"),
      (-1, 5L, "hot z"),
      (-1, 1L, "gone"))  // partial forget of doc 1: only 'gone' leaves
    val query = StreamingIndex.invertedIndexCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "doc_id",
        "text", maxDf = 3)
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("update").start()
    try {
      Seq(ins.take(2), ins.drop(2), del.take(2), del.drop(2)).foreach {
        b => stream.addData(b); query.processAllAvailable()
      }
    } finally query.stop()
    val snap = spark.table("cdc_out").collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.getSeq[Long](2)).map(_.toSeq), r.getLong(3)))
      .groupBy(_._1).map { case (_, vs) => vs.maxBy(_._4) }.toSeq
    val m = snap.map(t => t._1 -> t).toMap
    // net corpus: docs 1 ("hot cold" — 'gone' forgotten), 2 ("hot cold")
    assert(m("hot")._2 == 2L && m("hot")._3.isEmpty,
      s"hot crossed down — must be a marker (exact df, null): ${m("hot")}")
    assert(m("cold")._2 == 2L && m("cold")._3.contains(Seq(1L, 2L)),
      s"cold postings: ${m("cold")}")
    // fully-forgotten tokens tombstone at df 0
    Seq("gone", "x", "y", "z").foreach { t =>
      assert(m(t)._2 == 0L && m(t)._3.isEmpty, s"$t: ${m(t)}")
    }
    // the never-overflowed survivors equal the batch index built on
    // the net corpus from scratch
    val net = Seq((1L, "hot cold"), (2L, "hot cold"))
    val batch = TextStats.invertedIndex(net.toDF("doc_id", "text"),
        "doc_id", "text", minDf = 1, maxDf = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Long](2).toSeq)).toMap
    assert(m("cold")._2 == batch("cold")._1 &&
      m("cold")._3.get == batch("cold")._2,
      s"cold vs batch: ${m("cold")} vs ${batch("cold")}")
  }

  test("CDC inverted index: full forget then RE-INGEST — the live row " +
    "outranks the tombstone under the max-seq reader rule, and an " +
    "ever-overflowed token resumes list maintenance from empty") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Int, Long, String)]
    val query = StreamingIndex.invertedIndexCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "doc_id",
        "text", maxDf = 2)
      .writeStream.format("memory").queryName("cdc_reingest_out")
      .outputMode("update").start()
    try {
      Seq(
        // 'w' df 1; 'v' overflows (df 3 > maxDf 2)
        Seq((1, 1L, "w v"), (1, 2L, "v"), (1, 3L, "v")),
        // full forget of both -> tombstones at df 0
        Seq((-1, 1L, "w v"), (-1, 2L, "v"), (-1, 3L, "v")),
        // re-ingest into fresh docs
        Seq((1, 7L, "w v"), (1, 8L, "v"))
      ).foreach { b => stream.addData(b); query.processAllAvailable() }
    } finally query.stop()
    val rows = spark.table("cdc_reingest_out").collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.getSeq[Long](2)).map(_.toSeq), r.getLong(3)))
    val m = rows.groupBy(_._1)
      .map { case (_, vs) => vs.maxBy(_._4) }.map(t => t._1 -> t).toMap
    // the max-seq row must be the LIVE re-ingested snapshot — a seq
    // counter that reset across the tombstone would resurrect df 0
    assert(m("w")._2 == 1L && m("w")._3.contains(Seq(7L)),
      s"w after re-ingest: ${m("w")}")
    // overflow cleared at df 0 (posting set exactly empty there), so
    // 'v' carries a real list again on the fresh corpus
    assert(m("v")._2 == 2L && m("v")._3.contains(Seq(7L, 8L)),
      s"v after re-ingest: ${m("v")}")
    // the tombstones themselves were emitted (seq strictly between)
    assert(rows.exists(t => t._1 == "w" && t._2 == 0L && t._4 < m("w")._4))
  }

  test("CDC inverted index rejects an op outside the ±1 contract " +
    "loudly instead of silently ingesting") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Int, Long, String)]
    val query = StreamingIndex.invertedIndexCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "doc_id",
        "text", maxDf = 2)
      .writeStream.format("memory").queryName("cdc_badop_out")
      .outputMode("update").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      stream.addData(Seq((0, 1L, "w")))
      query.processAllAvailable()
    }
    query.stop()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(_.contains("CDC op must be +1")), err.getMessage)
  }

  test("CDC inverted index on a randomized insert/forget schedule: " +
    "never-overflowed tokens equal the batch index on the net corpus, " +
    "markers keep exact net dfs") {
    val rnd = new scala.util.Random(61)
    val vocab = (0 until 10).map(i => ('a' + i).toChar.toString)
    val corpus = (1L to 60L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(10))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))).toMap
    // forget a random third AFTER everything is inserted
    val dead = corpus.keys.toSeq.sorted.filter(_ => rnd.nextInt(3) == 0)
    val feed = corpus.toSeq.sortBy(_._1).map { case (i, t) => (1, i, t) } ++
      dead.map(i => (-1, i, corpus(i)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Int, Long, String)]
    val query = StreamingIndex.invertedIndexCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "doc_id",
        "text", maxDf = 25)
      .writeStream.format("memory").queryName("cdc_rand_out")
      .outputMode("update").start()
    try {
      var rest = feed
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(15)
        stream.addData(rest.take(take))
        query.processAllAvailable()
        rest = rest.drop(take)
      }
    } finally query.stop()
    val snap = spark.table("cdc_rand_out").collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.getSeq[Long](2)).map(_.toSeq), r.getLong(3)))
      .groupBy(_._1).map { case (_, vs) => vs.maxBy(_._4) }.toSeq
    val net = (corpus.keySet -- dead).toSeq.sorted
      .map(i => (i, corpus(i)))
    val listed = snap.filter(t => t._2 > 0 && t._3.nonEmpty)
      .map(t => (t._1, t._2, t._3.get)).sortBy(_._1)
    val batchAll = TextStats.invertedIndex(net.toDF("doc_id", "text"),
        "doc_id", "text", minDf = 1, maxDf = 1000)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Long](2).toSeq)).toMap
    listed.foreach { case (tok, df, p) =>
      assert(batchAll(tok) == ((df, p)), s"$tok: ($df, $p) vs " +
        s"${batchAll(tok)}")
    }
    // marker rows (ever-overflowed): NET df still exact
    snap.filter(t => t._2 > 0 && t._3.isEmpty).foreach { case (tok, df, _, _) =>
      assert(batchAll(tok)._1 == df, s"$tok marker df $df vs " +
        s"${batchAll(tok)._1}")
    }
    assert(listed.nonEmpty && snap.exists(t => t._2 > 0 && t._3.isEmpty),
      "schedule must exercise both listed and marker rows")
  }

  test("positional CDC index: inserts then forgets converge to the " +
    "batch positional build on the NET corpus; overflow markers and " +
    "tombstones honest; re-ingest resumes after full forget") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Int, Long, String)]
    // maxDf = 2: "hot" overflows at df 3 and stays over (net df 3);
    // "cold" stays in-window and loses doc 2; "gone" fully forgets
    // then RE-ingests into doc 9.
    val query = StreamingIndex.positionalIndexCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "doc_id",
        "text", maxDf = 2)
      .writeStream.format("memory").queryName("pos_cdc_out")
      .outputMode("update").start()
    try {
      Seq(
        Seq((1, 1L, "hot cold gone hot"), (1, 2L, "hot cold")),
        Seq((1, 3L, "hot"), (1, 4L, "hot")),
        Seq((-1, 2L, "hot cold"), (-1, 1L, "hot cold gone hot")),
        Seq((1, 9L, "gone gone"))
      ).foreach { b => stream.addData(b); query.processAllAvailable() }
    } finally query.stop()
    val snap = spark.table("pos_cdc_out")
      .as[StreamingIndex.TokenPositionalCdc].collect()
      .groupBy(_.token).map { case (_, vs) => vs.maxBy(_.seq) }
    val m = snap.map(t => t.token -> t).toMap
    // hot: peak df 4 > 2 -> marker forever; net df 2 after forgets
    assert(m("hot").df == 2L && m("hot").docs == null, m("hot"))
    // cold: in-window throughout; only doc... both 1 and 2 forgotten
    // -> fully forgotten -> tombstone
    assert(m("cold").df == 0L && m("cold").docs == null, m("cold"))
    // gone: forgotten at batch 3 (tombstone), re-ingested doc 9 with
    // positions [1, 2] — the live row must outrank the tombstone
    assert(m("gone").df == 1L &&
      m("gone").docs == Seq(StreamingIndex.DocPositions(9L, Seq(1, 2))),
      m("gone"))
    // and equal the batch positional build on the net corpus for the
    // never-overflowed survivors
    val net = Seq((3L, "hot"), (4L, "hot"), (9L, "gone gone"))
      .toDF("doc_id", "text")
    val batch = graft.llm.IndexMaintain.positionalIndexWithOverflow(
        net, "doc_id", "text", minDf = 1, maxDf = 2)
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.toString.toLong),
        Option(r.getSeq[Int](3)).map(_.toSeq)))
    val batchGone = batch.filter(_._1 == "gone").toSeq
    assert(batchGone == Seq(("gone", 1L, Some(9L), Some(Seq(1, 2)))))
  }

  test("positional CDC index on a randomized insert/forget schedule " +
    "equals positionalIndexWithOverflow on the net corpus") {
    val rnd = new scala.util.Random(67)
    val vocab = (0 until 8).map(i => ('a' + i).toChar.toString)
    val corpus = (1L to 40L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(12))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))).toMap
    val dead = corpus.keys.toSeq.sorted.filter(_ => rnd.nextInt(3) == 0)
    val feed = corpus.toSeq.sortBy(_._1).map { case (i, t) => (1, i, t) } ++
      dead.map(i => (-1, i, corpus(i)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Int, Long, String)]
    val query = StreamingIndex.positionalIndexCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "doc_id",
        "text", maxDf = 20)
      .writeStream.format("memory").queryName("pos_cdc_rand_out")
      .outputMode("update").start()
    try {
      var rest = feed
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(9)
        stream.addData(rest.take(take))
        query.processAllAvailable()
        rest = rest.drop(take)
      }
    } finally query.stop()
    val snap = spark.table("pos_cdc_rand_out")
      .as[StreamingIndex.TokenPositionalCdc].collect()
      .groupBy(_.token).map { case (_, vs) => vs.maxBy(_.seq) }.toSeq
    val net = (corpus.keySet -- dead).toSeq.sorted.map(i => (i, corpus(i)))
    val batch = graft.llm.IndexMaintain.positionalIndexWithOverflow(
        net.toDF("doc_id", "text"), "doc_id", "text",
        minDf = 1, maxDf = 1000000)
      .collect().map(r => (r.getString(0), r.getLong(2)) ->
        (r.getLong(1), r.getSeq[Int](3).toSeq)).toMap
    // never-overflowed live tokens: per-doc position lists and net df
    // equal the from-scratch batch build
    val live = snap.filter(t => t.df > 0 && t.docs != null)
    assert(live.nonEmpty && snap.exists(t => t.df > 0 && t.docs == null),
      "schedule must exercise both live and marker rows")
    live.foreach { t =>
      t.docs.foreach { e =>
        assert(batch((t.token, e.doc_id)) == ((t.df, e.positions)),
          s"${t.token}/${e.doc_id}: (${t.df}, ${e.positions}) vs " +
            s"${batch.get((t.token, e.doc_id))}")
      }
      assert(t.docs.size == t.df, s"${t.token}: table/df out of sync")
    }
    // ever-overflowed markers: net df still exact (batch df of any of
    // its rows on the net corpus)
    snap.filter(t => t.df > 0 && t.docs == null).foreach { t =>
      val dfNet = batch.collect {
        case ((tok, _), (d, _)) if tok == t.token => d }.headOption
      assert(dfNet.contains(t.df), s"${t.token} marker df ${t.df} vs $dfNet")
    }
  }

  test("ngram counts CDC: the signed gram table converges to batch " +
    "topNgrams on the net corpus after interleaved ingests/forgets") {
    val rnd = new scala.util.Random(73)
    val vocab = (0 until 5).map(i => ('a' + i).toChar.toString)
    val corpus = (1L to 25L).map(i => (i,
      Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))).toMap
    val dead = corpus.keys.toSeq.sorted.filter(_ % 3 == 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Int, Long, String)]
    val query = StreamingIndex.ngramCountsCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "text", n = 2)
      .writeStream.format("memory").queryName("ngram_cdc_out")
      .outputMode("complete").start()
    try {
      val feed = corpus.toSeq.sortBy(_._1).map { case (i, t) => (1, i, t) } ++
        dead.map(i => (-1, i, corpus(i)))
      feed.grouped(6).foreach { b =>
        stream.addData(b); query.processAllAvailable()
      }
    } finally query.stop()
    val snap = spark.table("ngram_cdc_out").collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .filter(_._2 > 0).toMap
    val net = (corpus.keySet -- dead).toSeq.sorted.map(i => (i, corpus(i)))
    val batch = TextStats.topNgrams(net.toDF("doc_id", "text"),
        "text", n = 2, k = 1000000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snap === batch, s"cdc $snap\nbatch $batch")
    assert(spark.table("ngram_cdc_out").collect()
      .exists(_.getLong(1) == 0L),
      "schedule must fully forget at least one gram (net 0 row)")
  }

  test("BM25 scalars CDC: the signed (L, N) aggregation converges to " +
    "the batch bm25Stats scalars on the net corpus, token-less docs " +
    "counting in N only") {
    val rnd = new scala.util.Random(71)
    val vocab = (0 until 6).map(i => ('a' + i).toChar.toString)
    val corpus = (1L to 30L).map { i =>
      val n = rnd.nextInt(8) // 0-token docs included
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toMap
    val dead = corpus.keys.toSeq.sorted.filter(_ % 4 == 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Int, Long, String)]
    val query = StreamingIndex.bm25ScalarsCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "text")
      .writeStream.format("memory").queryName("bm25_cdc_out")
      .outputMode("complete").start()
    try {
      val feed = corpus.toSeq.sortBy(_._1).map { case (i, t) => (1, i, t) } ++
        dead.map(i => (-1, i, corpus(i)))
      feed.grouped(7).foreach { b =>
        stream.addData(b); query.processAllAvailable()
      }
    } finally query.stop()
    val Array(l, n) = spark.table("bm25_cdc_out").collect()(0)
      .toSeq.map(_.toString.toLong).toArray
    val net = (corpus.keySet -- dead).toSeq.sorted
      .map(i => (i, corpus(i)))
    val (_, _, nl) = TextStats.bm25Stats(net.toDF("doc_id", "text"),
      "doc_id", "text")
    val Array(lB, nB) = nl.collect()(0).toSeq.map(_.toString.toLong).toArray
    assert((l, n) === ((lB, nB)), s"cdc ($l, $n) vs batch ($lB, $nB)")
    assert(n === 23L, "forget schedule must have fired (30 - 7 dead)")
  }

  test("CDC inverted index survives a query RESTART from checkpoint: " +
    "state carries across, committed batches are not reprocessed, and " +
    "the post-restart snapshot equals the batch build on the net corpus") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-cdc-ckpt-").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cdc-out-").resolve("snap").toString
    val stream = MemoryStream[(Int, Long, String)]
    def start() = StreamingIndex.invertedIndexCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "doc_id",
        "text", maxDf = 3)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamingIndex.TokenPostingsCdc],
         _: Long) => b.write.mode("append").parquet(out)
      }
      .start()
    // phase 1: ingest docs 1-3, then STOP the query
    val q1 = start()
    try {
      stream.addData(Seq((1, 1L, "a b"), (1, 2L, "a c")))
      q1.processAllAvailable()
      stream.addData(Seq((1, 3L, "a d")))
      q1.processAllAvailable()
    } finally q1.stop()
    // phase 2: NEW query, SAME checkpoint — per-token state (dfs,
    // postings, seq counters) must be restored; the forget of doc 2
    // and ingest of doc 9 apply on top of it
    val q2 = start()
    try {
      stream.addData(Seq((-1, 2L, "a c"), (1, 9L, "d e")))
      q2.processAllAvailable()
    } finally q2.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("token").orderBy(org.apache.spark.sql.functions
        .col("seq").desc)
    import org.apache.spark.sql.functions._
    val snap = spark.read.parquet(out)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("df") > 0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.getSeq[Long](2)).map(_.toSeq)))
      .toMap
    // net corpus: docs 1 (a b), 3 (a d), 9 (d e)
    assert(snap("a") == ((2L, Some(Seq(1L, 3L)))),
      s"a: ${snap("a")} — a seq/state reset across restart would " +
        "either resurrect doc 2 or restart df")
    assert(snap("b") == ((1L, Some(Seq(1L)))) &&
      snap("d") == ((2L, Some(Seq(3L, 9L)))) &&
      snap("e") == ((1L, Some(Seq(9L)))), snap.toString)
    assert(!snap.contains("c"),
      s"c fully forgotten with doc 2 — must be tombstoned: $snap")
    // restart did NOT reprocess committed batches: doc 1's 'a' row
    // appears in exactly the micro-batches that touched it (batch 0
    // ingest + the post-restart forget emission), never duplicated
    val aRows = spark.read.parquet(out)
      .filter(col("token") === "a").collect()
    assert(aRows.map(_.getLong(3)).sorted.toSeq ==
      aRows.map(_.getLong(3)).distinct.sorted.toSeq,
      s"duplicate seq emissions for 'a': ${aRows.mkString(", ")}")
  }

  test("positional CDC survives a query RESTART from checkpoint: " +
    "per-token position tables and seq counters carry across") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-poscdc-ckpt-").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-poscdc-out-").resolve("snap").toString
    val stream = MemoryStream[(Int, Long, String)]
    def start() = StreamingIndex.positionalIndexCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "doc_id",
        "text", maxDf = 3)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamingIndex.TokenPositionalCdc],
         _: Long) => b.write.mode("append").parquet(out)
      }
      .start()
    val q1 = start()
    try {
      stream.addData(Seq((1, 1L, "a b a"), (1, 2L, "a c")))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      stream.addData(Seq((-1, 2L, "a c"), (1, 9L, "b a")))
      q2.processAllAvailable()
    } finally q2.stop()
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("token").orderBy(col("seq").desc)
    val snap = spark.read.parquet(out)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("df") > 0)
      .as[StreamingIndex.TokenPositionalCdc].collect()
      .map(t => t.token -> t).toMap
    // net corpus: docs 1 ("a b a"), 9 ("b a")
    assert(snap("a").df == 2L && snap("a").docs ==
      Seq(StreamingIndex.DocPositions(1L, Seq(1, 3)),
        StreamingIndex.DocPositions(9L, Seq(2))),
      s"a: ${snap("a")} — restored state must keep doc 1's positions " +
        "and fold the post-restart forget/ingest on top")
    assert(snap("b").df == 2L && !snap.contains("c"), snap.toString)
  }

  test("streaming inverted index equals the batch build on a " +
    "randomized corpus split into random micro-batches") {
    val rnd = new scala.util.Random(59)
    val vocab = (0 until 10).map(i => ('a' + i).toChar.toString)
    val corpus = (1L to 50L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(12))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val query = StreamingIndex.invertedIndexCdc(ingestOnly(stream), "op",
        "doc_id", "text", maxDf = 20)
      .writeStream.format("memory").queryName("index_rand_out")
      .outputMode("update").start()
    try {
      var rest = corpus
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(12)
        stream.addData(rest.take(take))
        query.processAllAvailable()
        rest = rest.drop(take)
      }
    } finally query.stop()
    val snap = spark.table("index_rand_out").collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.getSeq[Long](2)).map(_.toSeq)))
      .groupBy(_._1).map { case (_, vs) => vs.maxBy(_._2) }.toSeq
    val inWindow = snap.filter(t => t._2 >= 2 && t._2 <= 20)
      .map(t => (t._1, t._2, t._3.get)).sortBy(_._1)
    val batch = TextStats.invertedIndex(corpus.toDF("doc_id", "text"),
        "doc_id", "text", minDf = 2, maxDf = 20)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Long](2).toSeq)).sortBy(_._1).toSeq
    assert(inWindow == batch,
      s"stream ${inWindow.size} rows vs batch ${batch.size}")
    // overflowed terms: df exact vs the unwindowed batch df
    val dfAll = TextStats.invertedIndex(corpus.toDF("doc_id", "text"),
        "doc_id", "text", minDf = 1, maxDf = 1000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    snap.filter(_._3.isEmpty).foreach { case (tok, df, _) =>
      assert(df == dfAll(tok), s"$tok: stream df $df vs ${dfAll(tok)}")
    }
  }

  test("BM25 scalars CDC survive a query RESTART from checkpoint: the " +
    "signed aggregation state carries across and committed batches " +
    "are not reprocessed") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bm25cdc-ckpt-").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-bm25cdc-out-").resolve("snap").toString
    val stream = MemoryStream[(Int, Long, String)]
    def start() = StreamingIndex.bm25ScalarsCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "text")
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("complete")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("overwrite").parquet(out) // complete-mode snapshot
      }
      .start()
    // phase 1: ingest docs 1 (3 tokens) + 2 (2 tokens), STOP
    val q1 = start()
    try {
      stream.addData(Seq((1, 1L, "a b c"), (1, 2L, "d e")))
      q1.processAllAvailable()
    } finally q1.stop()
    // phase 2: NEW query, SAME checkpoint — only the forget of doc 2
    // and ingest of doc 3 arrive; a state reset would leave L = -1,
    // N = 0, a replay would double-count phase 1
    val q2 = start()
    try {
      stream.addData(Seq((-1, 2L, "d e"), (1, 3L, "f")))
      q2.processAllAvailable()
    } finally q2.stop()
    val Array(l, n) = spark.read.parquet(out).collect()(0)
      .toSeq.map(_.toString.toLong).toArray
    assert((l, n) === ((4L, 2L)),
      s"restored scalars ($l, $n) != net-corpus batch (4, 2)")
  }

  test("ngram counts CDC survive a query RESTART from checkpoint: the " +
    "signed gram table carries across, including a gram netting to " +
    "zero only after the restart") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ngramcdc-ckpt-").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-ngramcdc-out-").resolve("snap").toString
    val stream = MemoryStream[(Int, Long, String)]
    def start() = StreamingIndex.ngramCountsCdc(
        stream.toDF().toDF("op", "doc_id", "text"), "op", "text", n = 2)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("complete")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("overwrite").parquet(out)
      }
      .start()
    // phase 1: docs 1 ("a b a" → 'a b','b a') + 2 ("a b c" → 'a b',
    // 'b c'), STOP
    val q1 = start()
    try {
      stream.addData(Seq((1, 1L, "a b a"), (1, 2L, "a b c")))
      q1.processAllAvailable()
    } finally q1.stop()
    // phase 2: forget doc 2 (nets 'b c' to zero — only correct if doc
    // 2's phase-1 counts were restored), ingest doc 3 ("b a x")
    val q2 = start()
    try {
      stream.addData(Seq((-1, 2L, "a b c"), (1, 3L, "b a x")))
      q2.processAllAvailable()
    } finally q2.stop()
    val snap = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snap.filter(_._2 > 0) ===
      Map("a b" -> 1L, "b a" -> 2L, "a x" -> 1L),
      s"net gram table after restart: $snap")
    assert(snap.get("b c").contains(0L),
      s"'b c' must net to exactly zero across the restart: $snap")
  }

  test("CHECKPOINT LOSS degrades to a from-scratch rebuild that " +
    "converges (★r20 resource-exhaustion axis): offsets and state die " +
    "together, so the replay is self-consistent — the new snapshot " +
    "equals the net-corpus build, never a double-count") {
    // The failure being modeled: the checkpoint volume vanishes
    // between runs (disk loss, retention policy, fat-fingered rm).
    // Structured Streaming keeps offsets AND the ±1 state in the SAME
    // checkpoint, so losing it cannot double-apply deltas: the new
    // query re-reads the source from the beginning and rebuilds the
    // identical state. The one operational requirement — pinned here
    // by using a FRESH snapshot sink for the new query — is that the
    // post-loss run gets a fresh sink epoch: per-token seq counters
    // restart with the state, so appending replayed emissions into the
    // OLD snapshot could collide a restarted seq with a dead one.
    // FILE source (the production ingest shape): unlike MemoryStream —
    // which PURGES committed batches, so a fresh checkpoint cannot
    // re-read them — a file source with a fresh checkpoint re-lists
    // the whole watch directory, which is exactly the replayable-
    // source semantics (Kafka retention, file lake) this axis needs.
    val watch = java.nio.file.Files
      .createTempDirectory("graft-ckptloss-feed-")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ckptloss-").toString
    def outDir() = java.nio.file.Files
      .createTempDirectory("graft-ckptloss-out-").resolve("snap").toString
    def drop(i: Int, lines: Seq[String]): Unit =
      java.nio.file.Files.write(watch.resolve(f"batch-$i%02d.json"),
        (lines.mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("op INT, doc_id BIGINT, text STRING")
    def start(out: String) = StreamingIndex.invertedIndexCdc(
        spark.readStream.schema(schema).json(watch.toString),
        "op", "doc_id", "text", maxDf = 3)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamingIndex.TokenPostingsCdc],
         _: Long) => b.write.mode("append").parquet(out)
      }
      .start()
    // phase 1: ingest docs 1-3, stop, then LOSE the checkpoint
    val out1 = outDir()
    val q1 = start(out1)
    try {
      drop(0, Seq("""{"op":1,"doc_id":1,"text":"a b"}""",
        """{"op":1,"doc_id":2,"text":"a c"}"""))
      q1.processAllAvailable()
      drop(1, Seq("""{"op":1,"doc_id":3,"text":"a d"}"""))
      q1.processAllAvailable()
    } finally q1.stop()
    graft.tools.ArtifactStore.deleteRecursively(
      java.nio.file.Paths.get(ckpt))
    // phase 2: new query, SAME (now empty) checkpoint path, FRESH
    // sink — replays every file, then applies the forget + new doc
    val out2 = outDir()
    val q2 = start(out2)
    try {
      drop(2, Seq("""{"op":-1,"doc_id":2,"text":"a c"}""",
        """{"op":1,"doc_id":9,"text":"d e"}"""))
      q2.processAllAvailable()
    } finally {
      q2.stop()
      graft.tools.ArtifactStore.deleteRecursively(watch)
    }
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("token").orderBy(col("seq").desc)
    val snap = spark.read.parquet(out2)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("df") > 0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.getSeq[Long](2)).map(_.toSeq)))
      .toMap
    // net corpus: docs 1 (a b), 3 (a d), 9 (d e) — identical to the
    // restart test's expectation: the rebuild double-counted nothing
    assert(snap("a") == ((2L, Some(Seq(1L, 3L)))),
      s"a after checkpoint loss: ${snap("a")} — a replayed ingest " +
        "counted twice would read df=4+")
    assert(snap("b") == ((1L, Some(Seq(1L)))) &&
      snap("d") == ((2L, Some(Seq(3L, 9L)))) &&
      snap("e") == ((1L, Some(Seq(9L)))), snap.toString)
    assert(!snap.contains("c"), s"c must be gone with doc 2: $snap")
    // and the replay REALLY happened: docs 1 and 3 arrived only in
    // phase-1 files, so their presence in the FRESH sink proves the
    // new query re-read the old files (a rebuild, not a resume). Doc
    // 2 is deliberately absent from this check: the file source may
    // fold its replayed ingest and its forget into ONE micro-batch,
    // where the ±1 aggregation nets it to zero before any emission —
    // itself a correctness property, not a replay failure.
    val replayedDocs = spark.read.parquet(out2)
      .select(explode(col("postings")).as("d")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(Set(1L, 3L).subsetOf(replayedDocs),
      s"expected a full replay through the fresh sink: $replayedDocs")
  }
}
