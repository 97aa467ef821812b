package graft.streaming

import graft.SparkSpec
import graft.llm.{Bpe, Sketch}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming sketch maintenance must equal the batch sketch of the
  * rows seen so far — the differential that pins every surface:
  * CMS counters, HLL registers (and the summarized estimate row),
  * and the Bloom bitmap, each fed across multiple micro-batches. */
class StreamingSketchSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma alpha"),
    (2L, "beta delta epsilon"),
    (3L, "zeta eta theta alpha beta"),
    (4L, "iota kappa lambda mu nu"),
    (5L, "alpha beta gamma delta epsilon zeta"))
  private def batches = Seq(docs.take(2), docs.slice(2, 4), docs.drop(4))

  private def runComplete(mk: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame, name: String): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    // an append-only feed: op +1 on every row (ignored by the
    // monotone sketches)
    val query = mk(stream.toDF().toDF("doc_id", "text")
        .withColumn("op", org.apache.spark.sql.functions.lit(1)))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      batches.foreach { b => stream.addData(b); query.processAllAvailable() }
    } finally query.stop()
  }

  test("streaming CMS counters converge to the batch counter table") {
    runComplete(StreamingSketch.cmsCountersSigned(_, "text", "op",
      depth = 3, width = 16), "cms_out")
    val streamed = spark.table("cms_out")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val batch = Sketch.countMinCounters(docs.toDF("doc_id", "text"),
        "text", depth = 3, width = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed == batch, s"stream $streamed\nbatch  $batch")
    assert(streamed.size <= 3 * 16, "state exceeded depth x width")
  }

  test("streaming HLL registers converge to the batch registers and " +
    "summarize to the batch estimate row") {
    runComplete(StreamingSketch.hllRegisters(_, "text", b = 4), "hll_out")
    val streamed = spark.table("hll_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val batchRegs = Sketch.hllRegisters(
        Bpe.wordFrequencies(docs.toDF("doc_id", "text"), "text")
          .select($"w"), b = 4)
    val batch = batchRegs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(streamed == batch, s"stream $streamed\nbatch  $batch")
    assert(streamed.size <= 16, "state exceeded m registers")
    val sumStream = Sketch.hllSummarize(spark.table("hll_out"), b = 4)
      .collect().head
    val sumBatch = Sketch.hllDistinct(docs.toDF("doc_id", "text"),
      "text", b = 4).collect().head
    assert(sumStream == sumBatch, s"$sumStream vs $sumBatch")
  }

  test("streaming Bloom words converge to the batch bitmap, any order") {
    runComplete(StreamingSketch.bloomWords(_, "text", k = 3,
      mBits = 256), "bloom_out")
    val streamed = spark.table("bloom_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batchBitmap = Sketch.bloomBuild(docs.toDF("doc_id", "text"),
      "text", k = 3, mBits = 256)
    val fromStream = new Array[Long](256 / 64)
    streamed.foreach { case (i, w) => fromStream(i.toInt) = w }
    assert(fromStream.toSeq == batchBitmap.toSeq,
      s"stream ${fromStream.toSeq}\nbatch  ${batchBitmap.toSeq}")
  }

  test("streaming histogram counters converge to the batch bucket " +
    "table; a snapshot percentile read equals the batch read") {
    import org.apache.spark.sql.functions.{col, size, split}
    val valueExpr = size(split(col("text"), " ")).cast("long")
    runComplete(StreamingSketch.histogramCountersSigned(_, valueExpr, "op"),
      "hist_out")
    val streamed = spark.table("hist_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val batchCounters = Sketch.logHistogramCounters(
      docs.toDF("doc_id", "text"), valueExpr)
    val batch = batchCounters
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(streamed == batch, s"stream $streamed\nbatch  $batch")
    assert(streamed.size <= 65, "state exceeded the 65-bucket bound")
    val pStream = Sketch.logHistogramPercentilesFromCounters(
      spark.table("hist_out"), Seq(50, 95)).collect().map(_.toSeq).toSeq
    val pBatch = Sketch.logHistogramPercentilesFromCounters(
      batchCounters, Seq(50, 95)).collect().map(_.toSeq).toSeq
    assert(pStream === pBatch)
  }

  test("signed histogram feed (adds then deletes) converges to the " +
    "batch histogram of the NET corpus") {
    import org.apache.spark.sql.functions.{col, size, split}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val valueExpr = size(split(col("text"), " ")).cast("long")
    val stream = MemoryStream[(Long, String, Int)]
    val query = StreamingSketch.histogramCountersSigned(
        stream.toDF().toDF("doc_id", "text", "op"), valueExpr, "op")
      .writeStream.format("memory").queryName("hist_signed_out")
      .outputMode("complete").start()
    try {
      stream.addData(docs.map(d => (d._1, d._2, 1)))
      query.processAllAvailable()
      stream.addData(Seq(docs(1), docs(3)).map(d => (d._1, d._2, -1)))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("hist_signed_out")
      .filter($"n" > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val net = Seq(docs(0), docs(2), docs(4))
    val batch = Sketch.logHistogramCounters(
        net.toDF("doc_id", "text"), valueExpr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(streamed == batch, s"stream $streamed\nbatch  $batch")
  }

  test("signed CMS feed (adds then deletes) converges to the batch " +
    "sketch of the NET corpus — streaming forget with no rebuild") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String, Int)]
    val query = StreamingSketch.cmsCountersSigned(
        stream.toDF().toDF("doc_id", "text", "op"), "text", "op",
        depth = 3, width = 16)
      .writeStream.format("memory").queryName("cms_signed_out")
      .outputMode("complete").start()
    try {
      // ingest all five docs, then forget docs 2 and 5 in a later batch
      stream.addData(docs.take(3).map(d => (d._1, d._2, 1)))
      query.processAllAvailable()
      stream.addData(docs.drop(3).map(d => (d._1, d._2, 1)))
      query.processAllAvailable()
      stream.addData(Seq(docs(1), docs(4)).map(d => (d._1, d._2, -1)))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("cms_signed_out")
      .filter($"cnt" > 0) // the reader-side cut: zeroed registers drop
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val net = Seq(docs(0), docs(2), docs(3))
    val batch = Sketch.countMinCounters(net.toDF("doc_id", "text"),
        "text", depth = 3, width = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed == batch, s"stream $streamed\nbatch  $batch")
  }
}
