package graft.streaming

import graft.llm.Sketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of the sketching summaries over a STREAM —
  * the monitoring side of [[graft.llm.Sketch]]: a pipeline that keeps
  * a Count-Min frequency table, HyperLogLog registers, or a Bloom
  * bitmap over an unbounded document feed, continuously.
  *
  * Each surface is a plain streaming AGGREGATION whose state IS the
  * sketch — depth×width counters, m registers, mBits/64 bitmap words —
  * never per-document or per-token row state, so the query runs
  * forever in bounded memory with no watermark/eviction tuning. All
  * bucket/rank/bit arithmetic reuses the exact batch expressions
  * ([[Sketch.cmsBucket]], [[Sketch.hllRegisters]],
  * [[Sketch.bloomPos]]), so a snapshot of the streaming state equals
  * the batch sketch of the rows seen so far — the differential the
  * spec pins.
  *
  * The per-row fan-out (depth CMS rows, k Bloom positions) is ONE
  * `explode` of a literal-sized array — map-side, no self-union of
  * the stream, codegen-friendly.
  *
  * The linear summaries (CMS counters, histogram buckets) take a
  * SIGNED feed: each row carries an op, +1 to ingest and −1 to
  * forget. An append-only feed is a feed whose op is always +1
  * (`withColumn("op", lit(1))`). HLL registers and the Bloom bitmap
  * are monotone (max, bit-or) and cannot subtract, so they take an
  * append-only feed and rebuild on forget.
  */
object StreamingSketch {

  /** The same whitespace tokenization as [[graft.llm.Bpe.wordFrequencies]]
    * (the batch sketches' input), as a streaming-safe projection. */
  private def toks(stream: DataFrame, textCol: String): DataFrame =
    stream.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)

  /** Continuously-maintained CMS counter table (`row`, `bucket`,
    * `cnt`) over a SIGNED feed — state bounded at depth×width rows,
    * and the streaming side of [[Sketch.cmsSubtract]]'s linearity:
    * each arriving document carries `opCol` = +1 (ingest) or −1
    * (forget), and every one of its token occurrences contributes
    * that sign to its buckets, so the aggregation state is the exact
    * net counter table of (adds − deletes) seen so far — a deletion
    * feed maintains the sketch with no rebuild and no extra state.
    * Occurrences count directly (no word-frequency pre-collapse: a
    * stream can't re-aggregate its past), which sums to the identical
    * counters. Order-independent by commutativity of the sum; a
    * register can read ≤ 0 transiently when a delete's add has not
    * yet arrived (or forever, if the feed violates the
    * delete-what-was-added contract) — readers apply the `cnt > 0`
    * cut, after which a snapshot equals the batch sketch of the net
    * corpus (the differential the spec pins). */
  def cmsCountersSigned(stream: DataFrame, textCol: String,
                        opCol: String, depth: Int, width: Int)
      : DataFrame = {
    require(depth >= 1 && width >= 1,
      s"need depth, width >= 1; got $depth, $width")
    stream
      .select(col(opCol).cast("long").as("_op"),
        explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("_op"), explode(array((0 until depth).map { r =>
        struct(lit(r).as("row"),
          Sketch.cmsBucket(col("w"), r, width).as("bucket"))
      }: _*)).as("_f"))
      .groupBy(col("_f.row").as("row"), col("_f.bucket").as("bucket"))
      .agg(sum(col("_op")).as("cnt"))
  }

  /** Continuously-maintained bit-length histogram counters (`bucket`,
    * `n`) over a SIGNED feed — the streaming side of
    * [[Sketch.logHistogramCounters]] (the [[cmsCountersSigned]]
    * pattern): `opCol` = +1 ingest / −1 forget, and the aggregation
    * state is the exact net bucket table, bounded at ≤ 65 rows however
    * long the feed runs — deletions maintain the histogram in-stream
    * with no rebuild. Readers apply the `n > 0` cut, after which a
    * snapshot read through
    * [[Sketch.logHistogramPercentilesFromCounters]] equals the batch
    * histogram of the net corpus. `valueExpr` is any non-negative
    * integer expression over the stream's columns (a length, a token
    * count). */
  def histogramCountersSigned(stream: DataFrame,
                              valueExpr: org.apache.spark.sql.Column,
                              opCol: String): DataFrame =
    stream.select(col(opCol).cast("long").as("_op"), valueExpr.as("_v"))
      .select(col("_op"), Sketch.logBucket(col("_v")).as("bucket"))
      .groupBy(col("bucket")).agg(sum(col("_op")).as("n"))

  /** Continuously-maintained HLL register table (`bucket`, `reg`) —
    * state bounded at 2^b rows. Repeated tokens are absorbed by the
    * `max`, so no distinct pass is needed on the stream. */
  def hllRegisters(stream: DataFrame, textCol: String, b: Int): DataFrame =
    Sketch.hllRegisters(toks(stream, textCol), b)

  /** Continuously-maintained Bloom bitmap words (`word_idx`, `word`)
    * — state bounded at mBits/64 rows. `bit_or` is idempotent and
    * commutative, so any arrival order yields the batch bitmap. */
  def bloomWords(stream: DataFrame, keyCol: String, k: Int,
                 mBits: Int): DataFrame = {
    require(k >= 1 && mBits >= 64 && mBits % 64 == 0,
      s"need k >= 1 and mBits a positive multiple of 64; got $k, $mBits")
    stream
      .select(explode(array((0 until k).map { r =>
        Sketch.bloomPos(col(keyCol), r, mBits)
      }: _*)).as("_p"))
      .select(expr("_p div 64").as("word_idx"),
        expr("shiftleft(cast(1 as bigint), cast(_p % 64 as int))")
          .as("_bit"))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(_bit)").as("word"))
  }
}
