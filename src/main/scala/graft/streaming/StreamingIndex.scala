package graft.streaming

import graft.llm.TextStats
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental maintenance of the retrieval structures over a STREAM —
  * the monitoring side of [[graft.llm.TextStats]]'s index family, the
  * way [[StreamingSketch]] is the sketches': a pipeline that keeps the
  * n-gram frequency table, the BM25 scalars and the inverted and
  * positional indexes current over an unbounded document feed.
  *
  * Every feed is SIGNED: each row carries an op, +1 to ingest the
  * document and −1 to forget it. An append-only feed is a feed whose
  * op is always +1 (`withColumn("op", lit(1))`); there is no separate
  * insert-only operator.
  *
  * Boundedness is per-surface and explicit:
  *
  *   - [[ngramCountsCdc]] and [[bm25ScalarsCdc]] are plain signed
  *     streaming aggregations: state is the net gram table
  *     (VOCABULARY-sized, the state the batch build's shuffle holds)
  *     or one (L, N) row.
  *   - [[invertedIndexCdc]] and [[positionalIndexCdc]] are custom
  *     `flatMapGroupsWithState` state over one shared ±1 transition
  *     ([[foldCdc]]): per token an exact net df plus the per-document
  *     entries ONLY WHILE the token has never exceeded maxDf, so state
  *     per token is O(min(peak df, maxDf)) forever — the batch
  *     build's "stopword lists never enter a buffer" guarantee,
  *     carried to unbounded input.
  *
  * All reuse the batch tokenization ([[TextStats.tokenArray]]), so a
  * snapshot of the streaming state equals the batch structure over
  * the net rows seen so far — the differential the spec pins. */
object StreamingIndex {

  /** The validated op of a CDC row as a long: +1 or −1, and anything
    * else — NULL included, which is feed corruption, not tolerable
    * noise — fails the stream loudly map-side. */
  private def cdcOp(opCol: String): Column =
    when(col(opCol) === 1 || col(opCol) === -1, col(opCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("CDC op must be +1 (ingest) or -1 (forget), got "),
        coalesce(col(opCol).cast("string"), lit("NULL")))).cast("long"))

  /** Continuously-maintained n-gram frequency table (`ngram`, `freq`)
    * over a ±1 CDC feed (the [[StreamingSketch.histogramCountersSigned]]
    * pattern): op = +1 adds the document's gram occurrences, −1
    * removes them; aggregation state is the exact net gram table
    * (vocabulary-sized). Readers apply the `freq > 0` cut and the
    * (freq desc, ngram asc) `limit` on the snapshot, after which it
    * equals batch [[TextStats.topNgrams]] on the net corpus. */
  def ngramCountsCdc(stream: DataFrame, opCol: String, textCol: String,
                     n: Int): DataFrame =
    stream
      // token array projected BEFORE gramming — gramsOf's
      // higher-order lambda would re-tokenize ~n× otherwise
      .select(cdcOp(opCol).as("_op"), TextStats.tokenArray(textCol).as("_ts"))
      .select(col("_op"),
        explode(TextStats.gramsOf(col("_ts"), n)).as("ngram"))
      .groupBy(col("ngram")).agg(sum(col("_op")).as("freq"))

  /** Continuously-maintained BM25 (L, N) SCALARS over a ±1 CDC feed —
    * the [[graft.llm.TextStats.bm25Stats]] `nl` frame as one signed
    * streaming aggregation (the
    * [[StreamingSketch.histogramCountersSigned]] pattern): state is
    * the single (`_L`, `_N`) row, ingest adds the doc's token count
    * and 1, forget subtracts them — token-less docs contribute 0 to L
    * and ±1 to N, exactly the batch convention. The per-row tf/dl
    * tables need no operator: they are row streams a sink compacts
    * (a doc's rows simply appear/disappear with it); df rides
    * [[invertedIndexCdc]]. Snapshot (complete/update mode) equals the
    * batch scalars of the net corpus — the differential the spec
    * pins. */
  def bm25ScalarsCdc(stream: DataFrame, opCol: String,
                     textCol: String): DataFrame =
    stream
      .select(cdcOp(opCol).as("_op"),
        // explicit null guard: under legacy (non-ANSI) configs
        // size(NULL) is -1, which would shift L by -op per null-text
        // doc while batch bm25Stats leaves L untouched — pin the
        // batch convention (0 tokens) regardless of
        // spark.sql.ansi.enabled
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(TextStats.tokenArray(textCol)).cast("long"))
          .as("_dl"))
      .agg(sum(col("_op") * col("_dl")).as("_L"),
        sum(col("_op")).as("_N"))

  /** One CDC snapshot row: `seq` is a per-token update counter — df
    * can DECREASE, so "latest = max df" does not identify the current
    * row; readers take the max-`seq` row per token instead. */
  case class TokenPostingsCdc(token: String, df: Long,
                              postings: Seq[Long], seq: Long)

  // package-private, not object-private: Catalyst's state serializer
  // codegen needs bytecode-level access to the constructor/getters
  private[streaming] final case class CdcState(
      df: Long, postings: Seq[Long], overflowed: Boolean, seq: Long)

  /** One document's positions of one token, inside a
    * [[TokenPositionalCdc]] snapshot. Positions are 1-based, sorted —
    * the batch [[graft.llm.IndexMaintain.positionalIndexWithOverflow]]
    * convention. */
  case class DocPositions(doc_id: Long, positions: Seq[Int])

  /** One CDC snapshot row of the POSITIONAL index: the token's whole
    * per-doc position table (`docs`, sorted by doc id; null once the
    * token has ever overflowed — the honest marker), exact net `df`,
    * and the per-token `seq` readers take the max of. */
  case class TokenPositionalCdc(token: String, df: Long,
                                docs: Seq[DocPositions], seq: Long)

  private[streaming] final case class PosCdcState(
      df: Long, docs: Seq[DocPositions], overflowed: Boolean, seq: Long)

  /** One token's state in [[foldCdc]]: exact net `df`, the per-document
    * entries (empty once `overflowed`), and the emission counter. */
  private final case class Fold[V](df: Long, docs: Map[Long, V],
                                   overflowed: Boolean, seq: Long)

  /** The one ±1 transition of both CDC indexes: applies a token's ops
    * of one micro-batch (op, doc id, the doc's entry) to `prev` and
    * returns the next state, or None when no op changed it.
    *
    *   - Order: ingests apply before forgets, each in ascending doc
    *     order — iterator order after the shuffle is partition order,
    *     so an unsorted fold would make a same-batch +1/−1 pair for
    *     one doc nondeterministic.
    *   - While un-overflowed, a +1 for a doc already present or a −1
    *   for one absent is ignored (the entry set absorbs re-deliveries,
    *     both directions). Once overflowed the ±1s MUST be
    *     exactly-once: the df counter is all the state there is (the
    *     [[StreamingSketch.cmsCountersSigned]] contract).
    *   - Overflow: the moment df exceeds `maxDf` the entries are
    *     dropped for good. A later df drop into the window keeps the
    *     honest MARKER (exact df, no entries), exactly
    *     [[graft.llm.IndexMaintain.indexWithOverflow]]'s overflow row:
    *     a stream cannot re-scan its history, so the crossing-down
    *     rebuild stays a batch job over the stored corpus.
    *   - Tombstone: a token whose net df reaches 0 shrinks to a
    *     minimal state (df 0, no entries, seq kept — O(1), bounded by
    *     vocabulary, not stream length). Dropping state entirely would
    *     restart seq at 1 on re-ingest and max-seq readers would
    *     resurrect the tombstone. df = 0 proves the entry set is
    *     exactly empty, so overflow clears and maintenance resumes
    *     from scratch on re-ingest, as a batch rebuild over the net
    *     corpus would. */
  private def foldCdc[V](prev: Fold[V], ops: Seq[(Int, Long, V)],
                         maxDf: Int, token: String): Option[Fold[V]] = {
    var df = prev.df
    var overflowed = prev.overflowed
    var docs = prev.docs
    var changed = false
    ops.sortBy { case (op, id, _) => (-op, id) }.foreach {
      case (1, id, v) =>
        if (overflowed) { df += 1; changed = true }
        else if (!docs.contains(id)) {
          docs += id -> v; df += 1; changed = true
          if (df > maxDf) { overflowed = true; docs = Map.empty }
        }
      case (-1, id, _) =>
        if (overflowed) { df -= 1; changed = true }
        else if (docs.contains(id)) { docs -= id; df -= 1; changed = true }
      case (op, id, _) => throw new IllegalArgumentException(
        s"CDC op must be +1 (ingest) or -1 (forget), got $op " +
          s"for (token=$token, doc=$id)")
    }
    if (!changed) None
    else if (df <= 0L) Some(Fold(0L, Map.empty, overflowed = false,
      prev.seq + 1))
    else Some(Fold(df, docs, overflowed, prev.seq + 1))
  }

  /** Continuously-maintained inverted index over a ±1 CDC feed — the
    * full ingest/forget loop ([[graft.llm.IndexMaintain]]'s batch
    * pair) as ONE streaming operator. Input rows are (`op`, id,
    * text): op = +1 ingests the document, op = −1 forgets it.
    *
    * State per token is the batch overflow contract carried to CDC
    * ([[foldCdc]]): exact NET df always, the sorted posting set ONLY
    * while the token has never exceeded `maxDf`; emitted rows carry
    * null postings once overflowed and on the df-0 tombstone.
    * Within-document repeated tokens are collapsed map-side
    * (`array_distinct`), the batch build's per-(token, doc) distinct.
    * A NULL-id row is skipped (no identity to key state on, the
    * find-side null-identifier rule); a NULL op fails loudly.
    *
    * A df window is applied by the READER on the max-`seq` snapshot
    * (`df >= minDf AND df <= maxDf`), like the batch build's window.
    * Each micro-batch buffers a token's rows on the executor heap —
    * O(hot-token rows per batch), never stream-length-bounded. */
  def invertedIndexCdc(stream: DataFrame, opCol: String, idCol: String,
                       textCol: String, maxDf: Int)
      : Dataset[TokenPostingsCdc] = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .filter(col(idCol).isNotNull)
      .select(cdcOp(opCol).cast("int").as("op"),
        col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(TextStats.tokenArray(textCol))).as("token"))
      .as[(Int, Long, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[CdcState, TokenPostingsCdc](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (token: String, rows: Iterator[(Int, Long, String)],
         state: GroupState[CdcState]) =>
          val prev = state.getOption
            .map(s => Fold(s.df, s.postings.map(_ -> (())).toMap,
              s.overflowed, s.seq))
            .getOrElse(Fold(0L, Map.empty[Long, Unit], false, 0L))
          foldCdc(prev, rows.map(r => (r._1, r._2, ())).toSeq, maxDf,
            token) match {
            case None => Iterator.empty
            case Some(next) =>
              val postings = next.docs.keys.toVector.sorted
              state.update(CdcState(next.df, postings, next.overflowed,
                next.seq))
              Iterator.single(TokenPostingsCdc(token, next.df,
                if (next.overflowed || next.df == 0L) null else postings,
                next.seq))
          }
      }
  }

  /** Continuously-maintained POSITIONAL index over a ±1 CDC feed —
    * [[invertedIndexCdc]]'s contract ([[foldCdc]]) carried to the
    * (token, doc, positions) shape of
    * [[graft.llm.IndexMaintain.positionalIndexWithOverflow]]: exact
    * NET df always; the per-doc position lists ONLY while the token
    * has never exceeded `maxDf` (null `docs` once overflowed and on
    * the df-0 tombstone).
    *
    * Ingest contract: ±1 per document exactly-once, and a document's
    * +1 and −1 must not share a micro-batch (the fold's
    * ingest-before-forget order is deterministic, but only meaningful
    * across batches). A document's positions for a token all arrive
    * with its one exploded input row, so the state never sees partial
    * position lists. NULL ids and ops are handled as in
    * [[invertedIndexCdc]]. */
  def positionalIndexCdc(stream: DataFrame, opCol: String, idCol: String,
                         textCol: String, maxDf: Int)
      : Dataset[TokenPositionalCdc] = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .filter(col(idCol).isNotNull)
      .select(cdcOp(opCol).cast("int").as("op"),
        col(idCol).cast("long").as("doc_id"),
        posexplode(TextStats.tokenArray(textCol)).as(Seq("_pos0", "token")))
      .as[(Int, Long, Int, String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[PosCdcState, TokenPositionalCdc](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (token: String, rows: Iterator[(Int, Long, Int, String)],
         state: GroupState[PosCdcState]) =>
          val prev = state.getOption
            .map(s => Fold(s.df,
              s.docs.map(e => e.doc_id -> e.positions).toMap,
              s.overflowed, s.seq))
            .getOrElse(Fold(0L, Map.empty[Long, Seq[Int]], false, 0L))
          val ops = rows.toSeq.groupBy(r => (r._1, r._2)).toSeq.map {
            case ((op, id), rs) => (op, id, rs.map(_._3 + 1).sorted)
          }
          foldCdc(prev, ops, maxDf, token) match {
            case None => Iterator.empty
            case Some(next) =>
              val table = next.docs.toVector.sortBy(_._1)
                .map { case (d, ps) => DocPositions(d, ps) }
              state.update(PosCdcState(next.df, table, next.overflowed,
                next.seq))
              Iterator.single(TokenPositionalCdc(token, next.df,
                if (next.overflowed || next.df == 0L) null else table,
                next.seq))
          }
      }
  }
}
