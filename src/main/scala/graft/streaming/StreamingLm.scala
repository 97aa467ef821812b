package graft.streaming

import graft.llm.TextStats
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of the language-model inputs over a STREAM
  * — the monitoring side of [[TextStats.unigramLm]] /
  * [[TextStats.bigramLm]], the way [[StreamingSketch]] is the
  * sketches': keep the token and adjacent-pair frequency tables
  * current over an unbounded document feed, and rebuild the
  * (literal-sized) model from a snapshot on demand — the shape a
  * production perplexity filter wants, where the corpus LM refreshes
  * continuously but scoring always uses a pinned snapshot.
  *
  * Both maintained surfaces are plain streaming aggregations whose
  * state is VOCABULARY-sized (distinct tokens / distinct adjacent
  * pairs — corpus properties, not stream-length ones; the identical
  * boundedness argument as [[StreamingIndex.ngramCountsCdc]]), built
  * from the exact batch tokenization, so a snapshot equals the batch
  * frequency table over the rows seen so far. Model REBUILD from a
  * snapshot is driver-side arithmetic over ≤ vocab rows — the spec
  * pins rebuild(snapshot) == the batch learner, which differentials
  * both the frequency convergence and the shared cost math. */
object StreamingLm {

  /** Continuously-maintained token frequency table (`token`, `freq`)
    * — [[TextStats.unigramLm]]'s input aggregation as a streaming
    * query in complete mode. */
  def tokenFrequencies(stream: DataFrame, textCol: String): DataFrame =
    stream
      .select(explode(filter(TextStats.tokens(col(textCol)),
        t => length(t) > 0)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))

  /** Continuously-maintained adjacent-pair frequency table (`ngram`,
    * `freq`) — [[StreamingIndex.ngramCountsCdc]] at n = 2 over an
    * append-only feed (op +1 on every row), re-exported here because
    * it is exactly [[TextStats.bigramLm]]'s pair input. */
  def pairFrequencies(stream: DataFrame, textCol: String): DataFrame =
    StreamingIndex.ngramCountsCdc(stream.withColumn("_ingest", lit(1)),
      "_ingest", textCol, 2)

  /** Rebuild the [[TextStats.unigramLm]] model from a frequency-table
    * snapshot: the same (freq desc, token asc) cut and micro-nat cost
    * arithmetic, driver-side over ≤ |vocabulary| rows. */
  def unigramFromFrequencies(freqs: Seq[(String, Long)], vocabSize: Int)
      : (Seq[(String, Long)], Long) = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val total = freqs.map(_._2).sum
    require(total > 0, "snapshot has no tokens — cannot fit a unigram LM")
    val top = freqs.sortBy { case (t, f) => (-f, t) }.take(vocabSize)
    def costMicro(mass: Long): Long =
      math.round(math.log(total.toDouble / mass) * 1e6)
    (top.map { case (t, f) => (t, costMicro(f)) },
      costMicro(math.max(total - top.map(_._2).sum, 1L)))
  }

  /** Rebuild the [[TextStats.bigramLm]] model from token + pair
    * frequency snapshots: the same (freq desc, bigram asc) cut, the
    * same corpus-count conditioning (every retained pair's first
    * token is present in the token table by construction — a pair
    * occurrence IS a token occurrence). */
  def bigramFromFrequencies(tokenFreqs: Seq[(String, Long)],
                            pairFreqs: Seq[(String, Long)],
                            vocabSize: Int, bigramSize: Int)
      : TextStats.BigramModel = {
    require(bigramSize >= 1, s"bigramSize must be >= 1, got $bigramSize")
    val (vocab, oov) = unigramFromFrequencies(tokenFreqs, vocabSize)
    val uniF = tokenFreqs.toMap
    val pairs = pairFreqs.sortBy { case (g, c) => (-c, g) }.take(bigramSize)
      .map { case (g, c12) =>
        val Array(w1, w2) = g.split(' ')
        (w1, w2, math.round(math.log(uniF(w1).toDouble / c12) * 1e6))
      }
    TextStats.BigramModel(vocab, oov, pairs, TextStats.StupidBackoffMicro)
  }
}
