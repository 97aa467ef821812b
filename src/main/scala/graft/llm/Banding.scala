package graft.llm

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Shared banding-join kernel for the LSH families (MinHash, SimHash,
  * random-hyperplane): turns a banded `(_id, _band)` frame into candidate
  * pairs with a HOT-BUCKET GUARD.
  *
  * The naive banded self-join (`a._band === b._band && a._id < b._id`)
  * materializes B²/2 candidate rows for a bucket of B members — on a real
  * corpus, thousands of near-identical boilerplate documents land in ONE
  * band key and a single task owns the whole quadratic blow-up. The guard
  * bounds that:
  *
  *   - a bucket census runs inline (one window pass over the banded rows —
  *     ids and band keys only, no document bodies);
  *   - the first `maxBucket` members of each bucket (by id) join pairwise
  *     as usual — buckets at or under the cap are byte-identical to the
  *     unguarded join;
  *   - members BEYOND the cap are linked by a STAR to the bucket's minimum
  *     id instead of pairwise: every member still surfaces in at least one
  *     candidate pair (a 10k-copy boilerplate cluster still dedups — the
  *     verify step scores rep↔member exactly and transitive grouping
  *     recovers the cluster), but the bucket contributes
  *     O(maxBucket² + B) candidates instead of O(B²);
  *   - capped buckets are AUDITED, not silently truncated: an `observe()`
  *     metric on the overflow branch (zero extra passes) reports how many
  *     members were star-linked and the largest bucket seen, and a query
  *     listener logs it. Tests can read [[Banding.drainAudits]].
  *
  * Candidates carry ONLY (id_a, id_b); callers join bodies/vectors back
  * for the exact verify. Skew-safety note: the census window puts a whole
  * bucket in one task, but that is O(B log B) sort, not O(B²) join output.
  */
object Banding {

  /** One capped-bucket audit record: observed metric values from a
    * completed query that ran a guarded banding join. */
  final case class BandAudit(name: String, cappedMembers: Long,
                             maxBucketSize: Long)

  private val nameSeq = new AtomicLong(0L)
  private val audits = new ConcurrentLinkedQueue[BandAudit]()
  private val registered =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Drain audit records accumulated since the last call (test hook). */
  def drainAudits(): Seq[BandAudit] = {
    val out = Vector.newBuilder[BandAudit]
    var a = audits.poll()
    while (a != null) { out += a; a = audits.poll() }
    out.result()
  }

  /** [[drainAudits]] that WAITS for the listener bus (test hook):
    * `observe()` metrics arrive via a QueryExecutionListener, which
    * fires ASYNCHRONOUSLY after the triggering action returns — on a
    * loaded bus (a long suite run) the records can trail the collect
    * by seconds, so an immediate drain races. Polls until at least
    * `minRecords` arrive or the deadline passes, returning whatever arrived — the
    * caller's assertion stays the truth test. */
  def awaitAudits(minRecords: Int,
                  timeoutMs: Long = 30000L): Seq[BandAudit] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    val acc = Vector.newBuilder[BandAudit]
    var n = 0
    var waiting = true
    while (waiting) {
      val got = drainAudits()
      acc ++= got
      n += got.size
      if (n >= minRecords || System.nanoTime() > deadline) waiting = false
      else Thread.sleep(50)
    }
    acc.result()
  }

  private def ensureListener(spark: SparkSession): Unit =
    if (registered.add(spark)) {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row: Row) =>
            if (name.startsWith("graft_band_audit")) {
              val capped = row.getAs[Long]("capped_members")
              val maxSz = Option(row.getAs[Any]("max_bucket_size"))
                .map(_.toString.toLong).getOrElse(0L)
              if (capped > 0L) {
                audits.add(BandAudit(name, capped, maxSz))
                log.warn(s"banding hot-bucket guard engaged: $capped " +
                  s"members star-linked (largest bucket $maxSz) — " +
                  "pairwise candidates capped; recall within capped " +
                  "buckets is via the bucket representative")
              }
            }
          }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
    }

  /** Candidate pairs `(id_a, id_b)` with `id_a < id_b`, distinct, from a
    * banded frame with columns `_id` (any orderable type) and `_band`
    * (any equatable type). Buckets larger than `maxBucket` are capped as
    * documented on [[Banding]].
    */
  def guardedPairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    ensureListener(banded.sparkSession)
    val byBucket = Window.partitionBy(col("_band"))
    val ordered = byBucket.orderBy(col("_id"))
    val tagged = banded
      .withColumn("_rk", row_number().over(ordered))
      .withColumn("_bsz", count(lit(1)).over(byBucket))
      .withColumn("_rep", min(col("_id")).over(byBucket))
    val head = tagged.filter(col("_rk") <= maxBucket)
      .select(col("_band"), col("_id"))
    val pairwise = head.as("a")
      .join(head.as("b"),
        col("a._band") === col("b._band") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
    val overflow = tagged.filter(col("_rk") > maxBucket)
      .observe(s"graft_band_audit_${nameSeq.incrementAndGet()}",
        count(lit(1)).as("capped_members"),
        max(col("_bsz")).as("max_bucket_size"))
      .select(col("_rep").as("id_a"), col("_id").as("id_b"))
    pairwise.unionByName(overflow).distinct()
  }

  /** CROSS-corpus candidate pairs `(id_a from left, id_b from right)`,
    * distinct, from two banded frames sharing the `(_id, _band)` layout
    * — the decontamination counterpart of [[guardedPairs]]: only
    * left×right pairs are enumerated (a bucket present on one side
    * yields nothing), and the guard caps EACH side's bucket at
    * `maxBucket`:
    *
    *   - the first `maxBucket` members per side join pairwise across —
    *     at most maxBucket² candidates per bucket, byte-identical to
    *     the unguarded join when neither side overflows;
    *   - members beyond the cap star-link to the OTHER side's bucket
    *     representative (its minimum id), so every member still
    *     surfaces in at least one cross candidate;
    *   - capped members are audited via the same `observe()` channel
    *     ([[drainAudits]] / warn log), never silently dropped.
    */
  def guardedCrossPairs(leftBanded: DataFrame, rightBanded: DataFrame,
                        maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    ensureListener(leftBanded.sparkSession)
    def tag(banded: DataFrame): DataFrame = {
      val byBucket = Window.partitionBy(col("_band"))
      banded
        .withColumn("_rk", row_number().over(byBucket.orderBy(col("_id"))))
        .withColumn("_bsz", count(lit(1)).over(byBucket))
    }
    val lt = tag(leftBanded)
    val rt = tag(rightBanded)
    val headL = lt.filter(col("_rk") <= maxBucket)
      .select(col("_band"), col("_id").as("id_a"))
    val headR = rt.filter(col("_rk") <= maxBucket)
      .select(col("_band"), col("_id").as("id_b"))
    val pairwise = headL.join(headR, "_band")
      .select(col("id_a"), col("id_b"))
    // per-band representative of each side — the star target for the
    // other side's overflow (tiny frames: one row per band)
    val repL = lt.groupBy(col("_band")).agg(min(col("_id")).as("_repa"))
    val repR = rt.groupBy(col("_band")).agg(min(col("_id")).as("_repb"))
    val overflowL = lt.filter(col("_rk") > maxBucket)
      .observe(s"graft_band_audit_${nameSeq.incrementAndGet()}",
        count(lit(1)).as("capped_members"),
        max(col("_bsz")).as("max_bucket_size"))
      .join(repR, "_band") // inner: no right members in bucket = no pair
      .select(col("_id").as("id_a"), col("_repb").as("id_b"))
    val overflowR = rt.filter(col("_rk") > maxBucket)
      .observe(s"graft_band_audit_${nameSeq.incrementAndGet()}",
        count(lit(1)).as("capped_members"),
        max(col("_bsz")).as("max_bucket_size"))
      .join(repL, "_band")
      .select(col("_repa").as("id_a"), col("_id").as("id_b"))
    pairwise.unionByName(overflowL).unionByName(overflowR).distinct()
  }
}
