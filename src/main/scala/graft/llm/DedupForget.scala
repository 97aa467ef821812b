package graft.llm

import graft.catalog.TableDef
import graft.driver.JobRunner
import graft.model._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup-driven forget: the LLM-pipeline operators composed back onto
  * the engine's core Find/Forget machinery. A near/exact-duplicate pair
  * frame closes into clusters ([[Dedup.duplicateClusters]]); every
  * cluster member EXCEPT the keeper (the minimum id) becomes a deletion
  * queue item; ordinary deletion jobs then rewrite exactly the objects
  * holding those rows — audit events, retry budget, idempotent task
  * commits and all. "Deduplicate the corpus in place" is thereby the
  * same operation as "forget these users": no second rewrite path to
  * maintain or to trust.
  *
  * The loser set is NEVER collected whole: ids stream to the driver in
  * sorted order one range-partition at a time (`toLocalIterator` over a
  * range-sorted frame) and are grouped into bounded batches, each batch
  * an independent Find/Forget job — the reference's shape, which feeds
  * its work queue in fixed-size SQS batches precisely so no component
  * ever holds the whole work list (boto_utils.py:87-103,
  * submit_query_results.py:56-61). Driver memory is O(batchSize +
  * one range partition), not O(duplicate copies). Per-batch stats fold
  * into one aggregate, and a failed batch stops the feed (the
  * reference's fail-fast query queue, work_query_queue.py:37-46).
  */
object DedupForget {

  /** Ids per batch. Each batch's queue drives one deletion job. At the
    * default (100k > [[graft.find.Finder.InSetMaxKeys]] = 32,768) a
    * full batch Finds via the broadcast semi-join strategy — the
    * measured crossover (InSet predicate wins below ≈20k keys,
    * semi-join above; see `InSetMaxKeys`) makes that the RIGHT plan at
    * this size; a batch of at most `InSetMaxKeys` ids (a small corpus,
    * or the last batch) takes the pushed-down InSet predicate. */
  val DefaultBatchSize = 100000

  /** Aggregate result of a (possibly multi-batch) dedup-forget run.
    *
    * @param status  COMPLETED when every batch completed; otherwise the
    *                first non-completed batch's terminal status
    * @param stats   per-batch [[JobStats]] merged
    * @param batches the per-batch [[JobRunner.JobRun]]s, in feed order */
  final case class Run(status: String, stats: JobStats,
                       batches: Seq[JobRunner.JobRun])

  /** Ids to delete: every clustered doc except its cluster's keeper.
    * Distributed — feed through [[forgetDuplicates]]' batcher, never
    * `.collect()` whole. */
  def losers(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val clusters = Dedup.duplicateClusters(pairs, aCol, bCol)
    clusters.filter(col(aCol) =!= col("cluster_id")).select(col(aCol))
  }

  /** Remove every non-keeper duplicate from the table via batched
    * deletion jobs (batch `i` runs as job `"<jobId>-b<i>"`).
    *
    * @param pairs     pair frame from any dedup operator over `table`
    *                  (id columns `aCol`/`bCol` must hold `idCol` values)
    * @param batchSize max queue items per deletion job — bounds driver
    *                  memory and per-job queue size
    */
  def forgetDuplicates(spark: SparkSession, jobId: String,
                       table: TableDef, idCol: String,
                       pairs: DataFrame,
                       aCol: String = "id_a", bCol: String = "id_b",
                       settings: JobSettings = JobSettings(),
                       batchSize: Int = DefaultBatchSize): Run =
    forgetIds(spark, jobId, table, idCol, losers(pairs, aCol, bCol),
      settings, batchSize)

  /** The generic batched-deletion feed: remove every id in the
    * single-column frame `ids` from `table` via bounded per-batch
    * Find/Forget jobs. This is the seam every "X-driven forget"
    * composition shares — dedup losers ([[forgetDuplicates]]) and
    * contamination screens ([[DecontaminateForget]]) differ only in
    * how they produce the id frame. */
  def forgetIds(spark: SparkSession, jobId: String,
                table: TableDef, idCol: String,
                ids: DataFrame,
                settings: JobSettings = JobSettings(),
                batchSize: Int = DefaultBatchSize): Run = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    require(ids.columns.length == 1,
      s"ids frame must have exactly one column, got ${ids.columns.toSeq}")
    // sorted stream of ids: orderBy range-partitions, so the open
    // iterator holds at most one range partition driver-side; batches
    // are contiguous sorted id slices (deterministic across reruns)
    val it = ids.orderBy(col(ids.columns.head)).toLocalIterator()
    val batches = scala.collection.mutable.ArrayBuffer.empty[JobRunner.JobRun]
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var failed = false
    def flush(): Unit = if (buf.nonEmpty && !failed) {
      val batchNo = batches.size
      val queue = buf.toSeq.map(id =>
        DeletionQueueItem(s"dedup-$id", MatchId.Simple(id)))
      val mapper = DataMapper(s"$jobId-b$batchNo-m", table.name,
        Seq(idCol), format = table.format)
      val run = JobRunner.run(spark, s"$jobId-b$batchNo",
        Seq(mapper -> table), queue, settings = settings)
      batches += run
      // fail-fast: a batch that did not complete stops the feed — later
      // batches would rewrite objects on top of an inconsistent lake
      if (run.state.status != JobStatus.Completed) failed = true
      buf.clear()
    }
    while (it.hasNext && !failed) {
      buf += it.next().get(0).toString
      if (buf.size >= batchSize) flush()
    }
    flush()
    val stats = batches.map(_.state.stats)
      .foldLeft(JobStats())(_ merge _)
    val status = batches.map(_.state.status)
      .find(_ != JobStatus.Completed).getOrElse(JobStatus.Completed)
    Run(status, stats, batches.toSeq)
  }
}
