package graft.model

/** Core domain model of the engine.
  *
  * Re-expresses the reference's data model (SURVEY.md §1.1; reference:
  * backend/lambdas/data_mappers/handlers.py:74-93,
  * backend/lambdas/queue/handlers.py:144-180) as pure Scala case classes.
  * No Spark dependency in this package.
  */

/** Storage format of a mapped table. */
sealed trait DataFormat
object DataFormat {
  case object Parquet extends DataFormat
  case object JsonLines extends DataFormat
}

/** A pointer to a data-lake table plus the identifier columns to search.
  *
  * Mirrors the reference "Data Mapper"
  * (backend/lambdas/data_mappers/handlers.py:74-93). `columns` are
  * dot-paths into the table schema (`user_info.email`); validation of the
  * paths against the schema happens in [[graft.catalog.Catalog]].
  *
  * @param id                unique mapper id
  * @param table             logical table name resolved via the catalog
  * @param columns           identifier (queryable) column dot-paths
  * @param format            Parquet or JSON-lines
  * @param partitionKeys     subset of the table's partition keys to fan out on
  * @param partitionFilter   partition-literal scoping: key -> allowed values
  *                          (the Spark form of the reference's one-query-
  *                          per-partition-combo literals,
  *                          execute_query.py:97-103 — Catalyst prunes the
  *                          scan to the named partition directories)
  * @param deleteOldVersions whether the rewrite may drop superseded file
  *                          versions (reference: DeleteOldVersions flag)
  */
final case class DataMapper(
    id: String,
    table: String,
    columns: Seq[String],
    format: DataFormat = DataFormat.Parquet,
    partitionKeys: Seq[String] = Nil,
    partitionFilter: Map[String, Seq[String]] = Map.empty,
    deleteOldVersions: Boolean = true,
    ignoreObjectNotFound: Boolean = false)

/** A Match ID — the value(s) identifying rows to erase.
  *
  * Reference: "Simple" matches are scalar values searched across every
  * identifier column of every applicable mapper; "Composite" matches are
  * (column, value) conjunctions scoped to exactly one mapper
  * (backend/lambdas/queue/handlers.py:144-162,
  * backend/lambdas/tasks/generate_queries.py:176-215).
  */
sealed trait MatchId
object MatchId {
  final case class Simple(value: String) extends MatchId
  /** Conjunction over columns; `pairs` maps column dot-path -> value. */
  final case class Composite(pairs: Map[String, String]) extends MatchId
}

/** One entry in the deletion queue (reference: queue/handlers.py:164-180).
  *
  * @param dataMappers mapper ids this match is scoped to; empty = all
  *                    mappers (Simple only — Composite requires exactly one).
  */
final case class DeletionQueueItem(
    id: String,
    matchId: MatchId,
    dataMappers: Seq[String] = Nil,
    createdAt: Long = 0L,
    createdBy: String = "")

/** Job lifecycle states, with the reference's exact names
  * (backend/lambdas/jobs/status_updater.py:19-36). A status outside
  * [[JobStatus.unlocked]] locks the job — no later event may move it
  * (status_updater.py:66-72,118-121).
  */
object JobStatus {
  val Queued = "QUEUED"
  val Running = "RUNNING"
  val FindFailed = "FIND_FAILED"
  val ForgetFailed = "FORGET_FAILED"
  val Failed = "FAILED"
  val ForgetCompletedCleanupInProgress = "FORGET_COMPLETED_CLEANUP_IN_PROGRESS"
  val ForgetPartiallyFailed = "FORGET_PARTIALLY_FAILED"
  val CompletedCleanupFailed = "COMPLETED_CLEANUP_FAILED"
  val Completed = "COMPLETED"

  /** States a status event may still transition OUT of
    * (status_updater.py:30). */
  val unlocked: Set[String] =
    Set(Running, Queued, ForgetCompletedCleanupInProgress)

  /** States that skip the deletion-queue cleanup trigger
    * (status_updater.py:31-36; stream_processor.py:54-72). */
  val skipCleanup: Set[String] =
    Set(FindFailed, ForgetFailed, Failed, ForgetPartiallyFailed)

  /** States that stamp JobFinishTime (status_updater.py:40-48). */
  val finished: Set[String] =
    Set(CompletedCleanupFailed, Completed, Failed, FindFailed,
        ForgetFailed, ForgetPartiallyFailed)
}

/** Engine configuration, snapshotted onto each job at start — the analog
  * of the reference's SSM config parameter (`get_config`,
  * backend/lambda_layers/boto_utils/python/boto_utils.py:152-168) that
  * `process_handler` copies onto the job item
  * (backend/lambdas/queue/handlers.py:126-141) so in-flight jobs are
  * immune to later settings changes. Exposed via
  * `GraftApi.listSettings`/`putSettings` (settings/handlers.py:16-33).
  *
  * Only the knobs with a Spark-side meaning are carried: the reference's
  * `*WaitSeconds` knobs pace its SQS/Athena polling loops, and its
  * `DeletionTasksMaxNumber` sizes its Fargate fleet — Spark's own
  * scheduler replaces both (the Forget job's parallelism is the
  * cluster's).
  *
  * @param findQueryMaxRetries     failed Find queries are silently retried
  *        this many times before the job fails (`AthenaQueryMaxRetries`,
  *        templates/state_machine.yaml:204-215)
  * @param findConcurrencyLimit    mapper Find queries dispatched at once
  *        (`AthenaConcurrencyLimit`, templates/template.yaml:20-21 — the
  *        reference's dispatcher keeps up to 15 Athena executions in
  *        flight against a 20-query account limit,
  *        backend/lambdas/tasks/work_query_queue.py:17-74)
  * @param jobDetailsRetentionDays job events expire this many days after
  *        job start; 0 = keep forever (`JobDetailsRetentionDays`,
  *        queue/handlers.py:138-139)
  */
final case class JobSettings(
    findQueryMaxRetries: Int = 2,
    findConcurrencyLimit: Int = 15,
    jobDetailsRetentionDays: Int = 0) {
  def validate(): JobSettings = {
    require(findQueryMaxRetries >= 0, "findQueryMaxRetries must be >= 0")
    require(findConcurrencyLimit >= 1, "findConcurrencyLimit must be >= 1")
    require(jobDetailsRetentionDays >= 0,
      "jobDetailsRetentionDays must be >= 0")
    this
  }
}

/** Event-sourced job log entry (reference: jobs table JobEvent rows,
  * backend/lambda_layers/boto_utils/python/boto_utils.py:106-123).
  * `sk` is the total-order key `"<epoch_ms>#<seq>"` used to fold events
  * deterministically.
  */
final case class JobEvent(
    jobId: String,
    sk: String,
    eventName: String,
    createdAt: Long,
    // flattened event payload fields (0 when absent)
    statsProcessed: Long = 0L,
    statsDeleted: Long = 0L,
    bytesScanned: Long = 0L,
    timeTakenMs: Long = 0L,
    path: String = "",
    error: String = "")

/** Process-wide event sequencer: every emitter draws its `sk` from ONE
  * monotonic source, so lexicographic sk order == emission order even
  * when several emitters stamp events within the same millisecond.
  * (Three independent per-emitter counters would collide on the
  * millisecond prefix and interleave arbitrarily — a partially-failed
  * job could then fold its ObjectUpdateFailed AFTER ForgetPhaseEnded and
  * wrongly complete.) The reference gets the same property from DynamoDB
  * `"<ms>#<uuid>"` keys written by a single stream consumer
  * (boto_utils.py:113).
  */
object EventSk {
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Zero-padded `"<epoch_ms>#<global_seq>"`. */
  def next(): String =
    f"${System.currentTimeMillis()}%013d#${seq.incrementAndGet()}%09d"
}

/** Event names emitted by the engine (reference events taxonomy:
  * backend/ecs_tasks/delete_files/events.py:20-47 and the state machines).
  */
object JobEventName {
  val JobStarted = "JobStarted"
  val FindPhaseStarted = "FindPhaseStarted"
  val QueryPlanningComplete = "QueryPlanningComplete"
  val QuerySucceeded = "QuerySucceeded"
  val QueryFailed = "QueryFailed"
  /** Info-only: a Find query failed but the retry budget covers it. The
    * reference emits NOTHING on a retried attempt (state_machine.yaml:
    * 204-215 loops back to Execute Query; QueryFailed fires only after
    * the budget is exhausted) — this event adds visibility without
    * becoming a job error: any QueryFailed > 0 makes the stats fold
    * resolve the job as failed/partially-failed (status_updater.py:
    * 96-104), so a retried-then-successful query must not emit one. */
  val QueryRetried = "QueryRetried"
  val FindPhaseEnded = "FindPhaseEnded"
  val FindPhaseFailed = "FindPhaseFailed"
  val ForgetPhaseStarted = "ForgetPhaseStarted"
  val ObjectUpdated = "ObjectUpdated"
  val ObjectUpdateSkipped = "ObjectUpdateSkipped"
  val ObjectUpdateFailed = "ObjectUpdateFailed"
  val ObjectRollbackFailed = "ObjectRollbackFailed"
  val ForgetPhaseEnded = "ForgetPhaseEnded"
  val ForgetPhaseFailed = "ForgetPhaseFailed"
  val CleanupSucceeded = "CleanupSucceeded"
  val CleanupFailed = "CleanupFailed"
  val Exception = "Exception"
}

/** Aggregated job statistics (reference:
  * backend/lambdas/jobs/stats_updater.py:27-121 field list).
  */
final case class JobStats(
    totalQueryCount: Long = 0L,
    totalQuerySucceededCount: Long = 0L,
    totalQueryFailedCount: Long = 0L,
    totalQueryScannedInBytes: Long = 0L,
    totalQueryTimeInMillis: Long = 0L,
    totalObjectUpdatedCount: Long = 0L,
    totalObjectUpdateSkippedCount: Long = 0L,
    totalObjectUpdateFailedCount: Long = 0L,
    totalObjectRollbackFailedCount: Long = 0L,
    totalRowsProcessedCount: Long = 0L,
    totalRowsDeletedCount: Long = 0L) {
  def merge(o: JobStats): JobStats = JobStats(
    totalQueryCount + o.totalQueryCount,
    totalQuerySucceededCount + o.totalQuerySucceededCount,
    totalQueryFailedCount + o.totalQueryFailedCount,
    totalQueryScannedInBytes + o.totalQueryScannedInBytes,
    totalQueryTimeInMillis + o.totalQueryTimeInMillis,
    totalObjectUpdatedCount + o.totalObjectUpdatedCount,
    totalObjectUpdateSkippedCount + o.totalObjectUpdateSkippedCount,
    totalObjectUpdateFailedCount + o.totalObjectUpdateFailedCount,
    totalObjectRollbackFailedCount + o.totalObjectRollbackFailedCount,
    totalRowsProcessedCount + o.totalRowsProcessedCount,
    totalRowsDeletedCount + o.totalRowsDeletedCount)
}

/** One Forget work unit: a single object to rewrite (reference: the
  * object-deletion SQS message, submit_query_results.py:41-55).
  *
  * @param ignoreObjectNotFound a missing object is skipped
  *        (ObjectUpdateSkipped) instead of failed — the reference's
  *        IgnoreObjectNotFoundExceptions mapper flag (main.py:213-231)
  * @param sizeBytes the object's length in the Find listing, -1 when
  *        unknown; the rewrite job deals its largest objects first
  */
final case class ObjectWorkUnit(
    jobId: String,
    path: String,
    mapperId: String,
    format: DataFormat,
    deleteOldVersions: Boolean,
    ignoreObjectNotFound: Boolean = false,
    sizeBytes: Long = -1L)

/** Raised when a match id cannot be cast to its column's type
  * (reference: generate_queries.py:516-519 MatchIdCastingError). */
final class MatchIdCastingError(msg: String) extends RuntimeException(msg)

/** Raised when a found object produces zero deletions in Forget —
  * a Find/Forget consistency violation (reference: main.py:182-187). */
final class ZeroDeletionError(msg: String) extends RuntimeException(msg)

/** Raised when the integrity check detects a conflicting concurrent write
  * (reference: s3.py:301-341). */
final class IntegrityCheckError(msg: String) extends RuntimeException(msg)

/** Raised when the rollback after a failed rewrite ITSELF fails — the only
  * condition that emits ObjectRollbackFailed (reference: s3.py:344-357
  * rollback handler; main.py rollback_version failure path).
  *
  * @param original the failure that triggered the rollback, when there was
  *                 one — the reference emits ObjectUpdateFailed for it AND
  *                 ObjectRollbackFailed for the rollback failure
  *                 (main.py:248-262), so it must not be swallowed.
  */
final class RollbackFailedError(msg: String, cause: Throwable = null,
    val original: Throwable = null)
    extends RuntimeException(msg, cause)
