package graft.driver

import graft.catalog.{Catalog, TableDef}
import graft.find.Finder
import graft.forget.DistributedRewrite
import graft.jobs.Jobs
import graft.model._
import graft.tools.ParquetStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** The deletion-job orchestration loop — the Spark driver program that
  * replaces the reference's three Step Functions state machines
  * (SURVEY.md §3.1; reference: templates/state_machine.yaml:124-726):
  *
  *   JobStarted → FindPhaseStarted → per-mapper Find query
  *   (QuerySucceeded/QueryFailed, fail-fast like work_query_queue.py:37-46)
  *   → FindPhaseEnded → ForgetPhaseStarted → one distributed rewrite job
  *   over all found objects → ForgetPhaseEnded → deletion-queue cleanup
  *   (stream_processor.py:129-139) → CleanupSucceeded/CleanupFailed,
  *
  * with every phase emitting [[graft.model.JobEvent]]s that
  * [[graft.jobs.Jobs.fold]] reduces to the job's terminal status + stats —
  * DynamoDB streams collapsed into an in-driver event log.
  */
object JobRunner {

  /** @param state        folded terminal state (status, stats, times)
    * @param events       the full ordered event log
    * @param foundPaths   matched object paths per mapper id
    * @param clearedQueue queue items removed by the cleanup phase
    * @param settings     the [[JobSettings]] snapshot this job ran under
    *                     (queue/handlers.py:126-141: config is copied onto
    *                     the job at start, immune to later changes)
    * @param expiresAt    event-log expiry epoch-ms when retention is set
    *                     (queue/handlers.py:138-139; swept by
    *                     [[graft.jobs.Jobs.retain]]) */
  final case class JobRun(
      state: Jobs.JobState,
      events: Seq[JobEvent],
      foundPaths: Map[String, Seq[String]],
      clearedQueue: Seq[DeletionQueueItem],
      settings: JobSettings = JobSettings(),
      expiresAt: Option[Long] = None)

  /** Run a full deletion job. Each mapper's match values are cast once,
    * in its Find query ([[Finder.typedGroups]]); the Forget phase is one
    * [[DistributedRewrite]] call over every mapper's found objects, so
    * one rewrite job and one marker sweep job whatever the mapper
    * count. */
  def run(spark: SparkSession, jobId: String,
          mappers: Seq[(DataMapper, TableDef)],
          queue: Seq[DeletionQueueItem],
          outPathFor: String => Option[String] = _ => None,
          manifestAuditDir: Option[String] = None,
          settings: JobSettings = JobSettings(),
          readTableFn: (SparkSession, TableDef) => DataFrame = readTable)
      : JobRun = {
    settings.validate()
    def ev(name: String, bytesScanned: Long = 0L, timeTakenMs: Long = 0L,
           path: String = "", error: String = ""): JobEvent =
      JobEvent(jobId, EventSk.next(), name, System.currentTimeMillis(),
        bytesScanned = bytesScanned, timeTakenMs = timeTakenMs,
        path = path, error = error)

    val events = scala.collection.mutable.ArrayBuffer.empty[JobEvent]
    Catalog.checkNoOverlap(mappers)
    mappers.foreach { case (m, t) => Catalog.validateMapper(m, t) }
    events += ev(JobEventName.JobStarted)
    events += ev(JobEventName.FindPhaseStarted)

    // ---- Find phase: one query per mapper, dispatched CONCURRENTLY up
    // to settings.findConcurrencyLimit (the reference keeps up to 15
    // Athena executions in flight against a 20-query account limit —
    // work_query_queue.py:17-74, template.yaml:20-21; a sequential loop
    // would serialize job wall-clock on the sum of the mappers instead
    // of the slowest one). Fail-fast on error: once a query exhausts its
    // retry budget no NEW queries start and no query begins another
    // attempt; in-flight attempts drain (work_query_queue.py:37-46
    // abandons the remainder the same way).
    //
    // Event-log discipline under concurrency: every emission draws its
    // sk and appends inside one lock, so buffer order == sk order ==
    // real-time emission order and the fold stays deterministic for a
    // given interleaving. Spark supports concurrent actions from
    // multiple driver threads natively.
    val findFailed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val found =
      scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
    val typedByMapper = scala.collection.concurrent.TrieMap
      .empty[String, Seq[Finder.TypedGroup]]
    def emit(name: String, bytesScanned: Long = 0L, timeTakenMs: Long = 0L,
             error: String = ""): Unit = events.synchronized {
      events += ev(name, bytesScanned = bytesScanned,
        timeTakenMs = timeTakenMs, error = error)
    }
    events += ev(JobEventName.QueryPlanningComplete)
    // Retry budget per mapper query (check_query_status.py:10-26 +
    // state_machine.yaml:204-215 "Retriable?"): a failed attempt with
    // retries left re-executes SILENTLY at the job-error level — the
    // reference emits QueryFailed only once the budget is exhausted,
    // because any QueryFailed makes the fold resolve the job as
    // failed/partially-failed (status_updater.py:96-104). Retried
    // attempts emit the info-only QueryRetried for observability.
    def runFind(m: DataMapper, table: TableDef): Unit = {
      var retriesLeft = settings.findQueryMaxRetries
      var done = false
      while (!done && !findFailed.get()) {
        val t0 = System.currentTimeMillis()
        try {
          val typed = Finder.typedGroups(spark, Finder.plan(m, table, queue))
          typedByMapper(m.id) = typed
          manifestAuditDir.foreach(d =>
            Finder.writeManifestAudit(spark, jobId, m.id, typed, d))
          if (typed.nonEmpty) {
            val data = Finder.scoped(readTableFn(spark, table), m)
            val paths = Finder.findFiles(spark, data, typed)
              .collect().map(r => r.getString(0)).toSeq
            found(m.id) = paths
            val bytes = table.format match {
              case DataFormat.Parquet =>
                // identifier-columns-only projection: the scan cost is the
                // pruned column chunks (README.md:75-81), not the table
                ParquetStats.columnBytes(
                  spark.sparkContext.hadoopConfiguration,
                  paths.map(DistributedRewrite.stripScheme), m.columns)
                  .selected
              case DataFormat.JsonLines =>
                // row format has no column pruning: a Find is a full scan
                // of the table's bytes (reference scenario 5,
                // docs/COST_OVERVIEW.md:316 — Athena bills the whole
                // object set for row-format queries)
                tableBytes(spark, table)
            }
            emit(JobEventName.QuerySucceeded, bytesScanned = bytes,
              timeTakenMs = System.currentTimeMillis() - t0)
          } else found(m.id) = Nil
          done = true
        } catch {
          case NonFatal(e) =>
            if (retriesLeft > 0) {
              retriesLeft -= 1
              emit(JobEventName.QueryRetried,
                timeTakenMs = System.currentTimeMillis() - t0,
                error = String.valueOf(e.getMessage))
            } else events.synchronized {
              // QueryFailed + (first failure only) FindPhaseFailed under
              // ONE lock: no event can interleave between the pair
              events += ev(JobEventName.QueryFailed,
                timeTakenMs = System.currentTimeMillis() - t0,
                error = String.valueOf(e.getMessage))
              if (!findFailed.getAndSet(true))
                events += ev(JobEventName.FindPhaseFailed,
                  error = String.valueOf(e.getMessage))
            }
        }
      }
    }
    val poolSize = math.min(settings.findConcurrencyLimit,
      math.max(1, mappers.size))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
    try {
      val futures = mappers.map { case (m, table) =>
        pool.submit(new Runnable {
          // fail-fast: a queued mapper whose turn comes after a failure
          // never starts its query
          override def run(): Unit =
            if (!findFailed.get()) runFind(m, table)
        })
      }
      futures.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause // fatal errors only; NonFatal handled above
        }
      }
    } finally pool.shutdown()

    if (!findFailed.get()) {
      events += ev(JobEventName.FindPhaseEnded)
      events += ev(JobEventName.ForgetPhaseStarted)

      // ---- Forget phase: ONE distributed job across every found object
      // of every mapper, each matched against its mapper's typed groups.
      // A Spark-level failure here (lost executors, driver I/O) must still
      // land in the event log: the reference's Fargate SM failure maps to
      // ForgetPhaseFailed → FORGET_FAILED (status_updater.py:20).
      try {
        val units = mappers.flatMap { case (m, table) =>
          found.getOrElse(m.id, Nil).map(p =>
            ObjectWorkUnit(jobId, p, m.id, table.format,
              m.deleteOldVersions, m.ignoreObjectNotFound))
        }
        events ++= DistributedRewrite.runTyped(spark, jobId, units,
          typedByMapper.toMap, outPathFor)
        events += ev(JobEventName.ForgetPhaseEnded)
      } catch {
        case NonFatal(e) =>
          events += ev(JobEventName.ForgetPhaseFailed,
            error = String.valueOf(e.getMessage))
      }
    }

    // ---- Cleanup phase (only when the fold says cleanup is in progress,
    // stream_processor.py:54-72: skip_cleanup statuses bypass it)
    var cleared = Seq.empty[DeletionQueueItem]
    val preCleanup = Jobs.fold(jobId, events.toSeq)
    if (preCleanup.status == JobStatus.ForgetCompletedCleanupInProgress) {
      try {
        // remove queue items consumed by this job's manifests — the items
        // scoped to (or applicable to) the job's mappers
        // (stream_processor.py:129-139: set difference)
        val mapperIds = mappers.map(_._1.id).toSet
        cleared = queue.filter(i =>
          i.dataMappers.isEmpty || i.dataMappers.exists(mapperIds))
        events += ev(JobEventName.CleanupSucceeded)
      } catch {
        case NonFatal(e) =>
          events += ev(JobEventName.CleanupFailed,
            error = String.valueOf(e.getMessage))
      }
    }

    val state = Jobs.fold(jobId, events.toSeq)
    val expiresAt =
      if (settings.jobDetailsRetentionDays > 0)
        state.jobStartTime.map(
          _ + settings.jobDetailsRetentionDays * 86400000L)
      else None
    JobRun(state, events.toSeq, found.toMap, cleared, settings, expiresAt)
  }

  /** Total bytes of a table's data files (hidden files excluded) — the
    * full-scan cost a row-format Find reports. */
  private[driver] def tableBytes(spark: SparkSession, table: TableDef): Long = {
    val path = new org.apache.hadoop.fs.Path(table.location)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) total += f.getLen
    }
    total
  }

  /** Read a table for the Find phase — ALWAYS through the DECLARED
    * schema (SURVEY.md §1.3: schema is declared for planning,
    * self-describing for execution; the reference reads every object
    * through the Glue schema, generate_queries.py:264-265). For
    * parquet this buys two things at 100 TB: no distributed
    * footer-inference job before every Find,
    * and drift-stable semantics — a physical object missing an
    * evolved column reads NULL (→ never matches), an extra physical
    * column is invisible, and column order resolves by name, no
    * matter which footer a bare inference pass would have sampled
    * first. Partition columns ride in `table.schema` by the repo's
    * TableDef convention (the q21 staged-read precedent). */
  def readTable(spark: SparkSession, table: TableDef): DataFrame =
    table.format match {
      case DataFormat.Parquet =>
        spark.read.schema(table.schema).parquet(table.location)
      case DataFormat.JsonLines =>
        spark.read.schema(table.schema).json(table.location)
    }
}
