package perfbench

import graft.model.JobEventName

/** Turns a run's outcomes, spans and Spark-job records into the named
  * metrics of `BENCHMARK.json`. */
final class Report(outcomes: Seq[JobOutcome], spans: Seq[Span],
                   sparkJobs: Seq[SparkJobRecord]) {

  private val byJob = sparkJobs.groupBy(_.benchJob)
  private def jobsOf(o: JobOutcome) = byJob.getOrElse(o.id, Nil)
  private def spansOf(o: JobOutcome) = spans.filter(_.job == o.id)
  private def med(f: JobOutcome => Double): Double =
    Stats.median(outcomes.map(f))
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
  private def sumSpans(o: JobOutcome, name: String): Double =
    spansOf(o).filter(_.name == name).map(_.dur).sum / 1000.0
  private def selfOf(o: JobOutcome, name: String): Double = {
    val all = spansOf(o)
    all.filter(_.name == name).map(Spans.selfMs(_, all)).sum / 1000.0
  }
  private def layer(o: JobOutcome, p: String => Boolean) =
    jobsOf(o).filter(j => p(j.layer))

  private val isFind = (l: String) => l == "find.scan" || l == "llm.pii_find"
  private def findInput(o: JobOutcome): Double =
    layer(o, isFind).map(_.inputBytes).sum.toDouble
  private def reported(o: JobOutcome): Double =
    o.events.filter(_.eventName == JobEventName.QuerySucceeded)
      .map(_.bytesScanned).sum.toDouble
  private def matched(o: JobOutcome): Double =
    o.events.count(e => e.eventName == JobEventName.ObjectUpdated ||
      e.eventName == JobEventName.ObjectUpdateFailed ||
      e.eventName == JobEventName.ObjectUpdateSkipped ||
      e.eventName == JobEventName.ObjectRollbackFailed).toDouble
  private def total(f: JobOutcome => Double) = outcomes.map(f).sum
  private val wallS = total(_.wallMs / 1000.0)

  /** Span names whose self time no layer claims: the job's own root and
    * the bare calls whose children are the layers. */
  private val Containers = Set("job", "pass", "api.start_job", "driver.job")
  private def uncoveredS(o: JobOutcome): Double = {
    val all = spansOf(o)
    all.filter(s => Containers(s.name)).map(Spans.selfMs(_, all)).sum / 1000.0
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("job_p50_s", med(_.wallMs / 1000.0), "s"),
    ("objects_per_min", ratio(total(_.objectsUpdated.toDouble), wallS / 60), "1/min"),
    ("rows_erased_per_s", ratio(total(_.rowsErased.toDouble), wallS), "1/s"),
    ("find_scan_ratio", ratio(total(findInput), total(_.tableBytes.toDouble)), "ratio"),
    ("rewritten_size_ratio",
      ratio(total(_.bytesAfter.toDouble), total(_.bytesBefore.toDouble)), "ratio"))

  def perLayer: Seq[(String, Double, String)] = {
    val objMs = outcomes.flatMap(_.events)
      .filter(_.eventName == JobEventName.ObjectUpdated)
      .map(_.timeTakenMs.toDouble)
    def pct(p: Int) = if (objMs.isEmpty) 0.0 else Stats.percentile(objMs, p)
    val allRun = total(o => jobsOf(o).map(_.runMs).sum.toDouble)
    val unattributedRun = total(o =>
      layer(o, _ == Attribution.Unattributed).map(_.runMs).sum.toDouble)
    val scanInput = total(o => layer(o, _ == "find.scan").map(_.inputBytes).sum.toDouble)
    Seq(
      ("api.enqueue_s", med(_.enqueueMs / 1000.0), "s"),
      ("api.event_feed_s", med(_.feedMs / 1000.0), "s"),
      ("find.plan_s", med(sumSpans(_, "find.plan")), "s"),
      ("find.scan_s", med(sumSpans(_, "find.scan")), "s"),
      ("find.stats_s", med(sumSpans(_, "find.stats")), "s"),
      ("find.tasks", med(layer(_, isFind).map(_.tasks).sum.toDouble), "count"),
      ("find.task_cpu_s", med(layer(_, isFind).map(_.cpuNs).sum / 1e9), "s"),
      ("find.input_bytes", med(findInput), "bytes"),
      ("find.objects_matched", med(matched), "count"),
      ("find.match_share", matchShare, "ratio"),
      ("find.reported_bytes", med(reported), "bytes"),
      ("find.read_vs_reported", ratio(scanInput, total(reported)), "ratio"),
      ("driver.find_phase_s", med(sumSpans(_, "driver.find_phase")), "s"),
      ("driver.forget_phase_s", med(sumSpans(_, "driver.forget_phase")), "s"),
      ("driver.cleanup_s", med(sumSpans(_, "driver.cleanup")), "s"),
      ("driver.find_overlap", ratio(
        total(_.events.filter(_.eventName == JobEventName.QuerySucceeded)
          .map(_.timeTakenMs).sum.toDouble),
        total(sumSpans(_, "driver.find_phase") * 1000)), "ratio"),
      ("driver.self_s", med(o => (o.wallMs - Spans.unionMs(jobsOf(o)
        .filter(_.endMs >= 0).map(j => (j.submitMs, j.endMs)))) / 1000.0), "s"),
      ("forget.rewrite_s", med(sumSpans(_, "forget.rewrite")), "s"),
      ("forget.sweep_s", med(sumSpans(_, "forget.sweep")), "s"),
      ("forget.tasks", med(layer(_, _ == "forget.rewrite").map(_.tasks).sum.toDouble), "count"),
      ("forget.objects_per_task", ratio(total(_.objectsUpdated.toDouble),
        total(layer(_, _ == "forget.rewrite").map(_.tasks).sum.toDouble)), "ratio"),
      ("forget.task_cpu_s", med(layer(_, _.startsWith("forget.")).map(_.cpuNs).sum / 1e9), "s"),
      ("forget.gc_s", med(layer(_, _.startsWith("forget.")).map(_.gcMs).sum / 1000.0), "s"),
      ("forget.object_ms_p50", pct(50), "ms"),
      ("forget.object_ms_p99", pct(99), "ms"),
      ("forget.object_ms_vs_task_ms", ratio(objMs.sum,
        total(layer(_, _ == "forget.rewrite").map(_.runMs).sum.toDouble)), "ratio"),
      ("forget.bytes_read", med(_.bytesBefore.toDouble), "bytes"),
      ("forget.bytes_written", med(_.bytesAfter.toDouble), "bytes"),
      ("forget.rows_read_per_erased",
        ratio(total(_.rowsProcessed.toDouble), total(_.rowsErased.toDouble)), "ratio"),
      ("jobs.fold_s", med(_.foldMs / 1000.0), "s"),
      ("llm.near_dup_s", med(selfOf(_, "llm.near_dup")), "s"),
      ("llm.gram_novelty_s", med(selfOf(_, "llm.gram_novelty")), "s"),
      ("llm.pii_find_s", med(sumSpans(_, "llm.pii_find")), "s"),
      ("llm.scrub_s", med(selfOf(_, "llm.scrub")), "s"),
      ("llm.task_cpu_s", med(layer(_, _.startsWith("llm.")).map(_.cpuNs).sum / 1e9), "s"),
      ("llm.shuffle_bytes", med(layer(_, _.startsWith("llm.")).map(_.shuffleBytes).sum.toDouble), "bytes"),
      ("llm.spill_bytes", med(layer(_, _.startsWith("llm.")).map(_.spillBytes).sum.toDouble), "bytes"),
      ("spark.jobs", med(jobsOf(_).size.toDouble), "count"),
      ("spark.stages", med(jobsOf(_).map(_.stages.size).sum.toDouble), "count"),
      ("spark.gc_s", med(jobsOf(_).map(_.gcMs).sum / 1000.0), "s"),
      ("spark.unattributed_share", ratio(unattributedRun, allRun), "ratio"),
      ("trace.job_p50_s", med(_.wallMs / 1000.0), "s"),
      ("trace.covered_share", 1.0 - ratio(total(uncoveredS), wallS), "ratio"),
      ("trace.unattributed_s", med(uncoveredS), "s"))
  }

  /** Self time per span name over the whole run, largest first. */
  def selfTable: Seq[(String, Double)] =
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      n -> ss.map(Spans.selfMs(_, spans)).sum / 1000.0
    }.sortBy(-_._2)

  def wallSeconds: Double = wallS

  /** Objects Find matched over the objects its queries covered. */
  def matchShare: Double =
    ratio(total(matched), total(_.objectsInTables.toDouble))
}
