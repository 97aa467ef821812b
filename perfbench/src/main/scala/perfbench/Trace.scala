package perfbench

import graft.model.{JobEvent, JobEventName => E}

/** Which layer a Spark job belongs to, decided from outside the engine by
  * the innermost engine frame of the action's call site (Spark records
  * the stack above the action as the job's long call site). */
object Attribution {
  val Unattributed = "unattributed"

  /** Innermost frame of engine (`graft.`) or benchmark (`perfbench.`)
    * code, with any class-loader/module prefix removed. */
  def firstProductFrame(long: String): Option[String] =
    long.split('\n').iterator.map { f =>
      val t = f.trim.stripPrefix("at ")
      val paren = t.indexOf('(')
      val head = if (paren < 0) t else t.substring(0, paren)
      val slash = head.lastIndexOf('/')
      if (slash < 0) t else t.substring(slash + 1)
    }.find(f => f.startsWith("graft.") || f.startsWith("perfbench."))

  /** `step` names the benchmark step running on the calling thread; it
    * names the llm layer's own Spark jobs (the dedup and novelty frames
    * are lazy and execute inside the engine's forget feed). */
  def layerOf(short: String, long: String, step: String): String =
    firstProductFrame(long) match {
      case Some(f) if f.startsWith("graft.forget.") =>
        if (short.startsWith("foreach")) "forget.sweep" else "forget.rewrite"
      case Some(f) if f.startsWith("graft.driver.JobRunner") => "find.scan"
      case Some(f) if f.startsWith("graft.llm.PiiForget") => "llm.pii_find"
      case Some(f) if f.startsWith("graft.llm.") && step.nonEmpty =>
        s"llm.$step"
      case Some(f) if f.startsWith("perfbench.") => "bench"
      case _ => Unattributed
    }
}

/** A traced interval; ms since the epoch, `parent` = -1 for a root. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, job: String) {
  def dur: Long = math.max(0L, end - start)
}

object Spans {

  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time: the span minus the part of it its children cover. */
  def selfMs(span: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == span.id)
      .map(k => (math.max(k.start, span.start), math.min(k.end, span.end)))
    span.dur - unionMs(kids)
  }
}

/** Keeps spans in memory until the run ends. */
final class SpanLog {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  def add(name: String, start: Long, end: Long, parent: Int,
          job: String): Int = synchronized {
    val id = buf.size
    buf += Span(id, name, start, end, parent, job)
    id
  }
  def all: Seq[Span] = synchronized(buf.toSeq)
}

/** Derives a deletion job's layer spans from the three outside sources:
  * the benchmark's timing of the public call, the job's own events and
  * the Spark jobs the listener saw with this job's id. */
object JobSpans {

  private def at(events: Seq[JobEvent], name: String): Option[Long] =
    events.find(_.eventName == name).map(_.createdAt)

  /** Adds the children of `callSpan` (a `startJob` call) to `log`. */
  def derive(log: SpanLog, callSpan: Span, events: Seq[JobEvent],
             spark: Seq[SparkJobRecord]): Unit = {
    val job = callSpan.job
    val c0 = callSpan.start
    val c1 = callSpan.end
    def add(n: String, s: Long, e: Long, p: Int = callSpan.id): Int =
      log.add(n, s, e, p, job)
    val fs = at(events, E.FindPhaseStarted)
    val fe = at(events, E.FindPhaseEnded)
    val gs = at(events, E.ForgetPhaseStarted)
    val ge = at(events, E.ForgetPhaseEnded)
    val cl = at(events, E.CleanupSucceeded)
    fs.foreach(add("driver.prologue", c0, _))
    for (s <- fs; e <- fe) {
      val phase = add("driver.find_phase", s, e)
      // one SQL execution per mapper query; pair each with the query
      // whose window it ends in, latest-ending first
      val execs = spark.filter(_.layer == "find.scan").groupBy(execOf)
        .values.map(rs => (rs.map(_.submitMs).min, rs.map(_.endMs).max))
        .toBuffer
      val queries = events.filter(_.eventName == E.QuerySucceeded)
        .map(q => (q.createdAt - q.timeTakenMs, q.createdAt)).sortBy(_._2)
      queries.foreach { case (qs, qe) =>
        val fit = execs.filter { case (a, b) => a >= qs && b <= qe }
        if (fit.nonEmpty) {
          val g = fit.maxBy(_._2)
          execs -= g
          add("find.plan", qs, g._1, phase)
          add("find.scan", g._1, g._2, phase)
          add("find.stats", g._2, qe, phase)
        } else add("find.query", qs, qe, phase)
      }
    }
    for (s <- fe; e <- gs) add("driver.switch", s, e)
    for (s <- gs; e <- ge) {
      val phase = add("driver.forget_phase", s, e)
      spark.filter(r => r.layer.startsWith("forget.") && r.endMs >= 0)
        .foreach(r => add(r.layer, r.submitMs, r.endMs, phase))
    }
    for (s <- ge; e <- cl) add("driver.cleanup", s, e)
    cl.foreach(add("driver.epilogue", _, c1))
  }

  private def execOf(r: SparkJobRecord): String =
    if (r.execId.nonEmpty) r.execId else s"job-${r.id}"
}
