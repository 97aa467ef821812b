package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.concurrent.TrieMap

/** One Spark job as seen from outside the engine. Times are epoch ms;
  * task sums are filled only by a traced listener, except input bytes. */
final class SparkJobRecord(val id: Int, val submitMs: Long,
                           val callShort: String, val callLong: String,
                           val benchJob: String, val benchStep: String,
                           val execId: String, val stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var inputBytes = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  def durMs: Long = if (endMs < 0) 0L else endMs - submitMs
  lazy val layer: String = Attribution.layerOf(callShort, callLong, benchStep)
}

/** The benchmark's own Spark listener. Untraced it only sums input
  * bytes per job; traced it also sums task CPU, run time, GC, shuffle
  * and spill. Each job carries the local properties
  * the benchmark set on its calling thread ([[BenchListener.JobProp]],
  * [[BenchListener.StepProp]]); threads the engine starts inherit them. */
final class BenchListener(traced: Boolean) extends SparkListener {
  val jobs = TrieMap.empty[Int, SparkJobRecord]
  private val stageJob = TrieMap.empty[Int, SparkJobRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // A SQL query's jobs may be submitted from Spark's own threads, so
    // its call site is the one recorded when the query started; any other
    // job's is on its result stage (created last, highest id): the name
    // is the short form, the details the long form.
    val exec = prop("spark.sql.execution.id")
    val result = e.stageInfos.maxByOption(_.stageId)
    val (short, long) = execSites.getOrElse(exec,
      (result.map(_.name).getOrElse(""), result.map(_.details).getOrElse("")))
    val r = new SparkJobRecord(e.jobId, e.time, short, long,
      prop(BenchListener.JobProp),
      prop(BenchListener.StepProp), exec, e.stageIds)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.put(s, r))
  }

  private val execSites = TrieMap.empty[String, (String, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId.toString, (s.description, s.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (r <- stageJob.get(e.stageId); m <- Option(e.taskMetrics))
      r.synchronized {
        r.tasks += 1
        r.inputBytes += m.inputMetrics.bytesRead
        if (traced) {
          r.cpuNs += m.executorCpuTime
          r.runMs += m.executorRunTime
          r.gcMs += m.jvmGCTime
          r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }

  def forJob(benchJob: String): Seq[SparkJobRecord] =
    jobs.values.filter(_.benchJob == benchJob).toSeq.sortBy(_.id)
}

object BenchListener {
  val JobProp = "perfbench.job"
  val StepProp = "perfbench.step"
}
