package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --state DIR --result FILE`.
  *
  * Prints a readable report on stdout and writes the result object to
  * FILE. Untraced runs report the end-to-end metrics; traced runs the
  * per-layer ones. Set-up (session start, the median of [[SetupRounds]]
  * rounds of lake copy, and the warm-up work) is timed apart from the
  * closed measuring loop. */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val state = Paths.get(opts("state")).toAbsolutePath
    val workload = Workload(name, seed)

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", state.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", state.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new BenchListener(traced)
    spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // Inputs are generated afresh every run (never reused from an earlier
    // one): generation also warms the JVM, so reusing them would make the
    // set-up time depend on whether a cache hit.
    val run = state.resolve("runs").resolve(s"$name-${ProcessHandle.current().pid()}")
    val master = run.resolve("master")
    val work = run.resolve("work")
    try {
      val g0 = System.nanoTime()
      workload.generate(spark, master)
      val genS = (System.nanoTime() - g0) / 1e9
      println(f"== perfbench $name seed=$seed seconds=$seconds%.0f trace=${if (traced) 1 else 0} local[$cores]")
      println(f"   inputs (generated in $genS%.2f s):")
      workload.describe(spark, master).foreach { case (k, v) => println(s"     $k: $v") }

      val rounds = (0 until SetupRounds).map { r =>
        val t0 = System.nanoTime()
        workload.setupRound(spark, master, work, r)
        (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      workload.warmUp(spark, master, work)
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(rounds) + warmS
      println(f"   set-up: session $sessionS%.3f s + median of rounds " +
        rounds.map(r => f"$r%.3f").mkString("[", ", ", "]") +
        f" s + warm-up $warmS%.3f s")

      val spans = new SpanLog
      val outcomes = mutable.ArrayBuffer.empty[JobOutcome]
      val m0 = System.nanoTime()
      while (outcomes.isEmpty || (System.nanoTime() - m0) / 1e9 < seconds)
        outcomes += workload.runOne(spark, master, work, outcomes.size, traced,
          spans, listener)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

      val violations = workload.oracle(spark, master, work)
      val failedJobs = outcomes.count(!_.completed)
      val failedObjects = outcomes.map(_.objectsFailed).sum
      val objectsTried = outcomes.map(o => o.objectsUpdated + o.objectsFailed).sum
      val attempted = outcomes.size + objectsTried
      val failed = failedJobs + failedObjects + violations.size
      val report = new Report(outcomes.toSeq, spans.all, listener.jobs.values.toSeq)
      val walls = outcomes.map(_.wallMs / 1000.0)
      println(s"   jobs: ${outcomes.size} in the measured window; walls " +
        walls.map(w => f"$w%.3f").mkString("[", ", ", "]") + " s")
      println(f"   matched-object share: ${report.matchShare}%.3f")
      println(Stats.tail(walls.toSeq) match {
        case Some((p, v)) => f"   job_tail_s: p$p = $v%.3f s over ${walls.size} jobs"
        case None => s"   job_tail_s: not reported (${walls.size} jobs < " +
          s"${Stats.TailMinSamples})"
      })
      println(f"   failed_share: $failed / $attempted = ${failed.toDouble / attempted}%.4f " +
        s"($failedJobs failed jobs, $failedObjects failed objects, " +
        s"${violations.size} oracle violations)")
      violations.foreach(v => println(s"!! oracle: $v"))

      val rss = peakRssMb()
      val metrics: Seq[(String, Double, String)] =
        if (!traced)
          report.endToEnd ++ Seq(("setup_s", setupS, "s"),
            ("rss_peak_mb", rss, "MB"))
        else report.perLayer
      if (traced) {
        println("   layer self time over the run (s, share of job wall):")
        report.selfTable.foreach { case (n, s) =>
          println(f"     $n%-24s $s%9.3f  ${s / report.wallSeconds}%6.3f")
        }
        crossCheck(outcomes.toSeq, listener)
      }
      if (failed == 0)
        metrics.foreach { case (n, v, u) => println(f"   $n%-30s $v%.6g $u") }
      Files.writeString(Paths.get(opts("result")),
        resultJson(attempted, failed, metrics) + "\n")
    } finally {
      LakeFiles.deleteTree(run)
      spark.stop()
    }
  }

  /** The engine's own figures next to the benchmark's measurements. */
  private def crossCheck(outcomes: Seq[JobOutcome],
                         listener: BenchListener): Unit = {
    val ids = outcomes.map(_.id).toSet
    val scan = listener.jobs.values.filter(j =>
      ids(j.benchJob) && j.layer == "find.scan").map(_.inputBytes).sum
    val reported = outcomes.flatMap(_.events).filter(_.eventName ==
      graft.model.JobEventName.QuerySucceeded).map(_.bytesScanned).sum
    val objMs = outcomes.flatMap(_.events).filter(_.eventName ==
      graft.model.JobEventName.ObjectUpdated).map(_.timeTakenMs).sum
    val rewrite = listener.jobs.values.filter(j =>
      ids(j.benchJob) && j.layer == "forget.rewrite")
    println(s"   cross-check: engine totalQueryScannedInBytes=$reported, " +
      s"Spark Find tasks read $scan bytes")
    println(s"   cross-check: engine sum of ObjectUpdated.timeTakenMs=$objMs ms, " +
      s"rewrite Spark jobs ${rewrite.map(_.durMs).sum} ms wall, " +
      s"${rewrite.map(_.runMs).sum} ms task run time")
  }

  /** The run's result object. Any failure (a job not completed, an
    * object failed, an oracle violation) makes it incorrect and withholds
    * every metric. */
  def resultJson(attempted: Long, failed: Long,
                 metrics: Seq[(String, Double, String)]): String = {
    val shown = if (failed == 0) metrics else Nil
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      shown.map { case (n, v, u) =>
        s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
      }.mkString(", ") + "}}"
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0.0
    else {
      val line = Files.readAllLines(p).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    }
  }
}
