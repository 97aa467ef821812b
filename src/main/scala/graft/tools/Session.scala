package graft.tools

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{SaveMode, SparkSession}

/** The one way a graft main builds its Spark session, warms it up and
  * times a span. */
object Session {

  /** A local session on `SPARK_GRAFT_CPUS` cores (`defaultCpus` when
    * unset), with as many shuffle partitions, UI off, session time
    * zone UTC, parquet TIMESTAMP(NANOS) read as bigint nanos (the
    * testdata `events.ts` encoding), and log level WARN.
    *
    * Machine-readable output contract: the `f""` interpolator formats
    * through the JVM DEFAULT locale, so a comma-decimal locale (de-DE,
    * tr-TR) would emit `1,234` into the JSON lines callers parse. The
    * default locale is therefore pinned to `Locale.ROOT` before the
    * session exists. */
  def apply(defaultCpus: Int): SparkSession = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up: JVM, codegen and the noop writer path. */
  def warmup(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").write
      .format("noop").mode(SaveMode.Overwrite).save()

  /** One timed span: wall seconds, plus the JVM's process-CPU and
    * collector-time deltas over the same span. cpu/wall is the
    * effective parallelism when the JVM owns its cores — a span whose
    * wall inflates while cpu holds is contention; wall and cpu
    * inflating together is real work. */
  final case class Timed(wall: Double, cpu: Double, gc: Double)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow(): Double = osBean.getProcessCpuTime / 1e9
  private def gcNow(): Double = {
    var ms = 0L
    val it = ManagementFactory.getGarbageCollectorMXBeans.iterator()
    while (it.hasNext) ms += math.max(0L, it.next().getCollectionTime)
    ms / 1e3
  }

  def timed[A](body: => A): (A, Timed) = {
    val c0 = cpuNow(); val g0 = gcNow(); val t0 = System.nanoTime()
    val a = body
    val w = (System.nanoTime() - t0) / 1e9
    (a, Timed(w, cpuNow() - c0, gcNow() - g0))
  }
}
