package perfbench

import java.nio.file.{Files, Paths}
import graft.api.GraftApi
import graft.catalog.TableDef
import graft.model._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dumps the executed plans of the three Find queries of the first
  * measured-window job of the `backlog` workload, seed 7: the lake is
  * generated, the three mappers registered with one `GraftApi`, the six
  * warm-up batches run as jobs, and the next batch (`backlog-0`) runs as
  * a job whose Find queries are captured by a query-execution listener.
  * Each plan is `explain("formatted")`, normalized with
  * `graft.tools.Plans.comparable`, the lake dir written as `<work>`, with
  * the scan's `numFiles` metric in a header line. With the key index
  * (`GraftApi.keyIndexSize`) it prints the index's size after the
  * warm-up.
  *
  * To rerun, copy this file into a checkout's
  * `perfbench/src/test/scala/perfbench/` and run, from `perfbench/`:
  * `sbt "Test/runMain perfbench.PlanDump <outDir> <before|after>"`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0)); val suffix = args(1)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(out)
    val work = Files.createTempDirectory("plans-")
    Lakes.backlog(spark, 7, work)
    val w = work.toString
    def pq(t: String) = TableDef(t, s"$w/$t", DataFormat.Parquet,
      spark.read.parquet(s"$w/$t").schema)
    val api = new GraftApi(spark)
    Seq(DataMapper("m_customer", "customer",
          Seq("c_custkey", "c_name", "c_phone")) -> pq("customer"),
      DataMapper("m_orders", "orders", Seq("o_custkey")) -> pq("orders"),
      DataMapper("m_events", "events", Seq("user_id"),
        format = DataFormat.JsonLines) ->
        TableDef("events", s"$w/events", DataFormat.JsonLines,
          Deletion.EventsJsonSchema))
      .foreach { case (m, t) => api.putDataMapper(m, t) }
    val batches = new Deletion("backlog", 7)
    (0 until Deletion.WarmUpJobs).foreach { i =>
      api.enqueue(batches.batch(s"warm$i"))
      require(api.startJob(s"warm$i").state.status == JobStatus.Completed)
    }
    println(s"[plans] key index after the warm-up: ${api.keyIndexSize}")
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        captured.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    api.enqueue(batches.batch("backlog-0"))
    val run = api.startJob("backlog-0")
    Thread.sleep(1000) // the listener bus is asynchronous
    spark.listenerManager.unregister(listener)
    println(s"[plans] job ${run.state.status}, found " +
      run.foundPaths.map { case (m, p) => s"$m ${p.size}" }.mkString(", "))
    def fix(p: String) = graft.tools.Plans.comparable(p)
      .replace("file:" + w, "file:<work>").replace(w, "<work>")
    import scala.jdk.CollectionConverters._
    captured.asScala.foreach { qe =>
      val scans = qe.executedPlan.collect { case s: FileSourceScanExec => s }
      scans.headOption.foreach { s =>
        val table = Seq("customer", "orders", "events")
          .find(t => s.relation.location.rootPaths.exists(_.getName == t)).get
        val header = s"numFiles: ${s.metrics("numFiles").value} " +
          s"(listed: ${s.relation.location.inputFiles.length})\n\n"
        Files.write(out.resolve(s"backlog_find_${table}_$suffix.txt"),
          (header + fix(qe.explainString(FormattedMode))).getBytes("UTF-8"))
        println(s"[plans] $table: ${header.trim}")
      }
    }
    spark.stop()
  }
}
