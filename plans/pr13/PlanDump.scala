package perfbench

import java.nio.file.{Files, Path, Paths}
import graft.catalog.TableDef
import graft.driver.JobRunner
import graft.find.Finder
import graft.model._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dumps the executed plans in this directory: the three Find queries
  * `JobRunner.run` issues for the first queue batch of the `backlog`
  * workload, seed 7, over the seed-7 backlog lake, and `matchedRows`
  * over its customer table with `InSetMaxKeys + 1` keys. Each plan is
  * `explain("formatted")` after the action ran, normalized with
  * `graft.tools.Plans.comparable`, the lake dir written as `<work>`.
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
    def fix(p: String) = graft.tools.Plans.comparable(p)
      .replace("file:" + w, "file:<work>").replace(w, "<work>")
    def write(name: String, qe: org.apache.spark.sql.execution.QueryExecution) = {
      Files.write(out.resolve(s"${name}_$suffix.txt"),
        fix(qe.explainString(FormattedMode)).getBytes("UTF-8"))
      println(s"[plans] $name")
    }
    def pq(t: String) = TableDef(t, s"$w/$t", DataFormat.Parquet,
      spark.read.parquet(s"$w/$t").schema)
    val mapped = Seq(
      DataMapper("m_customer", "customer",
        Seq("c_custkey", "c_name", "c_phone")) -> pq("customer"),
      DataMapper("m_orders", "orders", Seq("o_custkey")) -> pq("orders"),
      DataMapper("m_events", "events", Seq("user_id"),
        format = DataFormat.JsonLines) ->
        TableDef("events", s"$w/events", DataFormat.JsonLines,
          Deletion.EventsJsonSchema))
    val queue = new Deletion("backlog", 7).batch("warm0")
    mapped.foreach { case (m, t) =>
      val typed = Finder.typedGroups(spark, Finder.plan(m, t, queue))
      val q = Finder.findFiles(spark,
        Finder.scoped(JobRunner.readTable(spark, t), m), typed, t.format)
      val n = q.collect().distinct.length
      println(s"[plans] ${t.name}: $n objects")
      write(s"backlog_find_${t.name}", q.queryExecution)
    }
    val (cm, ct) = mapped.head
    val huge = (1 to Finder.InSetMaxKeys + 1).map(i =>
      DeletionQueueItem(s"q$i", MatchId.Simple(i.toString)))
    val rows = Finder.matchedRows(spark, JobRunner.readTable(spark, ct),
      Finder.plan(DataMapper("m_key", "customer", Seq("c_custkey")), ct, huge))
    println(s"[plans] matched rows: ${rows.collect().length}")
    write("matched_rows_above_threshold", rows.queryExecution)
    spark.stop()
  }
}
