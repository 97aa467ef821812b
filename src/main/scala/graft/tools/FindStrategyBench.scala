package graft.tools

import graft.catalog.TableDef
import graft.find.Finder
import graft.model._
import graft.tools.Session.timed
import org.apache.spark.sql.SparkSession

/** Micro-bench behind the [[Finder.InSetMaxKeys]] threshold: times the
  * SAME Find (matched rows, full materialization) under BOTH strategies
  * — native `InSet` predicate vs broadcast left-semi join — across
  * queue sizes, on sf lineitem (`l_orderkey` identifiers). The
  * threshold is a plan-shape crossover, not a correctness switch, so
  * the right value is wherever the curves cross; run this to re-derive
  * it on new hardware instead of trusting the constant.
  *
  * Usage: `runMain graft.tools.Soak find-strategy [sizes]` with
  * `SPARK_GRAFT_SF_DIR` (sizes are queue sizes; default
  * 1000,10000,100000,200000). */
object FindStrategyBench {
  def run(spark: SparkSession, sizes: Seq[Int], args: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val data = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val table = TableDef("lineitem", s"$sfDir/lineitem.parquet",
      DataFormat.Parquet, data.schema)
    val mapper = DataMapper("m", "lineitem", Seq("l_orderkey"))
    val maxKey = data.selectExpr("max(l_orderkey)").head().getLong(0)

    // (median wall of 3 runs, row count of the first)
    def timeMedian3(body: => Long): (Double, Long) = {
      val runs = (1 to 3).map(_ => timed(body))
      (runs.map(_._2.wall).sorted.apply(1), runs.head._1)
    }

    val report = new Soak.Report("find-strategy")
    sizes.foreach { k =>
      // every 'step'-th key: spread across the table, ~uniform hit rate
      val step = math.max(1L, maxKey / k)
      val queue = (0 until k).map(i =>
        DeletionQueueItem(s"q$i", MatchId.Simple((1L + i * step).toString)))
      val groups = Finder.plan(mapper, table, queue)
      val (tPred, nPred) = timeMedian3(
        data.filter(Finder.matchPredicate(spark, groups)).count())
      val (tJoin, nJoin) = timeMedian3(
        Finder.matchedRowsViaJoin(spark, data, groups).count())
      require(nPred == nJoin, s"strategy results differ: $nPred vs $nJoin")
      report.scale(k, Map("keys" -> k.toDouble,
        "rows_matched" -> nPred.toDouble, "predicate_sec" -> tPred,
        "semijoin_sec" -> tJoin))
    }
    report.ratios()
  }
}
