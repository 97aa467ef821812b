package graft.tools

import graft.catalog.TableDef
import graft.find.Finder
import graft.model._
import graft.tools.Session.timed
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** Micro-bench behind the [[Finder.InSetMaxKeys]] threshold: times the
  * SAME Find (matched rows, full materialization) in BOTH forms of the
  * Find filter — the native literal `IN` ([[Finder.forgetPredicate]])
  * vs the broadcast key probe ([[Finder.keyProbe]]) — across queue
  * sizes, on sf lineitem (`l_orderkey` identifiers), and counts what each
  * form makes the scan read. The threshold is a plan-shape crossover, not
  * a correctness switch, so the right value is wherever the curves cross;
  * run this to re-derive it on new hardware instead of trusting the
  * constant.
  *
  * The lineitem table is first rewritten as 16 objects range-clustered by
  * `l_orderkey`, about 8 row groups each, so row-group statistics can
  * prune. Two queues per size: `scattered` (every step-th key over the
  * whole key range) and `clustered` (consecutive keys from one point).
  * Per form it reports the wall (median of 3), the objects holding a
  * row group the scan reads (`*_files`) and the row groups read
  * (`*_row_groups`, of `row_groups`): the literal form pushes what Spark
  * pushes for an `In` — an OR of equalities up to
  * `spark.sql.parquet.pushdown.inFilterThreshold` values, parquet's `in`
  * predicate above it — and the row groups are the ones parquet-mr keeps
  * under that filter (statistics and dictionaries, as Spark's reader
  * opens them); the probe pushes nothing and reads every row group.
  *
  * Usage: `runMain graft.tools.Soak find-strategy [sizes]` with
  * `SPARK_GRAFT_SF_DIR` (sizes are queue sizes; default
  * 1000,10000,100000,200000). */
object FindStrategyBench {
  def run(spark: SparkSession, sizes: Seq[Int], args: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val source = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-find-strategy-")
    val bytes = new java.io.File(s"$sfDir/lineitem.parquet").length
    try {
      source.repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey").write
        .option("parquet.block.size", math.max(4096L, bytes / 128).toString)
        .parquet(dir.resolve("t").toString)
      measure(spark, dir.resolve("t").toString, sizes)
    } finally ArtifactStore.deleteRecursively(dir)
  }

  private def measure(spark: SparkSession, location: String,
                      sizes: Seq[Int]): Unit = {
    val data = spark.read.parquet(location)
    val table = TableDef("lineitem", location, DataFormat.Parquet, data.schema)
    val mapper = DataMapper("m", "lineitem", Seq("l_orderkey"))
    val keyRange = data.selectExpr("min(l_orderkey)", "max(l_orderkey)").head()
    val (minKey, maxKey) = (keyRange.getLong(0), keyRange.getLong(1))
    val conf = spark.sparkContext.hadoopConfiguration
    val files = graft.find.KeyIndex.listing(data).get.map(_.getPath)
    val threshold =
      spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold", "10").toInt

    /** (objects with a row group read, row groups read) under `pred`. */
    def rowGroups(pred: Option[FilterPredicate]): (Int, Int) = {
      val kept = files.map { f =>
        val opts = org.apache.parquet.HadoopReadOptions.builder(conf)
          .withRecordFilter(pred.fold(FilterCompat.NOOP)(FilterCompat.get))
          .build()
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf), opts)
        try r.getRowGroups.size finally r.close()
      }
      (kept.count(_ > 0), kept.sum)
    }
    /** What Spark pushes for `l_orderkey IN keys` ([[Finder]] class doc). */
    def pushed(keys: Seq[Long]): FilterPredicate = {
      val c = FilterApi.longColumn("l_orderkey")
      if (keys.size <= threshold)
        keys.map(k => FilterApi.eq(c, java.lang.Long.valueOf(k)): FilterPredicate)
          .reduce((a, b) => FilterApi.or(a, b))
      else FilterApi.in(c, keys.map(java.lang.Long.valueOf).toSet.asJava)
    }

    // (median wall of 3 runs, row count of the first)
    def timeMedian3(body: => Long): (Double, Long) = {
      val runs = (1 to 3).map(_ => timed(body))
      (runs.map(_._2.wall).sorted.apply(1), runs.head._1)
    }

    val (_, allGroups) = rowGroups(None)
    val report = new Soak.Report("find-strategy")
    sizes.foreach { k =>
      // every 'step'-th key: spread across the table, ~uniform hit rate
      val step = math.max(1L, (maxKey - minKey) / k)
      val scattered = (0 until k).map(i => minKey + i * step)
      val start = minKey + (maxKey - minKey) / 3
      val clustered = (0 until k).map(i => start + i)
      val metrics = Seq("scattered" -> scattered, "clustered" -> clustered)
        .flatMap { case (shape, keys) =>
          val queue = keys.zipWithIndex.map { case (v, i) =>
            DeletionQueueItem(s"q$i", MatchId.Simple(v.toString))
          }
          val typed = Finder.typedGroups(spark, Finder.plan(mapper, table, queue))
          val (tPred, nPred) = timeMedian3(
            data.filter(typed.map(Finder.forgetPredicate).reduce(_ || _))
              .count())
          val (tProbe, nProbe) = timeMedian3(
            data.filter(Finder.keyProbe(spark, typed)).count())
          require(nPred == nProbe, s"Find forms differ: $nPred vs $nProbe")
          val (litFiles, litGroups) = rowGroups(Some(pushed(keys)))
          Seq(s"${shape}_rows_matched" -> nPred.toDouble,
            s"${shape}_predicate_sec" -> tPred, s"${shape}_probe_sec" -> tProbe,
            s"${shape}_predicate_files" -> litFiles.toDouble,
            s"${shape}_predicate_row_groups" -> litGroups.toDouble,
            s"${shape}_probe_files" -> files.size.toDouble,
            s"${shape}_probe_row_groups" -> allGroups.toDouble)
        }
      report.scale(k, (Seq("keys" -> k.toDouble, "files" -> files.size.toDouble,
        "row_groups" -> allGroups.toDouble) ++ metrics).toMap)
    }
    report.ratios()
  }
}
