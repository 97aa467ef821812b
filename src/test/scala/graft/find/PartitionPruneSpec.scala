package graft.find

import graft.SparkSpec
import graft.catalog.TableDef
import graft.model._
import org.apache.spark.sql.execution.FileSourceScanExec

/** P6 partition pruning: the mapper's partition-literal scope must reach
  * the scan as `PartitionFilters` (static pruning — only the named
  * partition directories are listed/read), the Spark analog of the
  * reference's per-partition query literals (execute_query.py:97-103).
  */
class PartitionPruneSpec extends SparkSpec {
  import spark.implicits._

  private lazy val loc = {
    val dir = java.nio.file.Files.createTempDirectory("graft-part-").toString
    Seq((1L, "a", "X"), (2L, "b", "X"), (3L, "c", "Y"), (4L, "d", "Z"))
      .toDF("id", "name", "seg")
      .write.mode("overwrite").partitionBy("seg").parquet(dir)
    dir
  }

  private def mapperAndGroups = {
    val data = spark.read.parquet(loc)
    val table = TableDef("t", loc, DataFormat.Parquet, data.schema,
      partitionKeys = Seq("seg"))
    val mapper = DataMapper("m", "t", Seq("id"),
      partitionFilter = Map("seg" -> Seq("X")))
    graft.catalog.Catalog.validateMapper(mapper, table)
    (data, mapper, Finder.plan(mapper, table,
      Seq(DeletionQueueItem("q", MatchId.Simple("1")),
        DeletionQueueItem("r", MatchId.Simple("3")))))
  }

  test("partition filter prunes the scan (PartitionFilters non-empty, " +
    "only matching partition files read)") {
    val (data, mapper, groups) = mapperAndGroups
    val out = Finder.matchedRows(spark, Finder.scoped(data, mapper), groups)
    // id==3 lives in pruned-away partition Y: must not appear
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L))

    val scan = out.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty,
      s"no PartitionFilters in:\n${out.queryExecution.executedPlan}")
    assert(scan.partitionFilters.mkString.contains("seg"))
    // static pruning: only partition seg=X is listed into the scan
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got " +
        s"${scan.selectedPartitions.partitionCount}")
  }

  test("filter on a non-partition key is rejected at validation") {
    val data = spark.read.parquet(loc)
    val table = TableDef("t", loc, DataFormat.Parquet, data.schema,
      partitionKeys = Seq("seg"))
    intercept[IllegalArgumentException] {
      graft.catalog.Catalog.validateMapper(
        DataMapper("m", "t", Seq("id"),
          partitionFilter = Map("name" -> Seq("a"))), table)
    }
  }

  test("matchedFiles over the scoped table returns only pruned-in files") {
    val (data, mapper, groups) = mapperAndGroups
    val files = Finder.matchedFiles(spark,
      Finder.scoped(data, mapper), groups, DataFormat.Parquet)
      .collect().distinct
    assert(files.length == 1 && files.head.contains("seg=X"))
  }
}
