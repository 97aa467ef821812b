package graft.tools

import graft.SparkSpec
import graft.llm.Materialize
import org.scalatest.funsuite.AnyFunSuite

/** Plan dumps compare across commits as text. */
class PlansSpec extends SparkSpec {

  test("plan dumps name no temp-dir suffix or plan id, cut at Materialize") {
    val dir = java.nio.file.Files.createTempDirectory("graft-span-census-")
    spark.range(10).write.mode("overwrite")
      .parquet(dir.resolve("data.parquet").toString)
    val plan = Plans.comparable(
      spark.read.parquet(dir.resolve("data.parquet").toString)
        .union(Materialize.cut(spark.range(3).toDF()))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    ArtifactStore.deleteRecursively(dir)
    assert(!plan.contains(dir.getFileName.toString))
    assert(plan.contains("graft-span-census-<tmp>"))
    assert(Plans.comparable("/data/graft-q124-007-123/x, graft-a-9]") ==
      "/data/graft-q124-007-<tmp>/x, graft-a-<tmp>]")
    assert(Plans.comparable("ENSURE_REQUIREMENTS, [plan_id=3533]") ==
      "ENSURE_REQUIREMENTS, [plan_id=<n>]")
    assert(plan.contains("at Materialize.scala:"), plan)
  }
}

/** The id masks of [[Plans.comparable]], without a Spark session. */
class PlansComparableSpec extends AnyFunSuite {

  test("dumps that differ only in expression ids and lambda variable " +
    "names compare equal") {
    def dump(a: Int, b: Int, x: Int): String =
      s"""(2) Project
         |Output [2]: [doc_id#${a}L, transform(toks#$b, lambdavariablefunction(lambda x_$x#${b + 1}, upper(lambda x_$x#${b + 1}))) AS up#${b + 2}]
         |Input [2]: [doc_id#${a}L, toks#$b]
         |Arguments: [plan_id=$a]""".stripMargin
    assert(dump(3416, 3420, 48) != dump(3433, 3437, 51))
    assert(Plans.comparable(dump(3416, 3420, 48)) ==
      Plans.comparable(dump(3433, 3437, 51)))
    // other numbers, and identifiers that only end in `x_<digits>`, stay
    assert(Plans.comparable("max_12#7L, limit 10, wx_3") ==
      "max_12#<id>, limit 10, wx_3")
    assert(Plans.comparable(dump(1, 2, 3)) !=
      Plans.comparable(dump(1, 2, 3).replace("upper", "lower")))
    assert(Plans.comparable(
      "Arguments: graft.find.Finder$$$Lambda$4004/0x00007f0fb5293f00@57698850, obj#12") ==
      "Arguments: graft.find.Finder$$$Lambda<n>, obj#<id>")
  }
}
