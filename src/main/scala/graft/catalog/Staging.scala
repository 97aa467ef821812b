package graft.catalog

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Deterministic, idempotent staging of derived table layouts the raw
  * testdata does not ship (e.g. a Hive-partitioned copy used to exercise
  * partition pruning). Staged once per (sf dir, layout) under the system
  * temp dir; re-used across queries, Verify and Bench runs.
  */
object Staging {

  /** Customer table partitioned by `c_mktsegment` (Hive directory
    * layout). Returns the table location. */
  def partitionedCustomer(spark: SparkSession, sfDir: String): String =
    synchronized {
      val sfName = Paths.get(sfDir).getFileName.toString
      val loc = s"${sys.props("java.io.tmpdir")}/graft-staged/$sfName/" +
        "customer_by_segment"
      if (!Files.exists(Paths.get(s"$loc/_SUCCESS"))) {
        spark.read.parquet(s"$sfDir/customer.parquet")
          .write.mode("overwrite")
          .partitionBy("c_mktsegment")
          .parquet(loc)
      }
      loc
    }

  /** Customer table as a single JSON-lines object (the reference's other
    * storage format). Returns the file path. */
  def jsonCustomer(spark: SparkSession, sfDir: String): String =
    synchronized {
      val file = jsonCustomerFile(sfDir)
      val dir = Paths.get(file).getParent.toString
      if (!Files.exists(Paths.get(file))) {
        spark.read.parquet(s"$sfDir/customer.parquet")
          .orderBy("c_custkey")
          .coalesce(1).write.mode("overwrite").json(s"$dir/_tmp")
        val part = Files.list(Paths.get(s"$dir/_tmp")).iterator()
        var src: java.nio.file.Path = null
        while (part.hasNext) {
          val p = part.next()
          if (p.toString.endsWith(".json")) src = p
        }
        Files.createDirectories(Paths.get(dir))
        Files.move(src, Paths.get(file),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      file
    }

  /** Where [[jsonCustomer]] stages the object for `sfDir`; stages
    * nothing itself. */
  def jsonCustomerFile(sfDir: String): String = {
    val sfName = Paths.get(sfDir).getFileName.toString
    s"${sys.props("java.io.tmpdir")}/graft-staged/$sfName/customer_json/" +
      "customer.json"
  }
}
