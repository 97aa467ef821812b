package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Seeded lake generation. Every value is a pure function of (seed, row
  * id), and every object is written by exactly one task from rows in a
  * fixed order under a fixed name, so the same seed gives byte-identical
  * objects. */
object Lakes {

  /** Deterministic pseudo-words: `k` lowercase words drawn from `h`. */
  def words(h: Long, k: Int): String = {
    var x = h
    val sb = new StringBuilder
    var i = 0
    while (i < k) {
      x = mix(x + 0x9E3779B97F4A7C15L)
      val len = 3 + java.lang.Long.remainderUnsigned(x, 6).toInt
      var y = x >>> 8
      if (i > 0) sb.append(' ')
      var j = 0
      while (j < len) {
        sb.append(('a' + java.lang.Long.remainderUnsigned(y, 26)).toChar)
        y = y / 26 + (x >>> 40)
        j += 1
      }
      i += 1
    }
    sb.toString
  }

  /** splitmix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A seeded hash of `c` with a per-column salt. */
  def h(seed: Long, c: Column, salt: Int): Column =
    xxhash64(lit(seed), c, lit(salt))

  def pm(seed: Long, c: Column, salt: Int, n: Long): Column =
    pmod(h(seed, c, salt), lit(n))

  private val wordsUdf = udf((x: Long, k: Int) => words(x, k))
  def text(seed: Long, c: Column, salt: Int, k: Int): Column =
    wordsUdf(h(seed, c, salt), lit(k))

  /** Write `df` as exactly `n` objects `obj-%05d.<ext>` under `dir`; the
    * column `_obj` (0 until n) names each row's object and is dropped.
    * `format` is "parquet" or "json.gz" (gzip JSON lines). All rows of
    * an object meet in one task, sorted by `sortCols` (a unique key), so
    * each object is one file with a fixed row order. */
  def writeObjects(spark: SparkSession, df: DataFrame, n: Int, dir: Path,
                   format: String, sortCols: Seq[String]): Unit = {
    val out = df.repartition(col("_obj"))
      .sortWithinPartitions(("_obj" +: sortCols).map(col): _*)
      .write.partitionBy("_obj")
    val tmp = dir.resolveSibling(dir.getFileName.toString + "._tmp")
    LakeFiles.deleteTree(tmp)
    format match {
      case "parquet" => out.parquet(tmp.toString)
      case "json.gz" => out.option("compression", "gzip").json(tmp.toString)
    }
    Files.createDirectories(dir)
    (0 until n).foreach { i =>
      val parts = Files.list(tmp.resolve(s"_obj=$i")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      require(parts.size == 1, s"$dir: object $i came out as ${parts.size} files")
      Files.move(parts.head, dir.resolve(f"obj-$i%05d.$format"))
    }
    LakeFiles.deleteTree(tmp)
  }

  // ---- backlog: customer + orders parquet, events gzip JSON lines ----

  val BacklogCustomers = 6000L
  val BacklogOrdersPer = 8
  val BacklogEventsPer = 4
  /** Many small order objects, each customer's orders spread over them,
    * so a job's matched-object count (and its per-object costs) is large. */
  val BacklogOrderObjects = 128

  def custName(k: Long): String = f"Customer#$k%09d"
  def custPhone(seed: Long, k: Long): String = {
    val x = mix(seed * 31 + k)
    val d = java.lang.Long.remainderUnsigned(x, 10000000000L)
    f"${10 + k % 25}%02d-${d / 10000000}%03d-${d / 10000 % 1000}%03d-${d % 10000}%04d"
  }

  def backlog(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val id = col("id")
    val phone = udf((k: Long) => custPhone(seed, k))
    val cust = spark.range(1, BacklogCustomers + 1).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      text(seed, id, 1, 3).as("c_address"),
      pm(seed, id, 2, 25).cast("int").as("c_nationkey"),
      phone(id).as("c_phone"),
      (pm(seed, id, 3, 1100000) / 100.0 - 1000).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY").map(lit): _*),
        (pm(seed, id, 4, 5) + 1).cast("int")).as("c_mktsegment"),
      text(seed, id, 5, 8).as("c_comment"),
      ((id - 1) / (BacklogCustomers / 8)).cast("int").as("_obj"))
    writeObjects(spark, cust, 8, dir.resolve("customer"), "parquet",
      Seq("c_custkey"))
    val orders = spark.range(BacklogCustomers * BacklogOrdersPer).select(
      (id + 1).as("o_orderkey"),
      (id / BacklogOrdersPer + 1).cast("long").as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (pm(seed, id, 11, 3) + 1).cast("int")).as("o_orderstatus"),
      (pm(seed, id, 12, 50000000) / 100.0).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"),
        pm(seed, id, 13, 2400).cast("int")).as("o_orderdate"),
      text(seed, id, 14, 6).as("o_comment"),
      pm(seed, id, 15, BacklogOrderObjects).cast("int").as("_obj"))
    writeObjects(spark, orders, BacklogOrderObjects, dir.resolve("orders"), "parquet",
      Seq("o_orderkey"))
    val events = spark.range(BacklogCustomers * BacklogEventsPer).select(
      (id / BacklogEventsPer + 1).cast("long").as("user_id"),
      (id + 1).as("event_id"),
      (lit(1700000000000L) + pm(seed, id, 21, 86400000L * 30)).as("ts"),
      element_at(array(Seq("login", "view", "buy", "logout").map(lit): _*),
        (pm(seed, id, 22, 4) + 1).cast("int")).as("kind"),
      text(seed, id, 23, 5).as("detail"),
      pm(seed, id, 24, 4).cast("int").as("_obj"))
    writeObjects(spark, events, 4, dir.resolve("events"), "json.gz",
      Seq("event_id"))
  }
}
