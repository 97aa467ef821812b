package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.catalog.{Catalog, TableDef}
import graft.driver.JobRunner
import graft.find.Finder
import graft.model._

/** Physical-schema drift sweep (★r19, VERDICT r18 #7 cadence — the
  * eighth proactive robustness class). At 100 TB a table's objects are
  * written over years by different jobs: a column added after old
  * partitions landed (files MISSING it), a decommissioned field still
  * present in old files (files with an EXTRA column), and files whose
  * column ORDER differs. The reference never trips on any of this
  * because Athena reads every object through the GLUE schema — a
  * missing column is NULL, an unknown physical column is invisible,
  * order is by name (docs/ARCHITECTURE.md query phase; the engine's
  * own q21 fix already pinned "the catalog owns the schema" for the
  * pruned-to-empty shape, ★r18).
  *
  * Pinned contracts:
  *   - [[JobRunner.readTable]] reads parquet through the DECLARED
  *     schema — the result's schema equals the catalog's no matter
  *     which footers drifted, a missing physical column reads NULL
  *     (→ never matches: reference null tolerance), an extra physical
  *     column is invisible, and column order is resolved by name.
  *     Inference is also a distributed footer-read job the declared
  *     read never pays at 100 TB — and its schema is whichever footer
  *     the listing yields first, i.e. DRIFT-ORDER-DEPENDENT semantics.
  *   - The Forget rewrite preserves each object's OWN physical schema
  *     (footer-driven): an old file missing the evolved column is
  *     rewritten WITHOUT phantom null columns; a file carrying an
  *     extra column keeps it, values intact — byte-level drift
  *     fidelity the reference gets from rewriting row groups in place
  *     (parquet_handler.py reuses the source schema).
  *   - End-to-end: one Find+Forget job over the drifted table deletes
  *     exactly the matched rows from every drift shape and COMPLETEs.
  */
class SchemaDriftSpec extends SparkSpec {
  import spark.implicits._

  /** The catalog-declared shape: (id bigint, name string, val bigint). */
  private val declaredDdl =
    Seq("id" -> "bigint", "name" -> "string", "val" -> "bigint")

  /** One table directory with three drifted physical objects:
    *   a.parquet  (id, name, val)          — the declared shape
    *   b.parquet  (id, val)                — written BEFORE `name` existed
    *   c.parquet  (extra, val, name, id)   — extra column + shuffled order
    */
  private def stageDriftedTable(): (String, TableDef) = {
    val dir = Files.createTempDirectory("graft-drift-").toString
    def add(df: DataFrame, name: String): Unit = {
      val f = stageParquetFile(df)
      Files.copy(Paths.get(f), Paths.get(s"$dir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    add(Seq((1L, "alpha", 10L), (2L, "beta", 20L), (3L, "gamma", 30L))
      .toDF("id", "name", "val"), "a")
    add(Seq((4L, 40L), (5L, 50L), (6L, 60L)).toDF("id", "val"), "b")
    add(Seq(("x7", 70L, "eta", 7L), ("x8", 80L, "beta", 8L),
        ("x9", 90L, "iota", 9L))
      .toDF("extra", "val", "name", "id"), "c")
    val table = Catalog.tableFromDdl("drift", dir, DataFormat.Parquet,
      declaredDdl)
    (dir, table)
  }

  test("readTable reads parquet through the DECLARED schema: drifted " +
    "footers read as the catalog shape — missing column NULL, extra " +
    "column invisible, order by name") {
    val (_, table) = stageDriftedTable()
    val df = JobRunner.readTable(spark, table)
    assert(df.schema.fieldNames.toSeq == Seq("id", "name", "val"),
      s"declared shape, got ${df.schema.fieldNames.mkString(",")}")
    val rows = df.orderBy("id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
    assert(rows.length == 9)
    // file B's rows carry NULL for the column its footer never had
    assert(rows.filter(r => r._1 >= 4 && r._1 <= 6)
      .forall(_._2 == null), rows.mkString(";"))
    // file C's rows resolve by NAME despite the shuffled footer order
    assert(rows.contains((8L, "beta", 80L)), rows.mkString(";"))
  }

  test("Find on the EVOLVED column matches only objects that " +
    "physically carry it (missing column = NULL = no match, the " +
    "reference's null tolerance); Find on a common column reaches " +
    "every drift shape") {
    val (_, table) = stageDriftedTable()
    val mapperName = DataMapper("mn", "drift", Seq("name"))
    Catalog.validateMapper(mapperName, table)
    val gName = Finder.plan(mapperName, table,
      Seq(DeletionQueueItem("q1", MatchId.Simple("beta"))))
    val data = JobRunner.readTable(spark, table)
    val filesByName = Finder.matchedFiles(spark, data, gName,
        DataFormat.Parquet)
      .collect().map(p => p.substring(p.lastIndexOf('/') + 1))
    assert(filesByName.toSet == Set("a.parquet", "c.parquet"),
      s"name=beta lives in a and c only, got ${filesByName.mkString(",")}")

    val mapperId = DataMapper("mi", "drift", Seq("id"))
    val gId = Finder.plan(mapperId, table,
      Seq(DeletionQueueItem("q2", MatchId.Simple("2")),
        DeletionQueueItem("q3", MatchId.Simple("5")),
        DeletionQueueItem("q4", MatchId.Simple("8"))))
    val filesById = Finder.matchedFiles(spark, data, gId, DataFormat.Parquet)
      .collect().map(p => p.substring(p.lastIndexOf('/') + 1))
    assert(filesById.toSet ==
      Set("a.parquet", "b.parquet", "c.parquet"), filesById.mkString(","))
  }

  test("end-to-end Find+Forget over the drifted table: matched rows " +
    "deleted from every drift shape, each object's rewrite preserves " +
    "its OWN physical schema (no phantom columns, extras kept)") {
    val (dir, table) = stageDriftedTable()
    val run = JobRunner.run(spark, "drift-e2e",
      Seq(DataMapper("mi", "drift", Seq("id")) -> table),
      Seq(DeletionQueueItem("q2", MatchId.Simple("2")),
        DeletionQueueItem("q3", MatchId.Simple("5")),
        DeletionQueueItem("q4", MatchId.Simple("8"))))
    assert(run.state.status == JobStatus.Completed, run.state.status)
    assert(run.state.stats.totalObjectUpdatedCount == 3)

    def footerFields(name: String): Seq[String] = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.hadoop.fs.{Path => HPath}
      val conf = spark.sessionState.newHadoopConf()
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new HPath(s"$dir/$name.parquet"), conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName).toSeq
      } finally r.close()
    }
    // per-object physical schemas preserved through the rewrite
    assert(footerFields("a") == Seq("id", "name", "val"))
    assert(footerFields("b") == Seq("id", "val"),
      "the pre-evolution object must NOT grow a phantom null column")
    assert(footerFields("c") == Seq("extra", "val", "name", "id"),
      "the extra column and the original order must survive")

    // surviving rows: 2, 5, 8 gone; extra-column values intact
    val after = JobRunner.readTable(spark, table).orderBy("id")
      .select("id").as[Long].collect().toSeq
    assert(after == Seq(1L, 3L, 4L, 6L, 7L, 9L), after.mkString(","))
    val extras = spark.read.parquet(s"$dir/c.parquet")
      .orderBy("id").select("extra").as[String].collect().toSeq
    assert(extras == Seq("x7", "x9"), extras.mkString(","))
  }

  test("declared-schema read is drift-ORDER-independent where " +
    "inference is not: a directory whose first-listed footer lacks " +
    "the evolved column still reads + finds through the catalog shape") {
    // `0.parquet` (listing-first) is the PRE-evolution object: bare
    // inference over this directory yields whichever footer the
    // listing hands Spark first — semantics changing with file NAMES.
    // Probed on this exact layout before the readTable fix: inference
    // returned (id, val) and the Find on `name` died with
    // UNRESOLVED_COLUMN — one old object listed first failed the
    // whole job. The declared read makes the same layout a non-event.
    val dir = Files.createTempDirectory("graft-drift-order-").toString
    def add(df: DataFrame, name: String): Unit = {
      val f = stageParquetFile(df)
      Files.copy(Paths.get(f), Paths.get(s"$dir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    add(Seq((4L, 40L), (6L, 60L)).toDF("id", "val"), "0")
    add(Seq((1L, "alpha", 10L), (2L, "beta", 20L))
      .toDF("id", "name", "val"), "1")
    val table = Catalog.tableFromDdl("drift2", dir, DataFormat.Parquet,
      declaredDdl)
    val data = JobRunner.readTable(spark, table)
    val mapper = DataMapper("mn", "drift2", Seq("name"))
    val groups = Finder.plan(mapper, table,
      Seq(DeletionQueueItem("q", MatchId.Simple("beta"))))
    val files = Finder.matchedFiles(spark, data, groups, DataFormat.Parquet)
      .collect().distinct
    assert(files.length == 1 && files.head.endsWith("1.parquet"),
      files.mkString(","))
  }

  test("probe: type-widened footer (int32 where the catalog declares " +
    "bigint)") {
    val dir = Files.createTempDirectory("graft-drift-widen-").toString
    val f = stageParquetFile(Seq((1, 10), (2, 20)).toDF("id", "val"))
    Files.copy(Paths.get(f), Paths.get(s"$dir/w.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val table = Catalog.tableFromDdl("widen", dir, DataFormat.Parquet,
      Seq("id" -> "bigint", "val" -> "bigint"))
    val got = scala.util.Try(
      JobRunner.readTable(spark, table).orderBy("id")
        .as[(Long, Long)].collect().toSeq)
    info(s"widened read => $got")
    assert(got.isSuccess && got.get == Seq((1L, 10L), (2L, 20L)), got)
  }

  test("probe: case-drifted footer (NAME where the catalog declares " +
    "name) resolves case-insensitively like every other layer (F4)") {
    val dir = Files.createTempDirectory("graft-drift-case-").toString
    val f = stageParquetFile(
      Seq((1L, "alpha"), (2L, "beta")).toDF("ID", "NAME"))
    Files.copy(Paths.get(f), Paths.get(s"$dir/k.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val table = Catalog.tableFromDdl("cased", dir, DataFormat.Parquet,
      Seq("id" -> "bigint", "name" -> "string"))
    val got = scala.util.Try(
      JobRunner.readTable(spark, table).orderBy("id")
        .as[(Long, String)].collect().toSeq)
    info(s"case-drifted read => $got")
    assert(got.isSuccess && got.get == Seq((1L, "alpha"), (2L, "beta")),
      got)
  }
}
