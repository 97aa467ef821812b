package graft.sql

import graft.SparkSpec
import graft.catalog.TableDef
import graft.find.Finder
import graft.model._

/** SQL front-end (F2): reference escaping semantics + differential
  * equality of the generated SQL against the native Find plan. */
class SqlFindSpec extends SparkSpec {
  import spark.implicits._

  test("identifier escaping doubles quotes and splits dots " +
    "(execute_query.py:152-153)") {
    implicit val d: SqlFind.Dialect = SqlFind.Ansi
    assert(SqlFind.escapeColumn("simple") == "\"simple\"")
    assert(SqlFind.escapeColumn("user.email") == "\"user\".\"email\"")
    assert(SqlFind.escapeColumn("we\"ird") == "\"we\"\"ird\"")
  }

  test("literal escaping: NULL, numbers verbatim, quote doubling " +
    "(execute_query.py:140-160)") {
    assert(SqlFind.escapeItem(null) == "NULL")
    assert(SqlFind.escapeItem(42) == "42")
    assert(SqlFind.escapeItem(2.5) == "2.5")
    assert(SqlFind.escapeItem("O'Brien") == "'O''Brien'")
    intercept[IllegalArgumentException](SqlFind.escapeItem(Seq(1)))
  }

  test("rendered query has the reference shape: DISTINCT over UNION ALL " +
    "of per-group manifest joins") {
    implicit val d: SqlFind.Dialect = SqlFind.Ansi
    val df = Seq((1L, "a", "b")).toDF("id", "first", "last")
    val table = TableDef("t", "", DataFormat.Parquet, df.schema)
    val groups = Finder.plan(
      DataMapper("m", "t", Seq("id", "first", "last")), table,
      Seq(DeletionQueueItem("s", MatchId.Simple("1")),
        DeletionQueueItem("c", MatchId.Composite(
          Map("first" -> "a", "last" -> "b")), dataMappers = Seq("m"))))
    val sql = SqlFind.findSql("\"db\".\"t\"", "\"mdb\".\"manifests\"",
      "job1", "m", groups, pathExpr = "t.\"$path\"",
      partitionFilters = Seq("year" -> 2024))
    assert(sql.startsWith("SELECT DISTINCT obj_path FROM ("))
    assert("UNION ALL".r.findAllIn(sql).size == groups.size - 1)
    assert(sql.contains("m.\"jobid\" = 'job1'"))
    assert(sql.contains("m.\"datamapperid\" = 'm'"))
    assert(sql.contains(
      s"concat(cast(t.\"first\" as varchar), '${Finder.CompositeToken}', " +
        "cast(t.\"last\" as varchar))"))
    assert(sql.contains(
      s"m.\"queryablecolumns\" = 'first${Finder.CompositeToken}last'"))
    assert(sql.contains("AND \"year\" = 2024"))
  }

  test("generated Spark SQL returns the same files as the native plan") {
    val df = Seq((1L, "alice", 10), (2L, "bob", 20), (3L, "carol", 30))
      .toDF("id", "name", "grp")
    val file = stageParquetFile(df)
    val data = spark.read.parquet(file)
    val table = TableDef("t", file, DataFormat.Parquet, data.schema)
    val groups = Finder.plan(DataMapper("m", "t", Seq("id", "name")), table,
      Seq(DeletionQueueItem("a", MatchId.Simple("2")),
        DeletionQueueItem("c", MatchId.Composite(
          Map("id" -> "3", "name" -> "carol")), dataMappers = Seq("m"))))
    val viaSql = SqlFind.runOnSpark(spark, data, "j1", "m", groups)
      .collect().map(_.getString(0)).toSet
    val native = Finder.matchedFiles(spark, data, groups, DataFormat.Parquet)
      .collect().toSet
    assert(viaSql == native && native.nonEmpty)
  }

  test("nested struct identifiers render and run through SQL") {
    val d = spark.read.json(Seq(
      """{"id":1,"user":{"email":"x@y.z"}}""",
      """{"id":2,"user":{"email":"a@b.c"}}""").toDS)
    val file = stageParquetFile(d)
    val data = spark.read.parquet(file)
    val table = TableDef("t", file, DataFormat.Parquet, data.schema)
    val groups = Finder.plan(DataMapper("m", "t", Seq("user.email")), table,
      Seq(DeletionQueueItem("a", MatchId.Simple("x@y.z"))))
    val viaSql = SqlFind.runOnSpark(spark, data, "j2", "m", groups)
      .collect().map(_.getString(0)).toSet
    assert(viaSql == Finder.matchedFiles(spark, data, groups,
        DataFormat.Parquet).collect().toSet)
  }
}
