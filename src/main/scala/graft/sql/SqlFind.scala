package graft.sql

import graft.find.Finder
import graft.find.Finder.GroupMatches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL front-end for the Find phase: generates the reference's Athena
  * query shape (SURVEY.md §2.3/F2; reference: execute_query.py:30-137 —
  * `SELECT DISTINCT "$path" FROM ( ...one block per column group,
  * UNION ALL... )` joined against the job-scoped manifest) and runs it
  * through `spark.sql` over temp views.
  *
  * The engine's native path ([[Finder.matchedFiles]]) compiles the same
  * semantics to ONE pruned scan — this front-end exists for SQL parity
  * (external tools, audits) and as a differential test of the native
  * plan. Deviation from the reference template: composite components are
  * explicitly cast to varchar/string inside `concat` (the reference
  * relies on Athena's implicit varchar coercion).
  */
object SqlFind {

  /** SQL dialect knobs: ANSI/Athena quotes identifiers with `"`, Spark
    * with backticks; Athena's string type is `varchar`, Spark's `string`. */
  final case class Dialect(identQuote: String, stringType: String)
  val Ansi: Dialect = Dialect("\"", "varchar")
  val Spark: Dialect = Dialect("`", "string")

  /** Identifier escaping (execute_query.py:152-153): embedded quotes are
    * doubled; dots split into nested quoted parts (`a.b` → `"a"."b"`). */
  def escapeColumn(name: String)(implicit d: Dialect): String =
    name.split('.')
      .map(p => d.identQuote +
        p.replace(d.identQuote, d.identQuote * 2) + d.identQuote)
      .mkString(".")

  /** Literal escaping (execute_query.py:140-160): NULL, numbers verbatim,
    * strings single-quoted with `'` doubling. */
  def escapeItem(v: Any): String = v match {
    case null => "NULL"
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Double => n.toString
    case n: Float => n.toString
    case s: String => "'" + s.replace("'", "''") + "'"
    case other =>
      throw new IllegalArgumentException(
        s"Unable to process supplied value: $other")
  }

  /** Render the Find query for one mapper's column groups.
    *
    * @param pathExpr SQL expression yielding the object path — the
    *                 reference's `t."$path"`; on Spark `input_file_name()`
    * @param partitionFilters `(key, literal)` pairs appended per block
    *                 (execute_query.py:97-103)
    */
  def findSql(dataView: String, manifestView: String, jobId: String,
              mapperId: String, groups: Seq[GroupMatches],
              pathExpr: String = "input_file_name()",
              partitionFilters: Seq[(String, Any)] = Nil)
             (implicit d: Dialect): String = {
    require(groups.nonEmpty, "no column groups")
    val partSql = partitionFilters.map { case (k, v) =>
      s" AND ${escapeColumn(k)} = ${escapeItem(v)}"
    }.mkString

    val blocks = groups.map { gm =>
      val cols = gm.group.columns
      val matchExpr =
        if (cols.size == 1)
          s"cast(t.${escapeColumn(cols.head)} as ${d.stringType})"
        else cols.map(c =>
          s"cast(t.${escapeColumn(c)} as ${d.stringType})")
          .mkString("concat(",
            s", '${Finder.CompositeToken}', ", ")")
      s"""    SELECT $pathExpr AS obj_path
         |    FROM $dataView t, $manifestView m
         |    WHERE
         |        m.${escapeColumn("jobid")} = ${escapeItem(jobId)} AND
         |        m.${escapeColumn("datamapperid")} = ${escapeItem(mapperId)} AND
         |        $matchExpr = m.${escapeColumn("queryablematchid")} AND
         |        m.${escapeColumn("queryablecolumns")} = ${escapeItem(gm.group.key)}
         |        $partSql""".stripMargin
    }
    s"SELECT DISTINCT obj_path FROM (\n" +
      blocks.mkString("\n    UNION ALL\n") + "\n)"
  }

  /** Run the generated SQL on Spark: registers the data and the manifest
    * (reference manifest schema: jobid, datamapperid, queryablematchid,
    * queryablecolumns) as temp views and executes the rendered query.
    * Differentially equal to [[Finder.matchedFiles]]. */
  def runOnSpark(spark: SparkSession, data: DataFrame, jobId: String,
                 mapperId: String,
                 groups: Seq[GroupMatches]): DataFrame = {
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
    val dataView = s"graft_data_$suffix"
    val manView = s"graft_manifest_$suffix"
    data.createOrReplaceTempView(dataView)
    Finder.typedGroups(spark, groups).map { tg =>
      Finder.manifest(spark, tg).select(
        lit(jobId).as("jobid"),
        lit(mapperId).as("datamapperid"),
        col("match_key").as("queryablematchid"),
        col("columns_key").as("queryablecolumns"))
    }.reduce(_ union _).createOrReplaceTempView(manView)
    val sql = findSql(dataView, manView, jobId, mapperId, groups)(Spark)
    try spark.sql(sql)
    finally () // views stay for the query's lazy evaluation
  }
}
