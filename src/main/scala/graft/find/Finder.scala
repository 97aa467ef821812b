package graft.find

import graft.catalog.TableDef
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Find-phase planner: turns (mapper, deletion queue) into the Find plan —
  * the rows / file paths containing at least one match — and the
  * Forget-phase anti-predicate over the same match groups.
  *
  * Re-expresses the reference's generated Athena SQL (SURVEY.md §2.3;
  * reference: backend/lambdas/tasks/generate_queries.py and
  * execute_query.py:30-137) as a Catalyst plan. Find is one membership
  * test — a row matches when some group's key is in the queue — and ONE
  * filter builds it for rows and files alike ([[Finder.findFilter]]):
  * literal where the scan can prune, probe everywhere else.
  *
  *   1. '''Literal form.''' On parquet, when the mapper has at most
  *      [[Finder.InSetMaxKeys]] keys, a group with no float/double
  *      column becomes its native `IN` (for a composite of at most
  *      [[Finder.CompositeOrMaxTuples]] tuples, the OR of per-tuple
  *      conjunctions). It is the only form parquet pushes down to the
  *      row-group stats: at 100 TB the Find is one pruned-projection scan
  *      whose bytes are bounded by the identifier columns (BASELINE.md's
  *      1.3-7% column-scan ratio).
  *
  *   2. '''Key probe.''' Every other group — float/double columns,
  *      composites above [[Finder.CompositeOrMaxTuples]] tuples, every
  *      JSON-lines group, every group of a mapper above the key
  *      threshold — looks its string-rendered key ([[Finder.dataKey]]) up
  *      in a hash set that ONE broadcast per query ships to the scan's
  *      tasks ([[Finder.keyProbe]]): the reference's broadcast semi-join
  *      against the manifest (execute_query.py:90-122), minus the join.
  *      A row format has no statistics to prune, and no scan can push the
  *      probe, so the JSON parser never tests a line against each key in
  *      turn: a line costs one hash probe per group.
  *
  * The Find filter is the OR of the group predicates, so a Find is ONE
  * scan that plans no shuffle and keeps genuinely duplicate source rows
  * (an Athena `WHERE a OR b` keeps them). A files query ([[findFiles]])
  * is ONE map-only Spark job: scan, filter, `input_file_name()`, and
  * each task emits a path once. No shuffle dedups the paths, so a path
  * comes back once per scan partition that read part of its object (more
  * than once only for an object larger than
  * `spark.sql.files.maxPartitionBytes`); the caller collects the few
  * paths and removes repeats on the driver. Through `GraftApi` the scan
  * opens only the objects that can hold a queued key: a per-object
  * [[KeyIndex]] proposes them, and one `_metadata.file_path` predicate
  * leaves every other object out before Spark opens a file (filter, then
  * verify: the Find filter still decides membership).
  *
  * Casting contract (generate_queries.py:495-519, execute_query.py:90):
  * match values are cast to the column's type by Spark itself at plan time
  * ([[Finder.typedGroups]]); a value that does not cast raises
  * [[graft.model.MatchIdCastingError]] before anything runs. The literal
  * form compares native values — provably equivalent to the reference's
  * varchar equality for int/string/decimal columns, because the string
  * rendering of those types is injective. The probe compares the
  * string-rendered key, the varchar contract itself; float/double groups
  * always take it, because NaN/-0.0 make native equality diverge from
  * that contract.
  */
object Finder {

  /** Sentinel joining composite key parts; same role as the reference's
    * `_S3F2COMP_` token (generate_queries.py:27). */
  val CompositeToken = "_GRAFTCOMP_"

  /** Above this many match keys in a mapper, every group of its Find
    * goes through the key probe ([[findFilter]]).
    *
    * Evidence (`runMain graft.tools.Soak find-strategy`, sf0.1 lineitem
    * ~600k rows, `l_orderkey` keys spread over the table, local[4] on a
    * 4-core VM, median-of-3 matched-rows counts, both forms returning
    * identical counts), literal `IN` vs probe: 10 keys 0.19 vs 0.31 s,
    * 100 keys 0.26 vs 0.32 s, 1k keys 0.26 vs 0.27 s (the crossover),
    * 10k keys 0.68 vs 0.26 s, 32,768 keys 1.68 vs 0.27 s, 100k keys
    * 4.07 vs 0.52 s, 200k keys 10.6 vs 0.91 s. The probe pays one
    * broadcast and a per-row UDF call; the literal set's per-row
    * evaluation grows with the keys. Parquet only pushes an `In` down as
    * OR-of-eq below `spark.sql.parquet.pushdown.inFilterThreshold` (≈10
    * values), beyond which the scan-side filter degrades to the keys'
    * min/max RANGE, so a scattered queue prunes little either way. On
    * that box the constant sits far above the crossover: a parquet queue
    * of ~1k to 32,768 keys takes the slower literal form. Re-derive it on
    * new hardware by running the bench.
    *
    * What each form makes the scan read (same bench and box, sf0.1
    * lineitem rewritten as 16 objects range-clustered by `l_orderkey`,
    * 562 row groups; the probe reads all of them at every size), literal
    * form as objects read / row groups read and wall against the
    * probe's: a clustered queue (consecutive keys) — 10 keys 1 / 1,
    * 0.23 vs 0.34 s; 1k keys 1 / 5, 0.26 vs 0.31 s; 10k keys 2 / 39,
    * 0.77 vs 0.22 s; 32,768 keys 4 / 124, 1.96 vs 0.25 s. A scattered
    * queue (keys spread over the table) — 10 keys 10 / 10 (ten
    * equalities, row-group statistics and dictionaries prune), 0.28 vs
    * 0.50 s; 1k keys 16 / 551, 0.52 vs 0.35 s; 10k keys 16 / 525, 1.37
    * vs 0.26 s; 32,768 keys 15 / 492, 2.36 vs 0.25 s. Above ~1k keys the
    * literal form pays more per evaluated key than its pruning saves
    * even on a clustered queue; object-level pruning comes from the
    * [[KeyIndex]], which no queue size defeats. */
  val InSetMaxKeys = 32768

  /** Composite groups with at most this many tuples use an OR-of-ANDs
    * native predicate (row-group-stats friendly); larger ones are probed
    * by their token-joined string key ([[keyProbe]]). The cap is a
    * CODEGEN guard more than a perf tunable: each tuple contributes an
    * `(a = x AND b = y)` branch to one giant disjunction, and past a few
    * hundred branches the generated evaluator risks the JVM's 64KB
    * method limit / whole-stage-codegen fallback to interpreted mode —
    * whereas the probe stays O(1) per row regardless of tuple count. 256
    * keeps the OR form (and its row-group-stat pruning) for every
    * realistic manual queue while routing bulk composite queues to the
    * flat form the q02 gate covers. */
  val CompositeOrMaxTuples = 256

  /** A canonical column group: lexicographically sorted identifier
    * column dot-paths + their resolved leaf types. */
  final case class ColumnGroup(columns: Seq[String], types: Seq[DataType]) {
    require(columns == columns.sorted, s"group not canonical: $columns")
    def key: String = columns.mkString(CompositeToken)
  }

  /** Matches for one column group: (queueItemId, raw string values aligned
    * with group.columns). */
  final case class GroupMatches(
      group: ColumnGroup, rows: Seq[(String, Seq[String])])

  /** A column group with its match values cast-validated and rendered by
    * Spark: `native(i)(j)` is the j-th column's value of tuple i with the
    * column's type applied and `rendered(i)(j)` that value cast to string
    * (null for a null part); `stringKeys` is the token-joined string form
    * (the reference's manifest `queryablematchid`); `ids(i)` is tuple
    * i's queue item id. */
  final case class TypedGroup(group: ColumnGroup, ids: Seq[String],
                              native: Seq[Seq[Any]],
                              rendered: Seq[Seq[String]]) {
    lazy val stringKeys: Seq[String] = rendered.map(parts =>
      if (parts.contains(null)) null else parts.mkString(CompositeToken))
  }

  /** Scope queue items to a mapper and group them by canonical column
    * group (reference: generate_queries.py:167-215). Simple matches fan
    * out to every identifier column of the mapper; Composite matches use
    * their own (sorted) column set, which must be a subset of the mapper's
    * identifier columns and must be scoped to exactly one mapper
    * (queue/handlers.py:149-161).
    */
  def plan(mapper: DataMapper, table: TableDef,
           queue: Seq[DeletionQueueItem]): Seq[GroupMatches] = {
    import graft.catalog.Catalog.resolveIdentifier
    queue.foreach(validateQueueItem)
    val applicable = queue.filter(i =>
      i.dataMappers.isEmpty || i.dataMappers.contains(mapper.id))

    val simple = applicable.collect {
      case DeletionQueueItem(id, MatchId.Simple(v), _, _, _) => (id, v)
    }
    val composite = applicable.collect {
      case DeletionQueueItem(id, MatchId.Composite(pairs), _, _, _) =>
        (id, pairs)
    }

    val simpleGroups = if (simple.isEmpty) Nil else mapper.columns.map { c =>
      val t = resolveIdentifier(table.schema, c)
      GroupMatches(ColumnGroup(Seq(c), Seq(t)),
        simple.map { case (id, v) => (id, Seq(v)) })
    }

    val compositeGroups = composite
      .map { case (id, pairs) =>
        val cols = pairs.keys.toSeq.sorted // canonical order, gq.py:197
        val unknown = cols.filterNot(mapper.columns.contains)
        require(unknown.isEmpty,
          s"Composite match $id references non-identifier columns $unknown")
        (cols, (id, cols.map(pairs)))
      }
      .groupBy(_._1)
      .map { case (cols, rows) =>
        GroupMatches(
          ColumnGroup(cols, cols.map(resolveIdentifier(table.schema, _))),
          rows.map(_._2))
      }
      .toSeq

    (simpleGroups ++ compositeGroups).filter(_.rows.nonEmpty)
  }

  /** Enqueue-time validation (reference: queue/handlers.py:144-162):
    * a Composite match needs ≥1 column and exactly one data mapper. */
  def validateQueueItem(item: DeletionQueueItem): Unit = item.matchId match {
    case MatchId.Composite(pairs) =>
      require(pairs.nonEmpty,
        s"Composite match ${item.id} needs a value for at least one column")
      require(item.dataMappers.size == 1,
        s"Composite match ${item.id} must be associated to exactly one " +
          s"data mapper (got ${item.dataMappers.size})")
    case MatchId.Simple(_) => ()
  }

  /** Cast-validate every group's match values and render both the native
    * and the string form, using Spark's own cast engine so the rendering
    * agrees byte-for-byte with the data side (one cast engine — the
    * reference pre-stringifies in Python, generate_queries.py:93-113).
    *
    * Each value is evaluated directly through the resolved Catalyst
    * expressions a `try_cast(…)` / `cast(… AS STRING)` projection would
    * run — the same ones `ConvertToLocalRelation` evaluates on the
    * driver for a local projection — without planning a query per
    * group. A job casts once and keeps the result for both phases.
    *
    * @throws MatchIdCastingError when a value does not cast to its
    *         column's type (generate_queries.py:516-519)
    */
  def typedGroups(spark: SparkSession,
                  groups: Seq[GroupMatches]): Seq[TypedGroup] = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode}
    import org.apache.spark.sql.catalyst.util.CharVarcharUtils
    import org.apache.spark.unsafe.types.UTF8String
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    groups.map { gm =>
      val g = gm.group
      val casts = g.types.map { declared =>
        val t = CharVarcharUtils.replaceCharVarcharWithStringForCast(declared)
        (Cast(BoundReference(0, StringType, nullable = true), t, tz,
          EvalMode.TRY),
          Cast(BoundReference(0, t, nullable = true), StringType, tz),
          CatalystTypeConverters.createToScalaConverter(t))
      }
      val typed = gm.rows.map { case (id, rawVals) =>
        val cast = casts.lazyZip(rawVals).map {
          case ((toType, render, toScala), raw) =>
            val v = toType.eval(InternalRow(UTF8String.fromString(raw)))
            // the message names the queue item and the column types,
            // never the value: it lands in event-log `error` fields
            if (raw != null && v == null)
              throw new MatchIdCastingError(
                s"Match id of item $id cannot be cast to types " +
                  g.types.mkString(","))
            (toScala(v), render.eval(InternalRow(v)))
        }
        (cast.map(_._1),
          cast.map(_._2).map(v => if (v == null) null else v.toString))
      }
      TypedGroup(g, gm.rows.map(_._1), typed.map(_._1), typed.map(_._2))
    }
  }

  /** The Forget predicate for one group: NATIVE-typed for every column —
    * the reference's Forget phase compares native values, not strings
    * (generate_queries.py:102-109, main.py:97-129). It is also Find's
    * literal form ([[findFilter]]). Float caveat: native equality treats
    * -0.0 == 0.0, so a match id '-0.0' deletes 0.0 rows in any file the
    * Find phase returned — identical to the reference, where Python
    * `float('-0.0') == 0.0` is also true, while the varchar-typed Find
    * probe distinguishes '-0.0' from '0.0' on both engines. */
  def forgetPredicate(tg: TypedGroup): Column = {
    val g = tg.group
    if (g.columns.size == 1)
      nativeIn(col(g.columns.head), g.types.head,
        tg.native.map(_.head).filter(_ != null))
    else
      tg.native.map { tuple =>
        g.columns.lazyZip(g.types).lazyZip(tuple).map { (c, t, v) =>
          col(c) === typedLit(v, t)
        }.reduce(_ && _)
      }.reduceOption(_ || _).getOrElse(lit(false))
  }

  private def typedLit(v: Any, t: DataType): Column = lit(v).cast(t.sql)

  private def nativeIn(c: Column, t: DataType, vals: Seq[Any]): Column =
    if (vals.isEmpty) lit(false)
    else c.cast(t.sql).isin(vals: _*) // cast is a no-op when types align

  /** AND of partition-literal predicates — the Spark form of the
    * reference's per-partition query fan-out (execute_query.py:97-103:
    * `AND pk = value` appended per partition key; here one `pk IN (...)`
    * per scoped key). Applied BEFORE the match predicate so Catalyst's
    * PartitioningAwareFileIndex prunes whole partition directories from
    * the scan — the `PartitionFilters` entry in the physical plan. */
  def partitionPredicate(filter: Map[String, Seq[String]]): Option[Column] =
    filter.toSeq.sortBy(_._1).map { case (k, vs) =>
      col(k).isin(vs: _*)
    }.reduceOption(_ && _)

  /** Scope a table DataFrame to a mapper's partition filter. */
  def scoped(data: DataFrame, mapper: DataMapper): DataFrame =
    partitionPredicate(mapper.partitionFilter)
      .map(data.filter).getOrElse(data)

  /** The Find filter over one mapper's cast groups on a table stored as
    * `format`: the OR of one predicate per group, in one of two forms
    * (class doc). A group keeps its native literal predicate — the very
    * one Forget deletes by, [[forgetPredicate]] — when the scan can
    * prune with it: the table is parquet, the mapper has at most
    * [[InSetMaxKeys]] keys and the group is [[nativeComparable]]. Every
    * other group goes through ONE [[keyProbe]]. Null identifiers never
    * match. */
  def findFilter(spark: SparkSession, typed: Seq[TypedGroup],
                 format: DataFormat): Column = {
    val literal = format == DataFormat.Parquet &&
      typed.map(_.native.size.toLong).sum <= InSetMaxKeys
    val (literals, probed) =
      typed.partition(tg => literal && nativeComparable(tg))
    (literals.map(forgetPredicate) ++
      Option.when(probed.nonEmpty)(keyProbe(spark, probed)))
      .reduceOption(_ || _).getOrElse(lit(false))
  }

  /** Whether a group's native compare is the reference's varchar
    * compare in a form small enough to evaluate as literals: no
    * float/double column (NaN and -0.0 render apart but compare
    * otherwise), and one column or at most [[CompositeOrMaxTuples]]
    * tuples. */
  private def nativeComparable(tg: TypedGroup): Boolean =
    !tg.group.types.exists(t => t == FloatType || t == DoubleType) &&
      (tg.group.columns.size == 1 || tg.native.size <= CompositeOrMaxTuples)

  /** The groups' string keys in ONE broadcast, probed by each row's
    * [[dataKey]] inside the scan's tasks: the reference's semi-join
    * against the manifest (execute_query.py:90-122) without a join
    * operator. A row passes when some group's key is in that group's
    * set (a null key never is), so the filter keeps duplicate source
    * rows and plans no shuffle; no scan can push it down. */
  def keyProbe(spark: SparkSession, typed: Seq[TypedGroup]): Column = {
    val keySets = spark.sparkContext.broadcast(
      typed.map(_.stringKeys.filter(_ != null).toSet).toVector)
    typed.indices.map { i =>
      udf((k: String) => k != null && keySets.value(i).contains(k))
        .apply(dataKey(typed(i).group))
    }.reduce(_ || _)
  }

  /** Matched ROWS: `data` under [[findFilter]]'s parquet form, ONE
    * map-only scan. A filter never repeats a row, and genuinely
    * duplicate source rows are all kept (Athena's `WHERE a OR b` keeps
    * them). */
  def matchedRows(spark: SparkSession, data: DataFrame,
                  groups: Seq[GroupMatches]): DataFrame = {
    require(groups.nonEmpty, "no match groups — nothing to find")
    data.filter(
      findFilter(spark, typedGroups(spark, groups), DataFormat.Parquet))
  }

  /** [[findFiles]] over groups cast here. */
  def matchedFiles(spark: SparkSession, data: DataFrame,
                   groups: Seq[GroupMatches],
                   format: DataFormat): Dataset[String] =
    findFiles(spark, data, typedGroups(spark, groups), format)

  /** The Find query for one mapper: the paths of the objects holding ≥1
    * matching row. ONE map-only Spark job: a pruned-projection scan
    * (identifier columns only), [[findFilter]] and [[objectPaths]] — the
    * Spark form of the reference's UNION ALL of per-group subqueries
    * (execute_query.py:105-137), minus the per-group rescans. A path may
    * repeat across scan partitions (class doc): collect, then
    * `.distinct` on the driver.
    *
    * @param data   the mapper's table as a DataFrame (already
    *               partition-filtered if the mapper scopes partitions)
    * @param typed  the mapper's groups, cast by [[typedGroups]]
    * @param format the table's storage format; only parquet keeps
    *               literal predicates (class doc)
    * @param skipped objects of `data`'s listing that [[KeyIndex.prune]]
    *               found holding no queued key: one `_metadata.file_path`
    *               predicate ([[KeyIndex.leaveOut]]) keeps the scan from
    *               opening them */
  def findFiles(spark: SparkSession, data: DataFrame,
                typed: Seq[TypedGroup], format: DataFormat,
                skipped: Seq[org.apache.hadoop.fs.FileStatus] = Nil)
      : Dataset[String] = {
    require(typed.nonEmpty, "no match groups — nothing to find")
    val pruned =
      if (skipped.isEmpty) data else data.filter(KeyIndex.leaveOut(data, skipped))
    objectPaths(pruned, findFilter(spark, typed, format))
  }

  /** Paths of the objects holding a row of `data` that satisfies `pred`,
    * as a map-only plan: each task emits a path the first time it reads
    * it. A path repeats once per further scan partition that read part
    * of its object, so callers collect and `.distinct` on the driver. */
  def objectPaths(data: DataFrame, pred: Column): Dataset[String] =
    data.filter(pred).select(input_file_name()).as(Encoders.STRING)
      .mapPartitions { paths =>
        val seen = scala.collection.mutable.HashSet.empty[String]
        paths.filter(seen.add)
      }(Encoders.STRING)

  /** Surviving rows of `fileDf` after removing every row matching any
    * group — the Forget anti-filter (parquet_handler.py:133-152). A row
    * whose identifier is null never matches and therefore SURVIVES
    * (reference null tolerance, json_handler.py:26-38), hence the
    * `coalesce(…, false)` before negation. Single scan, no join. */
  def survivors(spark: SparkSession, fileDf: DataFrame,
                groups: Seq[GroupMatches]): DataFrame = {
    val pred = typedGroups(spark, groups).map(forgetPredicate)
      .reduceOption(_ || _).getOrElse(lit(false))
    fileDf.filter(!coalesce(pred, lit(false)))
  }

  /** Build the manifest DataFrame for one cast-validated column group:
    * `(item_id, columns_key, match_key)` with `match_key` the group's
    * Spark-rendered string key ([[typedGroups]]), so it agrees
    * byte-for-byte with the data-side key. */
  def manifest(spark: SparkSession, tg: TypedGroup): DataFrame = {
    import spark.implicits._
    tg.stringKeys.zip(tg.ids)
      .map { case (k, id) => (id, tg.group.key, k) }
      .toDF("item_id", "columns_key", "match_key")
  }

  /** S12 — manifest audit sink: persist every group's manifest rows,
    * partitioned `(job_id, data_mapper_id)` exactly like the reference's
    * manifests Glue table (generate_queries.py:223-225,288-326;
    * templates/manifests.yaml:60-88). The Find filter reads the keys in
    * memory; this copy is the audit trail. */
  def writeManifestAudit(spark: SparkSession, jobId: String,
                         mapperId: String, typed: Seq[TypedGroup],
                         auditDir: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val dfs = typed.map(manifest(spark, _))
    if (dfs.nonEmpty)
      dfs.reduce(_ union _)
        .withColumn("job_id", lit(jobId))
        .withColumn("data_mapper_id", lit(mapperId))
        .write.mode(SaveMode.Append)
        .partitionBy("job_id", "data_mapper_id")
        .parquet(auditDir)
  }

  /** Data-side string key for a group, the one [[keyProbe]] looks up
    * (execute_query.py:90-122 semantics). */
  def dataKey(g: ColumnGroup): Column = {
    val parts = g.columns.map(c => col(c).cast(StringType))
    if (parts.size == 1) parts.head
    else concat(interleave(parts, lit(CompositeToken)): _*)
  }

  private def interleave(parts: Seq[Column], sep: Column): Seq[Column] =
    parts.flatMap(p => Seq(p, sep)).dropRight(1)
}
