package graft.find

import graft.catalog.TableDef
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Find-phase planner: turns (mapper, deletion queue) into the Find plan —
  * the rows / DISTINCT file paths containing at least one match — and the
  * Forget-phase anti-predicate over the same match groups.
  *
  * Re-expresses the reference's generated Athena SQL (SURVEY.md §2.3;
  * reference: backend/lambdas/tasks/generate_queries.py and
  * execute_query.py:30-137) as a Catalyst plan. Two strategies:
  *
  *   1. '''Predicate strategy (default).''' The deletion queue is small
  *      (thousands of matches — it is broadcast in the reference too), so
  *      each column group becomes an `InSet` predicate over the group's
  *      columns and the whole Find is ONE scan with the OR of all group
  *      predicates:
  *      {{{ data.filter(g1 || g2 || …) }}}
  *      This keeps genuinely duplicate source rows (an Athena `WHERE a OR b`
  *      keeps them), needs no shuffle at all for matchedRows, and — because
  *      the predicates are native-typed wherever the string-cast contract
  *      allows it — pushes down to the parquet row-group stats. At 100 TB
  *      this is the plan you want: a single pruned-projection scan whose
  *      bytes are bounded by the identifier columns (BASELINE.md's 1.3-7%
  *      column-scan ratio).
  *
  *   2. '''Semi-join strategy (huge queues).''' Above [[Finder.InSetMaxKeys]]
  *      match keys per group the literal set stops being sensible and we
  *      fall back to the reference's own shape: a broadcast left-semi join
  *      per column group against the stringified manifest
  *      (execute_query.py:90-122), unioned, DISTINCT over paths only.
  *
  * Casting contract (generate_queries.py:495-519, execute_query.py:90):
  * match values are cast to the column's type by Spark itself at plan time
  * ([[Finder.typedGroups]]); a value that does not cast raises
  * [[graft.model.MatchIdCastingError]] before anything runs. The data-side
  * comparison is native-typed for int/string/decimal columns — provably
  * equivalent to the reference's varchar-equality because the string
  * rendering of those types is injective — and string-rendered for
  * float/double (where NaN/-0.0 make native equality diverge from the
  * reference's varchar contract).
  */
object Finder {

  /** Sentinel joining composite key parts; same role as the reference's
    * `_S3F2COMP_` token (generate_queries.py:27). */
  val CompositeToken = "_GRAFTCOMP_"

  /** Output column holding the source file path. */
  val PathCol = "_file_path"

  /** Above this many match keys in a group, the predicate strategy yields
    * to the broadcast semi-join strategy.
    *
    * Evidence, not folklore (`runMain graft.tools.Soak find-strategy`, sf0.1
    * lineitem ~600k rows, local[32], median-of-3, both strategies
    * returning identical row counts): predicate wins small queues
    * (1k keys: 0.30 s vs 0.64 s — the semi-join pays a fixed broadcast
    * + join-plan overhead), the curves cross at ≈20k keys (25k: 1.04
    * vs 0.91), and the semi-join wins widening from there (100k: 3.09
    * vs 1.76; 200k: 6.37 vs 2.84 — ≈2× and growing, the per-row
    * literal-set evaluation loses to the broadcast hash join). The
    * asymmetry is structural, so it survives scale-up: parquet only
    * pushes an `In` down as OR-of-eq below
    * `spark.sql.parquet.pushdown.inFilterThreshold` (≈10 values),
    * beyond which the scan-side filter degrades to the keys' min/max
    * RANGE — a scattered 100k-key queue prunes nothing, erasing the
    * predicate strategy's one advantage while its evaluation cost
    * keeps climbing. 32768 sits above the measured crossover (small
    * inversion there is within noise) and caps the wrong-side penalty
    * at ~1.2×; re-derive on new hardware by running the bench. */
  val InSetMaxKeys = 32768

  /** Composite groups with at most this many tuples use an OR-of-ANDs
    * native predicate (row-group-stats friendly); larger ones use a single
    * token-joined string `InSet`. The cap is a CODEGEN guard more than a
    * perf tunable: each tuple contributes an `(a = x AND b = y)` branch
    * to one giant disjunction, and past a few hundred branches the
    * generated evaluator risks the JVM's 64KB method limit /
    * whole-stage-codegen fallback to interpreted mode — whereas the
    * token-joined `InSet` stays O(1) per row regardless of tuple count.
    * 256 keeps the OR form (and its row-group-stat pruning) for every
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
    * column's type applied; `stringKeys` is the token-joined string form
    * (the reference's manifest `queryablematchid`); `ids(i)` is tuple
    * i's queue item id. */
  final case class TypedGroup(group: ColumnGroup, ids: Seq[String],
                              native: Seq[Seq[Any]], stringKeys: Seq[String])

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
            if (raw != null && v == null)
              throw new MatchIdCastingError(
                s"Match id ${rawVals.mkString(",")} (item $id) " +
                  s"cannot be cast to types ${g.types.mkString(",")}")
            (toScala(v), render.eval(InternalRow(v)))
        }
        val parts = cast.map(_._2)
        (cast.map(_._1),
          if (parts.contains(null)) null else parts.mkString(CompositeToken))
      }
      TypedGroup(g, gm.rows.map(_._1), typed.map(_._1), typed.map(_._2))
    }
  }

  /** The Find predicate for one cast-validated group — see class doc for
    * the native-vs-string contract. */
  def findPredicate(tg: TypedGroup): Column = {
    val g = tg.group
    if (g.columns.size == 1) {
      val c = col(g.columns.head)
      g.types.head match {
        case FloatType | DoubleType =>
          // string-rendered: mirrors the reference varchar equality (NaN
          // matches 'NaN'; native == would not)
          stringIn(c.cast(StringType), tg.stringKeys.filter(_ != null))
        case t =>
          nativeIn(c, t, tg.native.map(_.head).filter(_ != null))
      }
    } else if (tg.native.size <= CompositeOrMaxTuples &&
               !g.types.exists(t => t == FloatType || t == DoubleType)) {
      // OR of per-tuple conjunctions, native-typed (pushdown-friendly)
      tg.native.map { tuple =>
        g.columns.lazyZip(g.types).lazyZip(tuple).map { (c, t, v) =>
          col(c) === typedLit(v, t)
        }.reduce(_ && _)
      }.reduceOption(_ || _).getOrElse(lit(false))
    } else {
      // token-joined string key InSet (the reference's own join key shape,
      // execute_query.py:91)
      stringIn(dataKey(g), tg.stringKeys.filter(_ != null))
    }
  }

  /** The Forget predicate for one group: NATIVE-typed for every column —
    * the reference's Forget phase compares native values, not strings
    * (generate_queries.py:102-109, main.py:97-129). Float caveat: native
    * equality treats -0.0 == 0.0, so a match id '-0.0' deletes 0.0 rows in
    * any file the Find phase returned — identical to the reference, where
    * Python `float('-0.0') == 0.0` is also true, while the varchar-typed
    * Find join distinguishes '-0.0' from '0.0' on both engines. */
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

  private def stringIn(key: Column, keys: Seq[String]): Column =
    if (keys.isEmpty) lit(false) else key.isin(keys: _*)

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

  /** OR of all groups' Find predicates (null ⇒ no match, like the
    * reference's SQL equality). */
  def matchPredicate(spark: SparkSession, groups: Seq[GroupMatches]): Column =
    anyFind(typedGroups(spark, groups))

  private def anyFind(typed: Seq[TypedGroup]): Column =
    typed.map(findPredicate).reduceOption(_ || _).getOrElse(lit(false))

  /** Matched ROWS — ONE scan, OR of group predicates; genuinely duplicate
    * source rows are preserved (Athena's `WHERE a OR b` keeps them). Falls
    * back to the semi-join strategy above [[InSetMaxKeys]]. */
  def matchedRows(spark: SparkSession, data: DataFrame,
                  groups: Seq[GroupMatches]): DataFrame = {
    require(groups.nonEmpty, "no match groups — nothing to find")
    val typed = typedGroups(spark, groups)
    if (totalKeys(typed) > InSetMaxKeys) rowsViaJoin(spark, data, typed)
    else data.filter(anyFind(typed))
  }

  /** [[findFiles]] over groups cast here. */
  def matchedFiles(spark: SparkSession, data: DataFrame,
                   groups: Seq[GroupMatches]): DataFrame =
    findFiles(spark, data, typedGroups(spark, groups))

  /** The Find query for one mapper: DISTINCT file paths containing ≥1
    * matching row. ONE pruned-projection scan (identifier columns only) +
    * a distinct over the surviving paths — the Spark form of the
    * reference's UNION ALL of per-group subqueries
    * (execute_query.py:105-137), minus the per-group rescans.
    *
    * @param data  the mapper's table as a DataFrame (already
    *              partition-filtered if the mapper scopes partitions)
    * @param typed the mapper's groups, cast by [[typedGroups]] */
  def findFiles(spark: SparkSession, data: DataFrame,
                typed: Seq[TypedGroup]): DataFrame = {
    require(typed.nonEmpty, "no match groups — nothing to find")
    if (totalKeys(typed) > InSetMaxKeys) filesViaJoin(spark, data, typed)
    else
      data.filter(anyFind(typed))
        .select(input_file_name().as(PathCol))
        .distinct()
  }

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

  private def totalKeys(typed: Seq[TypedGroup]): Long =
    typed.map(_.native.size.toLong).sum

  // --------------------------------------------------------------------
  // Semi-join strategy — the reference's own plan shape, used when the
  // match set is too large for literal predicates. Kept broadcast: the
  // manifest is still tiny relative to the data (millions of matches ≪
  // 100 TB probe side).
  // --------------------------------------------------------------------

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
    * templates/manifests.yaml:60-88). Broadcast joins read the in-memory
    * manifest; this copy is the audit trail. */
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

  /** Data-side join key for a group over `df`'s columns
    * (execute_query.py:90-122 semantics). */
  def dataKey(g: ColumnGroup): Column = {
    val parts = g.columns.map(c => col(c).cast(StringType))
    if (parts.size == 1) parts.head
    else concat(interleave(parts, lit(CompositeToken)): _*)
  }

  private def interleave(parts: Seq[Column], sep: Column): Seq[Column] =
    parts.flatMap(p => Seq(p, sep)).dropRight(1)

  /** Union of every group's manifest, keyed `(columns_key, match_key)`,
    * with null match keys dropped (a null key never equals anything). */
  private def manifestUnion(spark: SparkSession,
                            typed: Seq[TypedGroup]): DataFrame = {
    import spark.implicits._
    typed.map(manifest(spark, _)).reduce(_ union _)
      .select($"columns_key", $"match_key")
      .filter($"match_key".isNotNull)
      .distinct()
  }

  /** One `(columns_key, match_key)` struct per column group, computed from
    * the row's own columns — exploding this array turns the k-way
    * per-group join into ONE broadcast hash equi-join over a single scan
    * (a per-group union would rescan the table once per group). */
  private def groupKeyStructs(typed: Seq[TypedGroup]): Column =
    array(typed.map(tg => struct(
      lit(tg.group.key).as("ck"), dataKey(tg.group).as("mk"))): _*)

  /** Semi-join form of [[matchedFiles]]: one scan (identifier columns +
    * path only), per-group keys exploded, single broadcast left-semi join
    * on `(columns_key, match_key)`, DISTINCT over paths only. */
  def matchedFilesViaJoin(spark: SparkSession, data: DataFrame,
                          groups: Seq[GroupMatches]): DataFrame =
    filesViaJoin(spark, data, typedGroups(spark, groups))

  private def filesViaJoin(spark: SparkSession, data: DataFrame,
                           typed: Seq[TypedGroup]): DataFrame = {
    import spark.implicits._
    data
      .select(input_file_name().as(PathCol),
        explode(groupKeyStructs(typed)).as("_k"))
      .join(broadcast(manifestUnion(spark, typed)),
        $"_k.ck" === $"columns_key" && $"_k.mk" === $"match_key",
        "left_semi")
      .select(col(PathCol))
      .distinct()
  }

  /** Semi-join form of [[matchedRows]]: duplicate-safe via a stable
    * per-row id — the post-join dedup runs on the row id, never on the
    * full row, so genuinely duplicate source rows survive. Single scan,
    * single broadcast hash join; the only shuffle is the dedup over the
    * (small) matched output. */
  def matchedRowsViaJoin(spark: SparkSession, data: DataFrame,
                         groups: Seq[GroupMatches]): DataFrame =
    rowsViaJoin(spark, data, typedGroups(spark, groups))

  private def rowsViaJoin(spark: SparkSession, data: DataFrame,
                          typed: Seq[TypedGroup]): DataFrame = {
    import spark.implicits._
    data
      .withColumn("_rid", monotonically_increasing_id())
      .withColumn("_k", explode(groupKeyStructs(typed)))
      .join(broadcast(manifestUnion(spark, typed)),
        $"_k.ck" === $"columns_key" && $"_k.mk" === $"match_key",
        "left_semi")
      .dropDuplicates("_rid")
      .drop("_rid", "_k")
  }
}
