package graft.find

import graft.SparkSpec
import graft.catalog.TableDef
import graft.model._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Planner + Find semantics, porting the reference's edge inventory from
  * tests/unit/tasks/test_generate_queries.py (casting, composite
  * canonicalization, mapper scoping) and the Find-side behaviors of
  * tests/unit/ecs_tasks/test_parquet.py (decimals, nesting, case).
  */
class FinderSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, "alice", 10, BigDecimal("12.34").bigDecimal),
    (2L, "bob", 20, BigDecimal("56.70").bigDecimal),
    (3L, "carol", 10, BigDecimal("99.99").bigDecimal),
    (4L, "dave", 30, BigDecimal("12.34").bigDecimal))
    .toDF("id", "name", "grp", "bal")
    .withColumn("bal", col("bal").cast("decimal(12,2)"))

  private def tableOf(d: org.apache.spark.sql.DataFrame) =
    TableDef("t", "", DataFormat.Parquet, d.schema)

  // ---- planning -----------------------------------------------------

  test("simple match fans out to every identifier column of the mapper") {
    val mapper = DataMapper("m", "t", Seq("id", "name"))
    val groups = Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a", MatchId.Simple("1"))))
    assert(groups.map(_.group.columns) == Seq(Seq("id"), Seq("name")))
  }

  test("composite columns are canonicalized to sorted order") {
    val mapper = DataMapper("m", "t", Seq("grp", "name", "id"))
    val groups = Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a",
        MatchId.Composite(Map("name" -> "alice", "grp" -> "10", "id" -> "1")),
        dataMappers = Seq("m"))))
    assert(groups.map(_.group.columns) == Seq(Seq("grp", "id", "name")))
    assert(groups.head.rows == Seq(("a", Seq("10", "1", "alice"))))
  }

  test("composite match must be scoped to exactly one mapper") {
    val item0 = DeletionQueueItem("a", MatchId.Composite(Map("id" -> "1")))
    val item2 = item0.copy(dataMappers = Seq("m1", "m2"))
    intercept[IllegalArgumentException](Finder.validateQueueItem(item0))
    intercept[IllegalArgumentException](Finder.validateQueueItem(item2))
  }

  test("composite match needs at least one column") {
    intercept[IllegalArgumentException](Finder.validateQueueItem(
      DeletionQueueItem("a", MatchId.Composite(Map.empty),
        dataMappers = Seq("m"))))
  }

  test("composite referencing a non-identifier column fails planning") {
    val mapper = DataMapper("m", "t", Seq("id"))
    intercept[IllegalArgumentException](Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a", MatchId.Composite(Map("name" -> "x")),
        dataMappers = Seq("m")))))
  }

  test("queue items are scoped to their data mappers") {
    val mapper = DataMapper("m1", "t", Seq("id"))
    val groups = Finder.plan(mapper, tableOf(df), Seq(
      DeletionQueueItem("a", MatchId.Simple("1"), dataMappers = Seq("m1")),
      DeletionQueueItem("b", MatchId.Simple("2"), dataMappers = Seq("OTHER")),
      DeletionQueueItem("c", MatchId.Simple("3")))) // empty = all mappers
    assert(groups.map(_.rows.map(_._1)) == Seq(Seq("a", "c")))
  }

  test("empty applicable queue yields no groups") {
    val mapper = DataMapper("m1", "t", Seq("id"))
    assert(Finder.plan(mapper, tableOf(df), Seq(
      DeletionQueueItem("b", MatchId.Simple("2"),
        dataMappers = Seq("OTHER")))).isEmpty)
  }

  // ---- casting contract (generate_queries.py:495-519) ---------------

  test("uncastable match id on an int column raises MatchIdCastingError") {
    val mapper = DataMapper("m", "t", Seq("id"))
    val groups = Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a", MatchId.Simple("not-a-number"))))
    intercept[MatchIdCastingError](Finder.matchedRows(spark, df, groups))
  }

  /** The Dataset route `typedGroups` took before it evaluated the cast
    * expressions directly: one `try_cast` + string-cast projection per
    * group over a local relation, collected. Kept as the oracle. */
  private def typedViaDataset(groups: Seq[Finder.GroupMatches])
      : Seq[(Seq[Seq[Any]], Seq[String])] = groups.map { gm =>
    val g = gm.group
    val native = g.types.zipWithIndex.map { case (t, i) =>
      element_at($"vals", i + 1).try_cast(t.sql).as(s"_n$i")
    }
    val strings = g.types.indices.map(i => col(s"_n$i").cast(StringType))
    val key =
      if (strings.size == 1) strings.head
      else concat(strings.flatMap(c => Seq(c, lit(Finder.CompositeToken)))
        .dropRight(1): _*)
    val rows = gm.rows.toDF("item_id", "vals")
      .select((col("item_id") +: col("vals") +: native): _*)
      .withColumn("_key", key).collect()
    rows.foreach { r =>
      val raw = r.getSeq[String](1)
      g.types.indices.foreach { i =>
        if (raw(i) != null && r.isNullAt(2 + i))
          throw new MatchIdCastingError(s"${raw(i)} -> ${g.types(i)}")
      }
    }
    (rows.toSeq.map(r => g.types.indices.map(i => r.get(2 + i))),
      rows.toSeq.map(_.getAs[String]("_key")))
  }

  /** NaN == NaN, so two cast results compare as values. */
  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: Float, y: Float) => java.lang.Float.compare(x, y) == 0
    case _ => a == b
  }

  test("typedGroups' direct cast evaluation equals the Dataset route, " +
    "value for value, and fails on the same inputs") {
    val types = Seq[DataType](ByteType, ShortType, IntegerType, LongType,
      FloatType, DoubleType, DecimalType(5, 2), DecimalType(20, 0),
      DecimalType(38, 10), StringType)
    val inputs = Seq("12", " 12 ", "\t-7\n", "+3", "1e3", "1.5E2", "-0",
      "0.005", "0.004", "999.995", "1000", "-999.99", "127", "128",
      "-129", "32768", "2147483648", "9223372036854775807",
      "9223372036854775808", "18446744073709551615", "1e40", "inf",
      "-Infinity", "NaN", "nan", "-0.0", "3.4028236e38", "1.5", "1.",
      ".5", "0x1F", "", "  ", "12abc", "caf\u00e9")
    var compared = 0
    var failures = 0
    for (t <- types; v <- inputs) {
      val gm = Finder.GroupMatches(Finder.ColumnGroup(Seq("c"), Seq(t)),
        Seq(("q", Seq(v))))
      val direct = scala.util.Try(Finder.typedGroups(spark, Seq(gm)).head)
      val oracle = scala.util.Try(typedViaDataset(Seq(gm)).head)
      (direct.toOption, oracle.toOption) match {
        case (Some(d), Some((n, k))) =>
          assert(d.native.size == 1 && n.size == 1)
          assert(sameValue(d.native.head.head, n.head.head),
            s"$t '$v': ${d.native.head.head} vs ${n.head.head}")
          assert(d.stringKeys == k, s"$t '$v'")
          compared += 1
        case (None, None) =>
          assert(direct.failed.get.isInstanceOf[MatchIdCastingError], s"$t '$v'")
          assert(oracle.failed.get.isInstanceOf[MatchIdCastingError], s"$t '$v'")
          failures += 1
        case _ => fail(s"$t '$v': direct $direct, Dataset route $oracle")
      }
    }
    assert(compared > 100 && failures > 50, s"$compared / $failures")
    // composites: the token-joined key, a null component, the item ids
    val comp = Finder.GroupMatches(
      Finder.ColumnGroup(Seq("a", "b"), Seq(LongType, DecimalType(12, 2))),
      Seq(("x", Seq(" 1 ", "2.345")), ("y", Seq("2", null))))
    val d = Finder.typedGroups(spark, Seq(comp)).head
    val (n, k) = typedViaDataset(Seq(comp)).head
    assert(d.native == n && d.stringKeys == k && d.ids == Seq("x", "y"))
    assert(k == Seq("1" + Finder.CompositeToken + "2.35", null))
  }

  test("uncastable composite component raises MatchIdCastingError") {
    val mapper = DataMapper("m", "t", Seq("id", "name"))
    val groups = Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a",
        MatchId.Composite(Map("id" -> "x", "name" -> "alice")),
        dataMappers = Seq("m"))))
    intercept[MatchIdCastingError](Finder.matchedRows(spark, df, groups))
  }

  test("decimal match ids coerce to the column scale ('12.340' == 12.34)") {
    val mapper = DataMapper("m", "t", Seq("bal"))
    val groups = Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a", MatchId.Simple("12.340"))))
    val got = Finder.matchedRows(spark, df, groups)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 4L))
  }

  // ---- find semantics ----------------------------------------------

  test("simple find matches value across all identifier columns") {
    val mapper = DataMapper("m", "t", Seq("id", "grp"))
    val groups = Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a", MatchId.Simple("10"))))
    // grp==10 rows (1,3); no id==10 row
    val got = Finder.matchedRows(spark, df, groups)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("composite find is a conjunction over its columns") {
    val mapper = DataMapper("m", "t", Seq("grp", "name"))
    val groups = Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a",
        MatchId.Composite(Map("grp" -> "10", "name" -> "alice")),
        dataMappers = Seq("m"))))
    val got = Finder.matchedRows(spark, df, groups)
      .select("id").as[Long].collect()
    assert(got.toSeq == Seq(1L))
  }

  test("duplicate source rows are preserved by matchedRows") {
    val mapper = DataMapper("m", "t", Seq("id"))
    val groups = Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a", MatchId.Simple("1"))))
    assert(Finder.matchedRows(spark, df.union(df), groups).count() == 2)
  }

  test("null identifiers never match and survive the anti-filter") {
    val d = Seq((Some(1L), "a"), (None, "b"), (Some(2L), "c"))
      .toDF("id", "name")
    val mapper = DataMapper("m", "t", Seq("id"))
    val groups = Finder.plan(mapper, TableDef("t", "", DataFormat.Parquet,
      d.schema), Seq(DeletionQueueItem("a", MatchId.Simple("1"))))
    assert(Finder.matchedRows(spark, d, groups)
      .select("name").as[String].collect().toSeq == Seq("a"))
    assert(Finder.survivors(spark, d, groups)
      .select("name").as[String].collect().sorted.toSeq == Seq("b", "c"))
  }

  test("nested struct identifiers resolve by dot path, case-insensitive") {
    val d = spark.read.json(Seq(
      """{"id":1,"user":{"Info":{"Email":"x@y.z"}}}""",
      """{"id":2,"user":{"Info":{"Email":"a@b.c"}}}""").toDS)
    val mapper = DataMapper("m", "t", Seq("user.info.email"))
    val groups = Finder.plan(mapper,
      TableDef("t", "", DataFormat.Parquet, d.schema),
      Seq(DeletionQueueItem("a", MatchId.Simple("x@y.z"))))
    assert(Finder.matchedRows(spark, d, groups)
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("float NaN match id matches NaN rows (varchar contract)") {
    val d = Seq((1L, 1.5f), (2L, Float.NaN), (3L, 2.5f)).toDF("id", "f")
    val mapper = DataMapper("m", "t", Seq("f"))
    val groups = Finder.plan(mapper,
      TableDef("t", "", DataFormat.Parquet, d.schema),
      Seq(DeletionQueueItem("a", MatchId.Simple("NaN"))))
    assert(Finder.matchedRows(spark, d, groups)
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  // ---- semi-join fallback strategy ---------------------------------

  test("semi-join fallback returns the same rows as the predicate plan") {
    val mapper = DataMapper("m", "t", Seq("id", "name"))
    // Simple values must cast to EVERY fanned-out column type
    // (generate_queries.py:495-513), so both are numeric here
    val queue = Seq(
      DeletionQueueItem("a", MatchId.Simple("1")),
      DeletionQueueItem("b", MatchId.Simple("2")),
      DeletionQueueItem("c", MatchId.Composite(
        Map("id" -> "3", "name" -> "carol")), dataMappers = Seq("m")))
    val groups = Finder.plan(mapper, tableOf(df), queue)
    val viaPred = Finder.matchedRows(spark, df, groups)
      .select("id").as[Long].collect().sorted.toSeq
    val viaJoin = Finder.matchedRowsViaJoin(spark, df, groups)
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaPred == viaJoin && viaJoin == Seq(1L, 2L, 3L))
  }

  test("semi-join fallback preserves duplicate source rows") {
    val mapper = DataMapper("m", "t", Seq("id"))
    val groups = Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a", MatchId.Simple("1"))))
    assert(Finder.matchedRowsViaJoin(spark, df.union(df), groups).count() == 2)
  }

  test("semi-join fallback plans ONE scan for k column groups") {
    val file = stageParquetFile(df)
    val data = spark.read.parquet(file)
    val mapper = DataMapper("m", "t", Seq("id", "name", "grp"))
    val groups = Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a", MatchId.Simple("1"))))
    assert(groups.size == 3)
    val plan = Finder.matchedFilesViaJoin(spark, data, groups)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 scan, got $scans in:\n$plan")
  }

  test("above InSetMaxKeys matchedRows switches to the join strategy") {
    val mapper = DataMapper("m", "t", Seq("id"))
    val queue = (0 to Finder.InSetMaxKeys).map(i =>
      DeletionQueueItem(s"q$i", MatchId.Simple(i.toString)))
    val groups = Finder.plan(mapper, tableOf(df), queue)
    val out = Finder.matchedRows(spark, df, groups)
    // all four ids are covered by the 100k+ match set
    assert(out.count() == 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), s"no broadcast join in:\n$plan")
  }

  test("composite tuples beyond CompositeOrMaxTuples use the token key") {
    val mapper = DataMapper("m", "t", Seq("grp", "name"))
    val queue = (0 until Finder.CompositeOrMaxTuples + 10).map(i =>
      DeletionQueueItem(s"q$i", MatchId.Composite(
        Map("grp" -> "10", "name" -> (if (i == 0) "alice" else s"z$i"))),
        dataMappers = Seq("m")))
    val groups = Finder.plan(mapper, tableOf(df), queue)
    val got = Finder.matchedRows(spark, df, groups)
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }
}
