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

  // ---- semi-join fallback: the broadcast key probe -------------------

  /** `n` queue items on one Simple value each: `present` first, then
    * absent numeric ids until there are `n`. */
  private def queueOf(n: Int, present: String*): Seq[DeletionQueueItem] =
    (present ++ (present.size until n).map(i => (1000000 + i).toString))
      .zipWithIndex.map { case (v, i) =>
        DeletionQueueItem(s"q$i", MatchId.Simple(v)) }

  test("semi-join fallback returns the same rows as the predicate plan") {
    val mapper = DataMapper("m", "t", Seq("id", "name"))
    // Simple values must cast to EVERY fanned-out column type
    // (generate_queries.py:495-513), so both are numeric here
    val queue = Seq(
      DeletionQueueItem("a", MatchId.Simple("1")),
      DeletionQueueItem("b", MatchId.Simple("2")),
      DeletionQueueItem("c", MatchId.Composite(
        Map("id" -> "3", "name" -> "carol")), dataMappers = Seq("m")))
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val typed = Finder.typedGroups(spark, Finder.plan(mapper, tableOf(df),
      queue))
    val data = spark.read.parquet(stageParquetFile(df))
    // one filter builder, both forms: every group is literal on parquet
    // and probed on JSON lines
    def ids(format: DataFormat) = {
      val out = data.filter(Finder.findFilter(spark, typed, format))
      val probes = out.queryExecution.optimizedPlan.collect {
        case f: Filter => f.condition.collect { case u: ScalaUDF => u }
      }.flatten
      (out.select("id").as[Long].collect().sorted.toSeq, probes.size)
    }
    assert(ids(DataFormat.Parquet) == (Seq(1L, 2L, 3L), 0))
    assert(ids(DataFormat.JsonLines) == (Seq(1L, 2L, 3L), typed.size))
  }

  test("semi-join fallback preserves duplicate source rows") {
    val mapper = DataMapper("m", "t", Seq("id"))
    val groups = Finder.plan(mapper, tableOf(df),
      queueOf(Finder.InSetMaxKeys + 1, "1"))
    assert(Finder.matchedRows(spark, df.union(df), groups).count() == 2)
  }

  test("semi-join fallback plans ONE scan for k column groups") {
    val file = stageParquetFile(df)
    val data = spark.read.parquet(file)
    val mapper = DataMapper("m", "t", Seq("id", "name", "grp"))
    val typed = Finder.typedGroups(spark, Finder.plan(mapper, tableOf(df),
      queueOf(Finder.InSetMaxKeys / 3 + 1, "1")))
    assert(typed.size == 3 &&
      typed.map(_.native.size).sum > Finder.InSetMaxKeys)
    val q = Finder.findFiles(spark, data, typed, DataFormat.Parquet)
    assert(q.collect().map(fileName).toSeq == Seq(fileName(file)))
    val plan = q.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 scan, got $scans in:\n$plan")
  }

  test("above InSetMaxKeys matchedRows probes the keys in one map-only " +
    "scan") {
    val data = spark.read.parquet(stageParquetFile(df))
    val mapper = DataMapper("m", "t", Seq("id"))
    val queue = (0 to Finder.InSetMaxKeys).map(i =>
      DeletionQueueItem(s"q$i", MatchId.Simple(i.toString)))
    val out = Finder.matchedRows(spark, data, Finder.plan(mapper,
      tableOf(df), queue))
    // all four ids are covered by the 32k+ match set
    val plan = executedPlanOf(assert(out.collect().length == 4))
    val ops = shuffleOps(plan) ++ plan.collectWithSubqueries {
      case p: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        p.nodeName
    }
    assert(ops.isEmpty, s"matchedRows plans $ops in:\n$plan")
    assert("Scan parquet".r.findAllIn(plan.toString).size == 1, plan)
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

  // ---- map-only files query ----------------------------------------

  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Operators a map-only files query must not plan, in `plan` or any
    * of its subqueries. */
  private def shuffleOps(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    plan.collectWithSubqueries {
      case p @ (_: ShuffleExchangeExec | _: HashAggregateExec |
                _: AdaptiveSparkPlanExec) => p.nodeName
    }
  }

  /** Executed plan of the next successful action `body` runs. */
  private def executedPlanOf(body: => Unit)
      : org.apache.spark.sql.execution.SparkPlan = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val qe = seen.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(qe != null, "no query ran")
      qe.executedPlan
    } finally spark.listenerManager.unregister(listener)
  }

  test("both Find strategies and PiiForget.findObjects run map-only: no " +
    "shuffle, no hash aggregate, no adaptive re-plan") {
    val file = stageParquetFile(df)
    val data = spark.read.parquet(file)
    val mapper = DataMapper("m", "t", Seq("id", "name"))
    val small = Finder.plan(mapper, tableOf(df),
      Seq(DeletionQueueItem("a", MatchId.Simple("1"))))
    val huge = Finder.plan(mapper, tableOf(df),
      (0 to Finder.InSetMaxKeys).map(i =>
        DeletionQueueItem(s"q$i", MatchId.Simple(i.toString))))
    Seq("predicate" -> small, "probe" -> huge).foreach {
      case (strategy, groups) =>
        val typed = Finder.typedGroups(spark, groups)
        val q = Finder.findFiles(spark, data, typed, DataFormat.Parquet)
        assert(q.collect().map(fileName).distinct.toSeq ==
          Seq(fileName(file)), strategy)
        val ops = shuffleOps(q.queryExecution.executedPlan)
        assert(ops.isEmpty, s"$strategy plans $ops")
        assert("Scan parquet".r.findAllIn(
          q.queryExecution.executedPlan.toString).size == 1, strategy)
        val rowsPlan = executedPlanOf(assert(
          Finder.matchedRows(spark, data, groups).collect().nonEmpty))
        assert(shuffleOps(rowsPlan).isEmpty,
          s"$strategy matchedRows plans:\n$rowsPlan")
    }
    val text = stageParquetFile(Seq((1L, "mail a@b.com now"), (2L, "none"))
      .toDF("id", "text"))
    val piiPlan = executedPlanOf {
      assert(graft.llm.PiiForget.findObjects(spark.read.parquet(text), "text")
        .map(fileName) == Seq(fileName(text)))
    }
    assert(shuffleOps(piiPlan).isEmpty, s"findObjects plans:\n$piiPlan")
  }

  test("a JSON-lines Find with more than 10 keys pushes no In into its " +
    "scan; the same keys on parquet do") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val file = stageTextFile((1 to 40).map(i =>
      s"""{"user_id":$i,"email":"u$i@x.io","x":"v$i"}""").mkString("\n"))
    val table = TableDef("j", file, DataFormat.JsonLines,
      StructType(Seq(StructField("user_id", LongType),
        StructField("email", StringType), StructField("x", StringType))))
    def typed(columns: Seq[String], items: Seq[DeletionQueueItem]) =
      Finder.typedGroups(spark, Finder.plan(DataMapper("mj", "j", columns,
        format = DataFormat.JsonLines), table, items))
    def pushed(t: Seq[Finder.TypedGroup], format: DataFormat): String = {
      val q = Finder.findFiles(spark,
        graft.driver.JobRunner.readTable(spark, table), t, format)
      assert(q.collect().nonEmpty)
      q.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
      }.getOrElse(fail("no file scan"))
    }
    // a numeric and a string identifier: on a string column the string
    // cast is a no-op, so only the probe keeps the keys out of the scan
    Seq("user_id" -> ((i: Int) => i.toString),
        "email" -> ((i: Int) => s"u$i@x.io")).foreach { case (c, v) =>
      val t = typed(Seq(c), (1 to 20).map(i =>
        DeletionQueueItem(s"q$i", MatchId.Simple(v(i * 3)))))
      val json = pushed(t, DataFormat.JsonLines)
      assert(!json.contains("In("), s"JSON-lines scan pushes $json")
      // the check can see a pushed In: the native predicate pushes one
      assert(pushed(t, DataFormat.Parquet).contains(s"In($c"))
    }
    // a composite group: the probe pushes no key either; whether the
    // literal OR-of-ANDs form reaches the JSON parser is reported
    val composite = typed(Seq("user_id", "email"), (1 to 20).map(i =>
      DeletionQueueItem(s"c$i", MatchId.Composite(
        Map("user_id" -> (i * 3).toString, "email" -> s"u${i * 3}@x.io")),
        dataMappers = Seq("mj"))))
    assert(composite.map(_.group.columns) == Seq(Seq("email", "user_id")))
    val json = pushed(composite, DataFormat.JsonLines)
    assert(!json.contains("EqualTo(") && !json.contains("In("),
      s"JSON-lines scan pushes $json")
    info(s"composite literal form on the JSON scan pushes: " +
      pushed(composite, DataFormat.Parquet).take(120))
  }

  test("seeded JSON-lines Find: the string-key predicate matches exactly " +
    "the rows and objects of the native predicate") {
    val rnd = new scala.util.Random(11)
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonkeys-")
    val pool = Seq.fill(30)(rnd.between(-500L, 500L)) ++ Seq(12L, -7L)
    val names = Seq("ann", "Ann", " 12 ", "12", "-7", "café", "", "b\"q")
    (0 until 12).foreach { f =>
      val lines = (0 until 8).map { _ =>
        val name = names(rnd.nextInt(names.size)).replace("\"", "\\\"")
        rnd.nextInt(10) match {
          case 0 => """{"user_id":null,"x":1}"""
          case 1 => s"""{"x":2,"name":"$name"}"""
          case 2 => """{"user_id":"12","x":3,"name":null}"""
          case _ => s"""{"user_id":${pool(rnd.nextInt(pool.size))},""" +
            s""""x":4,"name":"$name"}"""
        }
      }
      java.nio.file.Files.write(dir.resolve(s"p$f.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val table = TableDef("j", dir.toString, DataFormat.JsonLines,
      StructType(Seq(StructField("user_id", LongType),
        StructField("x", IntegerType), StructField("name", StringType))))
    val data = graft.driver.JobRunner.readTable(spark, table)
    var matchedRows, narrowerRounds = 0
    val allObjects = objectsOf(data)
    // a long and a string identifier: the probe against native `isin`
    Seq[(String, () => String)](
      "user_id" -> (() =>
        if (rnd.nextBoolean()) pool(rnd.nextInt(pool.size)).toString
        else rnd.between(-1000L, 1000L).toString),
      "name" -> (() =>
        if (rnd.nextBoolean()) names(rnd.nextInt(names.size))
        else s"n${rnd.nextInt(10)}")).foreach { case (column, key) =>
      val mapper = DataMapper("mj", "j", Seq(column),
        format = DataFormat.JsonLines)
      (1 to 6).foreach { round =>
        val keys = Seq.fill(rnd.between(1, 25))(key()) ++ Seq(" 12 ", "-7")
        val typed = Finder.typedGroups(spark, Finder.plan(mapper, table,
          keys.zipWithIndex.map { case (k, i) =>
            DeletionQueueItem(s"q$i", MatchId.Simple(k)) }))
        val native = col(column).isin(
          typed.head.native.map(_.head).filter(_ != null): _*)
        val pred = Finder.findFilter(spark, typed, DataFormat.JsonLines)
        def rows(p: org.apache.spark.sql.Column) =
          data.filter(p).select("user_id", "x", "name").collect()
            .map(_.toString).sorted.toSeq
        val oracle = objectsOf(data.filter(native))
        assert(rows(pred) == rows(native), s"$column round $round: $keys")
        assert(Finder.findFiles(spark, data, typed, DataFormat.JsonLines)
          .collect().toSet == oracle, s"$column round $round: $keys")
        matchedRows += rows(native).size
        if (oracle.size < allObjects.size) narrowerRounds += 1
      }
    }
    // the rounds discriminate: rows match, and not every object does
    assert(matchedRows > 0 && narrowerRounds > 0,
      s"$matchedRows rows, $narrowerRounds narrower rounds")
  }

  private def objectsOf(d: org.apache.spark.sql.DataFrame): Set[String] =
    d.select(input_file_name()).distinct().collect().map(_.getString(0)).toSet

  test("an object read over several scan partitions comes back once " +
    "from JobRunner.run and once from PiiForget.findObjects") {
    val key = "spark.sql.files.maxPartitionBytes"
    val rows = (0 until 4000).map(i =>
      (if (i % 100 == 0) 7L else i.toLong + 100,
        if (i % 100 == 0) s"reach me at u$i@example.com" else s"row $i"))
    val file = stageParquetFile(rows.toDF("id", "text"),
      Map("parquet.block.size" -> "4096"))
    val dir = new java.io.File(file).getParent
    val table = TableDef("t", dir, DataFormat.Parquet,
      spark.read.parquet(dir).schema)
    val mapper = DataMapper("m", "t", Seq("id"))
    val before = spark.conf.getOption(key)
    spark.conf.set(key, (new java.io.File(file).length / 4).toString)
    try {
      // the scan really splits the object: the Find query repeats it
      val raw = Finder.matchedFiles(spark, spark.read.parquet(dir),
        Finder.plan(mapper, table,
          Seq(DeletionQueueItem("q", MatchId.Simple("7")))),
        DataFormat.Parquet).collect()
      assert(raw.length >= 3, s"${raw.length} scan partitions matched")
      val name = fileName(file)
      assert(graft.llm.PiiForget.findObjects(spark.read.parquet(dir), "text")
        .map(fileName) == Seq(name))
      val run = graft.driver.JobRunner.run(spark, "split-once",
        Seq(mapper -> table),
        Seq(DeletionQueueItem("q", MatchId.Simple("7"))))
      assert(run.state.status == JobStatus.Completed, run.events)
      assert(run.foundPaths("m").map(fileName) == Seq(name))
      assert(run.state.stats.totalRowsDeletedCount == 40)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
