package graft.forget

import graft.SparkSpec
import graft.catalog.TableDef
import graft.find.Finder
import graft.model._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Parquet Forget semantics of the task-side [[DistributedRewrite]]
  * (parquet-mr Group I/O), each rewrite checked against the
  * DataFrame-filter oracle [[Finder.survivors]] — porting the reference
  * edge inventory from tests/unit/ecs_tasks/test_parquet.py (:77 correct
  * rows, :111 lower-cased columns, :151 struct types, :180-:254 composite
  * variants, :319-:372 decimals) plus the engine invariants (zero-deletion,
  * schema preservation, multi-row-group files).
  */
class ForgetSpec extends SparkSpec {
  import spark.implicits._

  private def plan(d: DataFrame, cols: Seq[String],
                   queue: Seq[DeletionQueueItem]) =
    Finder.plan(DataMapper("m", "t", cols),
      TableDef("t", "", DataFormat.Parquet, d.schema), queue)

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Run one file through [[DistributedRewrite]]; returns (survivorDf,
    * processed, deleted). The rewritten object must hold exactly the
    * rows [[Finder.survivors]] keeps of the original. */
  private def rewrite(file: String, groups: Seq[Finder.GroupMatches])
      : (DataFrame, Long, Long) = {
    val expected =
      sortedRows(Finder.survivors(spark, spark.read.parquet(file), groups))
    val events = DistributedRewrite.run(spark, "j",
      Seq(ObjectWorkUnit("j", file, "m", DataFormat.Parquet, true)), groups)
    assert(events.map(_.eventName) == Seq(JobEventName.ObjectUpdated),
      s"unexpected events: $events")
    val out = spark.read.parquet(file)
    assert(sortedRows(out) == expected, "rewrite disagrees with the oracle")
    (out, events.head.statsProcessed, events.head.statsDeleted)
  }

  // ---- test_parquet.py:77 — delete correct rows ---------------------

  test("deletes exactly the matching rows [distributed]") {
    val d = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("customer_id", "x")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("customer_id"),
      Seq(DeletionQueueItem("q", MatchId.Simple("2"))))
    val (out, processed, deleted) = rewrite(file, groups)
    assert((processed, deleted) == (3L, 1L))
    assert(out.select("customer_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
  }

  // ---- test_parquet.py:111 — lower-cased (mismatched-case) columns --

  test("column lookup is case-insensitive [distributed]") {
    val d = Seq((1L, "a"), (2L, "b")).toDF("customerId", "x")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("CUSTOMERID"),
      Seq(DeletionQueueItem("q", MatchId.Simple("1"))))
    val (out, _, deleted) = rewrite(file, groups)
    assert(deleted == 1L)
    assert(out.select("customerId").as[Long].collect().toSeq == Seq(2L))
  }

  // ---- test_parquet.py:151 — complex (struct) types -----------------

  test("deletes rows matched through nested struct dot paths [distributed]") {
    val d = spark.read.json(Seq(
      """{"id":1,"user":{"info":{"email":"x@y.z"},"age":30}}""",
      """{"id":2,"user":{"info":{"email":"a@b.c"},"age":40}}""",
      """{"id":3,"user":{"info":{"email":null},"age":50}}""").toDS)
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("user.info.email"),
      Seq(DeletionQueueItem("q", MatchId.Simple("x@y.z"))))
    val (out, processed, deleted) = rewrite(file, groups)
    assert((processed, deleted) == (3L, 1L))
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  // ---- test_parquet.py:180,:208,:230,:254 — composite variants ------

  test("composite match deletes only full-tuple matches [distributed]") {
    val d = Seq(("john", "doe", 1L), ("john", "smith", 2L),
      ("jane", "doe", 3L)).toDF("first_name", "last_name", "n")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("first_name", "last_name"),
      Seq(DeletionQueueItem("q", MatchId.Composite(
        Map("first_name" -> "john", "last_name" -> "doe")),
        dataMappers = Seq("m"))))
    val (out, _, deleted) = rewrite(file, groups)
    assert(deleted == 1L)
    assert(out.select("n").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("single-column composite behaves like a scoped simple [distributed]") {
    val d = Seq(("john", 1L), ("jane", 2L)).toDF("first_name", "n")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("first_name"),
      Seq(DeletionQueueItem("q",
        MatchId.Composite(Map("first_name" -> "jane")),
        dataMappers = Seq("m"))))
    val (out, _, deleted) = rewrite(file, groups)
    assert(deleted == 1L)
    assert(out.select("n").as[Long].collect().toSeq == Seq(1L))
  }

  test("composite over nested struct paths [distributed]") {
    val d = spark.read.json(Seq(
      """{"n":1,"user":{"first":"john","last":"doe"}}""",
      """{"n":2,"user":{"first":"john","last":"smith"}}""").toDS)
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("user.first", "user.last"),
      Seq(DeletionQueueItem("q", MatchId.Composite(
        Map("user.first" -> "john", "user.last" -> "doe")),
        dataMappers = Seq("m"))))
    val (out, _, deleted) = rewrite(file, groups)
    assert(deleted == 1L)
    assert(out.select("n").as[Long].collect().toSeq == Seq(2L))
  }

  // ---- test_parquet.py:319-:372 — decimal handling ------------------

  test("decimal match ids coerce to column scale (int64-backed) " +
    "[distributed]") {
    val d = Seq((1L, "12.34"), (2L, "56.70"), (3L, "99.99"))
      .toDF("id", "s")
      .withColumn("bal", col("s").cast("decimal(12,2)")).drop("s")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("bal"),
      Seq(DeletionQueueItem("q", MatchId.Simple("56.7"))))
    val (out, _, deleted) = rewrite(file, groups)
    assert(deleted == 1L)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("wide decimals (binary-backed, precision>18) match [distributed]") {
    val d = Seq((1L, "123456789012345.6789"), (2L, "5.5"))
      .toDF("id", "s")
      .withColumn("bal", col("s").cast("decimal(38,4)")).drop("s")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("bal"),
      Seq(DeletionQueueItem("q", MatchId.Simple("123456789012345.6789"))))
    val (out, _, deleted) = rewrite(file, groups)
    assert(deleted == 1L)
    assert(out.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("decimal component inside a composite coerces too [distributed]") {
    val d = Seq((1L, "a", "12.34"), (2L, "a", "99.99"))
      .toDF("id", "k", "s")
      .withColumn("bal", col("s").cast("decimal(12,2)")).drop("s")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("k", "bal"),
      Seq(DeletionQueueItem("q", MatchId.Composite(
        Map("k" -> "a", "bal" -> "12.340")), dataMappers = Seq("m"))))
    val (out, _, deleted) = rewrite(file, groups)
    assert(deleted == 1L)
    assert(out.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  // ---- engine invariants --------------------------------------------

  test("null identifier rows always survive [distributed]") {
    val d = Seq((Some(1L), "a"), (None, "b"), (Some(2L), "c"))
      .toDF("id", "x")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("id"),
      Seq(DeletionQueueItem("q", MatchId.Simple("1"))))
    val (out, processed, deleted) = rewrite(file, groups)
    assert((processed, deleted) == (3L, 1L))
    assert(out.select("x").as[String].collect().sorted.toSeq == Seq("b", "c"))
  }

  test("schema is preserved by the rewrite [distributed]") {
    val d = Seq((1L, "a", 1.5, true)).toDF("id", "s", "d", "b")
      .withColumn("dec", col("d").cast("decimal(10,3)"))
      .withColumn("arr", array(lit(1), lit(2)))
    val withMatch = d.union(Seq((2L, "x", 0.0, false)).toDF("id", "s", "d", "b")
      .withColumn("dec", col("d").cast("decimal(10,3)"))
      .withColumn("arr", array(lit(3), lit(4))))
    val file = stageParquetFile(withMatch)
    val before = spark.read.parquet(file).schema
    val groups = plan(withMatch, Seq("id"),
      Seq(DeletionQueueItem("q", MatchId.Simple("2"))))
    val (out, _, _) = rewrite(file, groups)
    assert(out.schema == before)
    assert(out.count() == 1)
  }

  test("multi-row-group files stream through the distributed backend") {
    val d = (1L to 2000L).map(i => (i, s"name$i", i % 7)).toDF("id", "s", "m")
    val file = stageParquetFile(d, Map("parquet.block.size" -> "4096"))
    val conf = new org.apache.hadoop.conf.Configuration()
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    val nGroups = try footer.getFooter.getBlocks.size finally footer.close()
    assert(nGroups > 1, s"fixture should span row groups, got $nGroups")
    val groups = plan(d, Seq("id"), Seq(
      DeletionQueueItem("a", MatchId.Simple("5")),
      DeletionQueueItem("b", MatchId.Simple("1999"))))
    val (out, processed, deleted) = rewrite(file, groups)
    assert((processed, deleted) == (2000L, 2L))
    assert(out.count() == 1998)
  }

  test("zero-deletion emits ObjectUpdateFailed (distributed backend)") {
    val d = Seq((1L, "a")).toDF("id", "x")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("id"),
      Seq(DeletionQueueItem("q", MatchIdSimple999)))
    val events = DistributedRewrite.run(spark, "j",
      Seq(ObjectWorkUnit("j", file, "m", DataFormat.Parquet, true)), groups)
    assert(events.map(_.eventName) == Seq(JobEventName.ObjectUpdateFailed))
    // and the source object is untouched
    assert(spark.read.parquet(file).count() == 1)
  }
  private def MatchIdSimple999 = MatchId.Simple("999")

  test("missing object: skipped with the mapper flag, failed without " +
    "(main.py:213-231)") {
    val d = Seq((1L, "a")).toDF("id", "x")
    val table = graft.catalog.TableDef("t", "", DataFormat.Parquet, d.schema)
    val groups = Finder.plan(DataMapper("m", "t", Seq("id")), table,
      Seq(DeletionQueueItem("q", MatchId.Simple("1"))))
    def unit(ignore: Boolean) = ObjectWorkUnit("j", "/nope/missing.parquet",
      "m", DataFormat.Parquet, deleteOldVersions = true,
      ignoreObjectNotFound = ignore)
    val skipped = DistributedRewrite.run(spark, "j", Seq(unit(true)), groups)
    assert(skipped.map(_.eventName) == Seq(JobEventName.ObjectUpdateSkipped))
    val failed = DistributedRewrite.run(spark, "j", Seq(unit(false)), groups)
    assert(failed.map(_.eventName) == Seq(JobEventName.ObjectUpdateFailed))
  }

  test("CatalogPartitions enumerates hive partition combinations (S4) " +
    "from directory names alone — zero Spark tasks, zero data reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-s4-").toString
    Seq((1L, "X", "a"), (2L, "X", "b"), (3L, "Y", "a"))
      .toDF("id", "p1", "p2")
      .write.mode("overwrite").partitionBy("p1", "p2").parquet(dir)
    val table = graft.catalog.TableDef("t", dir, DataFormat.Parquet,
      spark.read.parquet(dir).schema, partitionKeys = Seq("p1", "p2"))
    // a 100k-partition lake must enumerate like Glue metadata paging
    // (generate_queries.py:264-285): directory listing, no footer/row-
    // group reads — pin it by watching for ANY task while enumerating
    Thread.sleep(300) // let earlier tests' listener events drain
    val tasks = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val combos = graft.catalog.CatalogPartitions
        .partitionValues(spark, table).toSet
      assert(combos == Set(
        Map("p1" -> "X", "p2" -> "a"), Map("p1" -> "X", "p2" -> "b"),
        Map("p1" -> "Y", "p2" -> "a")))
      Thread.sleep(700) // listener bus is async
      assert(tasks.get() == 0L,
        s"partition enumeration ran ${tasks.get()} Spark tasks")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("CatalogPartitions reverses hive path escaping in values") {
    val dir = java.nio.file.Files.createTempDirectory("graft-esc-").toString
    Seq((1L, "a/b:c", "x")).toDF("id", "p1", "v")
      .write.mode("overwrite").partitionBy("p1").parquet(dir)
    val table = graft.catalog.TableDef("t", dir, DataFormat.Parquet,
      spark.read.parquet(dir).schema, partitionKeys = Seq("p1"))
    assert(graft.catalog.CatalogPartitions.partitionValues(spark, table)
      == Seq(Map("p1" -> "a/b:c")))
  }

  // ---- unsigned parquet logical types (the task must widen
  // UINT32/UINT64 like Spark's reader, or upper-range ids match in Find
  // but not in the rewrite) ------------------------------------------

  /** Stage a parquet file with UINT32/UINT64 identifier columns (Spark
    * cannot write unsigned logical types — use parquet-mr directly). */
  private def stageUnsignedFile(): String = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = Types.buildMessage()
      .addField(Types.required(PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.intType(32, false)).named("u32"))
      .addField(Types.required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.intType(64, false)).named("u64"))
      .addField(Types.required(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("x"))
      .named("row")
    val dir = java.nio.file.Files.createTempDirectory("graft-uint-")
    val file = dir.resolve("part-0.parquet").toString
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withConf(new org.apache.hadoop.conf.Configuration())
      .withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try {
      // row 0: upper-range unsigned values (stored as -1 in signed bits)
      w.write(f.newGroup().append("u32", -1).append("u64", -1L)
        .append("x", "upper"))
      w.write(f.newGroup().append("u32", 7).append("u64", 7L)
        .append("x", "small"))
    } finally w.close()
    file
  }

  test("UINT32 upper-range ids delete in the task rewrite (unsigned " +
    "widening matches Spark's reader)") {
    val file = stageUnsignedFile()
    val d = spark.read.parquet(file)
    // Spark widens UINT32 to LongType — the Find side sees 4294967295
    assert(d.schema("u32").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(d.where(col("u32") === 4294967295L).count() == 1)
    val groups = plan(d, Seq("u32"),
      Seq(DeletionQueueItem("q", MatchId.Simple("4294967295"))))
    val (out, processed, deleted) = rewrite(file, groups)
    assert((processed, deleted) == (2L, 1L))
    assert(out.select("x").as[String].collect().toSeq == Seq("small"))
  }

  test("UINT64 upper-range ids (Decimal(20,0) in Spark) delete in the " +
    "task rewrite") {
    val file = stageUnsignedFile()
    val d = spark.read.parquet(file)
    assert(d.schema("u64").dataType ==
      org.apache.spark.sql.types.DecimalType(20, 0))
    val big = "18446744073709551615" // 2^64 - 1, stored as -1L
    assert(d.where(col("u64") === new java.math.BigDecimal(big)).count() == 1)
    val groups = plan(d, Seq("u64"),
      Seq(DeletionQueueItem("q", MatchId.Simple(big))))
    val (out, processed, deleted) = rewrite(file, groups)
    assert((processed, deleted) == (2L, 1L))
    assert(out.select("x").as[String].collect().toSeq == Seq("small"))
  }

  // ---- task idempotency under retry/speculation --------------------

  test("a retry whose predecessor already committed replays the marker " +
    "outcome instead of failing with ZeroDeletionError") {
    val d = Seq((1L, "keep"), (2L, "drop")).toDF("id", "x")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("id"),
      Seq(DeletionQueueItem("q", MatchId.Simple("2"))))
    // simulate: a prior attempt of job "jr" committed (marker present
    // with its counts) but the executor died before reporting
    val hp = new org.apache.hadoop.fs.Path(file)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = DistributedRewrite.doneMarker(hp, "jr")
    DistributedRewrite.writeDoneMarker(fs, marker, 2L, 1L)
    val events = DistributedRewrite.run(spark, "jr",
      Seq(ObjectWorkUnit("jr", file, "m", DataFormat.Parquet, true)), groups)
    assert(events.map(_.eventName) == Seq(JobEventName.ObjectUpdated))
    assert((events.head.statsProcessed, events.head.statsDeleted) == (2L, 1L))
    // the object was NOT rewritten again (the "drop" row is still there —
    // in the simulated history the first attempt already removed it; here
    // it proves the retry skipped the rewrite entirely)
    assert(spark.read.parquet(file).count() == 2)
    // and the job-completion sweep removed the marker
    assert(!fs.exists(marker))
  }

  test("a different job is NOT fooled by another job's marker") {
    val d = Seq((1L, "keep"), (2L, "drop")).toDF("id", "x")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("id"),
      Seq(DeletionQueueItem("q", MatchId.Simple("2"))))
    val hp = new org.apache.hadoop.fs.Path(file)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DistributedRewrite.writeDoneMarker(fs,
      DistributedRewrite.doneMarker(hp, "other-job"), 99L, 99L)
    val events = DistributedRewrite.run(spark, "jr2",
      Seq(ObjectWorkUnit("jr2", file, "m", DataFormat.Parquet, true)), groups)
    assert(events.map(_.eventName) == Seq(JobEventName.ObjectUpdated))
    assert(events.head.statsDeleted == 1L)
    assert(spark.read.parquet(file).count() == 1)
  }

  test("float NaN rows are deleted when 'NaN' is queued (both layers)") {
    val d = Seq((1L, 1.5f), (2L, Float.NaN)).toDF("id", "f")
    val file = stageParquetFile(d)
    val groups = plan(d, Seq("f"),
      Seq(DeletionQueueItem("q", MatchId.Simple("NaN"))))
    val (out, _, deleted) = rewrite(file, groups)
    assert(deleted == 1L)
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("run with EMPTY units still fail-fasts on an uncastable match " +
    "group (documented contract: config errors surface before the " +
    "empty-queue short-circuit)") {
    val bad = Seq(Finder.GroupMatches(
      Finder.ColumnGroup(Seq("k"), Seq(org.apache.spark.sql.types.LongType)),
      Seq(("q1", Seq("not-a-number")))))
    intercept[MatchIdCastingError] {
      DistributedRewrite.run(spark, "j-empty", Nil, bad)
    }
    // and a castable group over an empty queue keeps the old Nil result
    val good = Seq(Finder.GroupMatches(
      Finder.ColumnGroup(Seq("k"), Seq(org.apache.spark.sql.types.LongType)),
      Seq(("q1", Seq("42")))))
    assert(DistributedRewrite.run(spark, "j-empty2", Nil, good) == Nil)
  }

  // ---- the hash probe equals the queue scan it replaced -------------

  test("seeded property: the per-object hash probe matches exactly the " +
    "records the per-tuple scan matched, over every identifier leaf kind") {
    import ForgetSpec._
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val factory = new SimpleGroupFactory(PropSchema)
    var hits = 0
    var records = 0
    (1 to 40).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
      val specs = Seq.fill(1 + rnd.nextInt(3)) {
        val cols = rnd.shuffle(PropColumns).take(1 + rnd.nextInt(3))
        val paths = cols.map { c =>
          val p = if (rnd.nextInt(10) == 0) "nope" else c
          p.split('.').toSeq.map(seg =>
            if (rnd.nextBoolean()) seg.toUpperCase else seg)
        }
        DistributedRewrite.TaskGroupSpec(paths,
          Seq.fill(1 + rnd.nextInt(20))(cols.map(_ => pick(PropValues))))
      }
      val probe = DistributedRewrite.parquetMatcher(specs, PropSchema)
      (1 to 200).foreach { _ =>
        val g = factory.newGroup()
        def maybe(f: => Unit): Unit = if (rnd.nextInt(5) > 0) f
        maybe(g.append("i32", pick(Seq(-2, -1, 0, 1, 2, 7, Int.MaxValue,
          Int.MinValue))))
        maybe(g.append("u32", pick(Seq(-1, 0, 1, 7, Int.MinValue))))
        maybe(g.append("i64", pick(Seq(-1L, 0L, 1L, 7L, Long.MaxValue,
          Long.MinValue))))
        maybe(g.append("u64", pick(Seq(-1L, 0L, 1L, 7L, Long.MinValue))))
        maybe(g.append("d32", pick(Seq(-100, 0, 1, 1234, 999999999))))
        maybe(g.append("d64", pick(Seq(0L, 1L, 123400L, -10000L))))
        maybe(g.append("dbin", org.apache.parquet.io.api.Binary
          .fromConstantByteArray(pick(Seq(BigInt(0), BigInt(1),
            BigInt(10).pow(25), -(BigInt(10).pow(25) - 1))).toByteArray)))
        maybe(g.append("f", pick(Seq(0f, -0f, Float.NaN, 1.5f, 0.1f,
          Float.PositiveInfinity))))
        maybe(g.append("d", pick(Seq(0.0, -0.0, Double.NaN, 1.5, 0.1,
          0.1f.toDouble))))
        maybe(g.append("s", pick(Seq("a", "b", "caf\u00e9", "", "1"))))
        maybe {
          val u = g.addGroup("user")
          maybe(u.append("email", pick(Seq("x@y", "z"))))
          maybe(u.append("id", pick(Seq(0L, 7L, -1L))))
        }
        val want = ScanOracle.recordMatches(g, specs)
        assert(probe(g) == want, s"seed $seed: $specs on\n$g")
        if (want) hits += 1
        records += 1
      }
    }
    assert(hits > records / 20, s"only $hits of $records records matched")
  }
}

object ForgetSpec {
  import DistributedRewrite._
  import org.apache.parquet.schema.{LogicalTypeAnnotation => L, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  /** One optional leaf of every identifier kind, plus a nested group. */
  val PropSchema: org.apache.parquet.schema.MessageType = Types.buildMessage()
    .addField(Types.optional(INT32).named("i32"))
    .addField(Types.optional(INT32).as(L.intType(32, false)).named("u32"))
    .addField(Types.optional(INT64).named("i64"))
    .addField(Types.optional(INT64).as(L.intType(64, false)).named("u64"))
    .addField(Types.optional(INT32).as(L.decimalType(2, 9)).named("d32"))
    .addField(Types.optional(INT64).as(L.decimalType(4, 18)).named("d64"))
    .addField(Types.optional(BINARY).as(L.decimalType(6, 30)).named("dbin"))
    .addField(Types.optional(FLOAT).named("f"))
    .addField(Types.optional(DOUBLE).named("d"))
    .addField(Types.optional(BINARY).as(L.stringType()).named("s"))
    .addField(Types.optionalGroup()
      .addField(Types.optional(BINARY).as(L.stringType()).named("email"))
      .addField(Types.optional(INT64).named("id"))
      .named("user"))
    .named("row")

  val PropColumns: Seq[String] = Seq("i32", "u32", "i64", "u64", "d32",
    "d64", "dbin", "f", "d", "s", "user.email", "user.id")

  /** Match values of every kind, each the cast form of some stored
    * value above or of a near miss (other scale, other type, NaN, -0.0,
    * unsigned upper range, decimals that do not fit a column's scale). */
  val PropValues: Seq[PVal] =
    Seq(-2L, -1L, 0L, 1L, 2L, 7L, Int.MaxValue.toLong, Int.MinValue.toLong,
      4294967295L, 2147483648L, Long.MaxValue, Long.MinValue).map(PLong) ++
    Seq("0", "0.00", "0.01", "0.0001", "12.34", "12.340", "12.345", "-1.00",
      "1", "7", "7.0", "4294967295", "18446744073709551615",
      "9223372036854775808", "0.000001", "10000000000000000000",
      "-9999999999999999999.999999", "9999999.99")
      .map(v => PDecimal(new java.math.BigDecimal(v))) ++
    Seq(0f, -0f, Float.NaN, 1.5f, 0.1f, Float.PositiveInfinity).map(PFloat) ++
    Seq(0.0, -0.0, Double.NaN, 1.5, 0.1, 0.1f.toDouble, 7.0).map(PDouble) ++
    Seq("a", "b", "caf\u00e9", "", "1", "x@y", "z").map(PString)

  /** The queue scan the hash probe replaced: every record resolves its
    * leaves and compares them against every tuple. Kept as the oracle. */
  object ScanOracle {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.{GroupType, PrimitiveType, Type => PType}
    import org.apache.parquet.schema.LogicalTypeAnnotation.{DecimalLogicalTypeAnnotation, IntLogicalTypeAnnotation}

    private def fieldIndex(gt: GroupType, name: String): Int =
      (0 until gt.getFieldCount).find(i =>
        gt.getType(i).getName.equalsIgnoreCase(name)).getOrElse(-1)

    private def resolveLeaf(g: Group, path: Seq[String])
        : Option[(PrimitiveType, Group, Int)] = {
      var cur = g
      var i = 0
      while (i < path.length) {
        val gt = cur.getType
        val idx = fieldIndex(gt, path(i))
        if (idx < 0) return None
        val f = gt.getType(idx)
        if (f.isRepetition(PType.Repetition.REPEATED)) return None
        if (cur.getFieldRepetitionCount(idx) == 0) return None
        if (i == path.length - 1) {
          if (!f.isPrimitive) return None
          return Some((f.asPrimitiveType(), cur, idx))
        }
        if (f.isPrimitive) return None
        cur = cur.getGroup(idx, 0)
        i += 1
      }
      None
    }

    private def decimalScale(pt: PrimitiveType): Option[Int] =
      pt.getLogicalTypeAnnotation match {
        case d: DecimalLogicalTypeAnnotation => Some(d.getScale)
        case _ => None
      }

    private def isUnsignedInt(pt: PrimitiveType): Boolean =
      pt.getLogicalTypeAnnotation match {
        case i: IntLogicalTypeAnnotation => !i.isSigned
        case _ => false
      }

    private def binaryDecimal(b: Binary, scale: Int): java.math.BigDecimal =
      new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), scale)

    private def leafEquals(pt: PrimitiveType, g: Group, idx: Int,
                           m: PVal): Boolean = {
      val scaleOpt = decimalScale(pt)
      pt.getPrimitiveTypeName match {
        case INT32 =>
          val widened =
            if (isUnsignedInt(pt)) g.getInteger(idx, 0) & 0xffffffffL
            else g.getInteger(idx, 0).toLong
          (m, scaleOpt) match {
            case (PDecimal(d), Some(s)) =>
              java.math.BigDecimal.valueOf(widened, s).compareTo(d) == 0
            case (PLong(v), None) => widened == v
            case _ => false
          }
        case INT64 =>
          val raw = g.getLong(idx, 0)
          val unsigned = isUnsignedInt(pt)
          (m, scaleOpt) match {
            case (PDecimal(d), Some(s)) =>
              java.math.BigDecimal.valueOf(raw, s).compareTo(d) == 0
            case (PDecimal(d), None) if unsigned =>
              new java.math.BigDecimal(java.lang.Long.toUnsignedString(raw))
                .compareTo(d) == 0
            case (PLong(v), None) =>
              if (unsigned) raw >= 0 && raw == v else raw == v
            case _ => false
          }
        case FLOAT => m match {
          case PFloat(v) =>
            val x = g.getFloat(idx, 0)
            (x.isNaN && v.isNaN) || x == v
          case PDouble(v) =>
            val x = g.getFloat(idx, 0)
            (x.isNaN && v.isNaN) || x.toDouble == v
          case _ => false
        }
        case DOUBLE => m match {
          case PDouble(v) =>
            val x = g.getDouble(idx, 0)
            (x.isNaN && v.isNaN) || x == v
          case PFloat(v) =>
            val x = g.getDouble(idx, 0)
            (x.isNaN && v.isNaN) || x == v.toDouble
          case _ => false
        }
        case BINARY | FIXED_LEN_BYTE_ARRAY => (m, scaleOpt) match {
          case (PDecimal(d), Some(s)) =>
            binaryDecimal(g.getBinary(idx, 0), s).compareTo(d) == 0
          case (PString(v), None) => g.getString(idx, 0) == v
          case _ => false
        }
        case _ => false
      }
    }

    def recordMatches(g: Group, specs: Seq[TaskGroupSpec]): Boolean =
      specs.exists { spec =>
        val leaves = spec.paths.map(resolveLeaf(g, _))
        leaves.forall(_.isDefined) && spec.tuples.exists { tuple =>
          tuple.indices.forall { i =>
            val (pt, grp, idx) = leaves(i).get
            leafEquals(pt, grp, idx, tuple(i))
          }
        }
      }
  }
}
