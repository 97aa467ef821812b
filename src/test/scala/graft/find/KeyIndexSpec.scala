package graft.find

import graft.SparkSpec
import graft.catalog.TableDef
import graft.driver.JobRunner
import graft.model._
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The per-object key index prunes Find without changing its answer: over
  * random queues and a lake that changes under it, Find with the index
  * returns the paths Find without it returns, and Forget keeps the
  * entries of the objects it commits fresh and right. */
class KeyIndexSpec extends SparkSpec {
  import spark.implicits._

  private val parquetSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType),
    StructField("u", StructType(Seq(StructField("id", LongType))))))
  private val jsonSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private val pm = DataMapper("mp", "p", Seq("id", "name", "score", "u.id"))
  private val jm = DataMapper("mj", "j", Seq("id", "name"),
    format = DataFormat.JsonLines)

  /** One row: id, name, score, u.id; nulls where the draw says so. */
  private type R = (java.lang.Long, String, java.lang.Double, java.lang.Long)

  private val scores = Seq[java.lang.Double](1.5, 0.0, -0.0, Double.NaN, 2.25, null)

  private def rows(rnd: scala.util.Random, ids: Seq[Long]): Seq[R] =
    ids.map { i =>
      (if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(i),
        if (rnd.nextInt(8) == 0) null else s"n$i",
        scores(rnd.nextInt(scores.size)),
        if (rnd.nextInt(5) == 0) null else java.lang.Long.valueOf(i * 10))
    }

  private def plain(ids: Seq[Long]): Seq[R] = ids.map(i =>
    (java.lang.Long.valueOf(i), s"n$i", java.lang.Double.valueOf(1.5),
      java.lang.Long.valueOf(i * 10)))

  /** Write `rs` as the one parquet object `dir/name` ([[touch]]ed). */
  private def putParquet(dir: Path, name: String, rs: Seq[R]): Unit = {
    val tmp = Files.createTempDirectory("graft-ki-")
    rs.toDF("id", "name", "score", "uid")
      .selectExpr("id", "name", "score", "named_struct('id', uid) AS u")
      .coalesce(1).write.mode("overwrite").parquet(tmp.resolve("t").toString)
    val part = Files.list(tmp.resolve("t")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    touch(dir.resolve(name))
  }

  private def jsonLines(rs: Seq[R]): String = rs.map { case (i, n, _, _) =>
    s"""{"id":${Option(i).map(_.toString).getOrElse("null")},""" +
      s""""name":${Option(n).map("\"" + _ + "\"").getOrElse("null")}}"""
  }.mkString("", "\n", "\n")

  private def putJson(dir: Path, name: String, text: String): Unit = {
    Files.write(dir.resolve(name), text.getBytes("UTF-8"))
    touch(dir.resolve(name))
  }

  /** Each write's mtime is 2 s past the last one's, so an overwrite
    * reads as a new version on a coarse clock too. */
  private val clock = new java.util.concurrent.atomic.AtomicLong(
    System.currentTimeMillis())
  private def touch(p: Path): Unit = Files.setLastModifiedTime(p,
    java.nio.file.attribute.FileTime.fromMillis(clock.addAndGet(2000)))

  private def lake(): (Path, TableDef, TableDef) = {
    val root = Files.createTempDirectory("graft-ki-lake-")
    val (p, j) = (root.resolve("p"), root.resolve("j"))
    Files.createDirectories(p)
    Files.createDirectories(j)
    (root, TableDef("p", p.toString, DataFormat.Parquet, parquetSchema),
      TableDef("j", j.toString, DataFormat.JsonLines, jsonSchema))
  }

  private def paths(m: DataMapper, t: TableDef, queue: Seq[DeletionQueueItem],
                    ix: Option[KeyIndex]): Seq[String] = {
    val typed = Finder.typedGroups(spark, Finder.plan(m, t, queue))
    if (typed.isEmpty) Nil
    else JobRunner.find(spark, m, t, typed,
      Finder.scoped(JobRunner.readTable(spark, t), m), ix)
      .paths.map(KeyIndex.objectKey).sorted
  }

  test("Find returns the same paths with and without the index, over " +
    "random queues and a lake that changes under the index") {
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val (_, pt, jt) = lake()
      val (pdir, jdir) = (Paths.get(pt.location), Paths.get(jt.location))
      // the ids each object holds now; fresh ids per written object, so
      // an object's queued keys can live nowhere else
      val held = scala.collection.mutable.LinkedHashMap.empty[Path, Seq[Long]]
      var nextId = 1L
      def ids(n: Int): Seq[Long] = {
        val r = (0 until n).map(_ => nextId + rnd.nextInt(3))
        nextId += 3 * n
        r
      }
      def writeP(name: String): Path = {
        val is = ids(4 + rnd.nextInt(4))
        putParquet(pdir, name, rows(rnd, is))
        held(pdir.resolve(name)) = is
        pdir.resolve(name)
      }
      def writeJ(name: String, is: Seq[Long]): Path = {
        putJson(jdir, name, jsonLines(rows(rnd, is)))
        held(jdir.resolve(name)) = is
        jdir.resolve(name)
      }
      (0 until 5).foreach(i => writeP(f"p$i%02d.parquet"))
      (0 until 3).foreach(i => writeJ(f"j$i%02d.json", ids(5)))
      // an object with no non-null identifier at all
      putParquet(pdir, "p-nulls.parquet",
        Seq[R]((null, null, null, null), (null, null, null, null)))

      val ix = new KeyIndex
      // index a part of the lake only: the other objects start with no
      // entry
      val some = Seq(DeletionQueueItem("s", MatchId.Simple("1")))
      JobRunner.find(spark, pm, pt,
        Finder.typedGroups(spark, Finder.plan(pm, pt, some)),
        spark.read.schema(parquetSchema).parquet(
          pdir.resolve("p00.parquet").toString,
          pdir.resolve("p01.parquet").toString), Some(ix))
      assert(ix.size.objects == 2)

      val mutations = rnd.shuffle(Seq("add", "delete", "overwrite",
        "same-length", "none", "add", "overwrite", "none"))
      mutations.zipWithIndex.foreach { case (mutation, round) =>
        val touched: Option[Path] = mutation match {
          case "add" =>
            Some(if (rnd.nextBoolean()) writeP(s"new$round.parquet")
                 else writeJ(s"new$round.json", ids(5)))
          case "delete" =>
            val victim = held.keys.toSeq(rnd.nextInt(held.size))
            Files.delete(victim)
            held.remove(victim)
            None
          case "overwrite" =>
            val victim = held.keys.toSeq(rnd.nextInt(held.size))
            val name = victim.getFileName.toString
            Some(if (name.endsWith(".json")) writeJ(name, ids(5))
                 else writeP(name))
          case "same-length" =>
            // same path and byte length, other keys: only the mtime
            // tells the versions apart
            val victim = held.keys.filter(_.toString.endsWith(".json"))
              .toSeq.headOption.getOrElse(writeJ(s"sl$round.json", ids(5)))
            val before = Files.size(victim)
            val old = new String(Files.readAllBytes(victim), "UTF-8")
            val swapped = old.map(c =>
              if (c.isDigit) ((c - '0') % 9 + '1').toChar else c)
            putJson(jdir, victim.getFileName.toString, swapped)
            assert(Files.size(victim) == before)
            held(victim) = "\"id\":(\\d+)".r.findAllMatchIn(swapped)
              .map(_.group(1).toLong).toSeq
            Some(victim)
          case _ => None
        }
        (0 until 4).foreach { q =>
          val all = held.values.flatten.toSeq
          def present(): Long = all(rnd.nextInt(all.size))
          val own = touched.flatMap(held.get).filter(_.nonEmpty)
            .map(is => is(rnd.nextInt(is.size))).toSeq
          // simple keys reach every identifier column, so they are the
          // ones each column type casts: ids, nested ids, absent ids and
          // null; names and float/double keys go through one-column
          // composites, which a single mapper scopes
          val simple = (own ++ Seq.fill(1 + rnd.nextInt(3))(present()))
            .map(_.toString) ++
            Seq.fill(rnd.nextInt(2))((1000000L + rnd.nextInt(1000)).toString) ++
            Seq.fill(rnd.nextInt(2))((present() * 10).toString) ++
            Seq[String](null).filter(_ => rnd.nextInt(4) == 0)
          def one(m: DataMapper, c: String, v: String) =
            (MatchId.Composite(Map(c -> v)), m.id)
          val composite =
            Seq.fill(rnd.nextInt(3)) {
              // both parts of one row, or of two rows that may share an
              // object: the index admits the latter, the scan decides
              val (a, b) = (present(), if (rnd.nextBoolean()) present() else 0L)
              (MatchId.Composite(Map("id" -> a.toString,
                "name" -> s"n${if (b == 0L) a else b}")), pm.id)
            } ++
              Seq("1.5", "-0.0", "0.0", "NaN", "2.25")
                .filter(_ => rnd.nextInt(5) == 0).map(one(pm, "score", _)) ++
              own.take(1).flatMap(v => Seq(one(pm, "name", s"n$v"),
                one(jm, "name", s"n$v"))) ++
              Seq.fill(rnd.nextInt(2))(one(pm, "u.id", (present() * 10).toString))
          val queue =
            simple.zipWithIndex.map { case (v, i) =>
              DeletionQueueItem(s"r$round-q$q-s$i", MatchId.Simple(v))
            } ++ composite.zipWithIndex.map { case ((c, m), i) =>
              DeletionQueueItem(s"r$round-q$q-c$i", c, Seq(m))
            }
          Seq(pm -> pt, jm -> jt).foreach { case (m, t) =>
            val want = paths(m, t, queue, None)
            val got = paths(m, t, queue, Some(ix))
            assert(got == want,
              s"seed $seed round $round ($mutation) ${m.id}: queue " +
                s"${queue.map(_.matchId)}")
          }
        }
      }
    }
  }

  /** Run a full job with the index; returns the run. */
  private def job(id: String, ix: KeyIndex, mappers: Seq[(DataMapper, TableDef)],
                  keys: String*): JobRunner.JobRun =
    JobRunner.run(spark, id, mappers,
      keys.zipWithIndex.map { case (k, i) =>
        DeletionQueueItem(s"$id-$i", MatchId.Simple(k))
      }, keyIndex = Some(ix))

  test("a key Forget deleted stops being a candidate once Forget commits; " +
    "the object's other keys stay") {
    val (_, pt, jt) = lake()
    (0 until 3).foreach(i => putParquet(Paths.get(pt.location),
      s"p$i.parquet", plain(Seq(10L * i + 1, 10L * i + 2))))
    putJson(Paths.get(jt.location), "j.json",
      """{"id":11,"name":"a"}""" + "\n" + """{"id":12,"name":"b"}""" + "\n")
    val mappers = Seq(pm -> pt, jm -> jt)
    val ix = new KeyIndex
    // ids 11 and 12: p1.parquet and j.json
    val first = job("ki-f1", ix, mappers, "11")
    assert(first.state.status == JobStatus.Completed, first.events)
    assert(first.state.stats.totalObjectUpdatedCount == 2)
    mappers.foreach { case (m, t) =>
      val typed = Finder.typedGroups(spark, Finder.plan(m, t,
        Seq(DeletionQueueItem("x", MatchId.Simple("11")))))
      val listing = KeyIndex.listing(JobRunner.readTable(spark, t)).get
      val p = ix.prune(m, t, typed, listing)
      // Forget's entries are fresh for the versions it committed
      assert(p.unindexed.isEmpty, s"${m.id}: ${p.unindexed}")
      assert(p.scanned.isEmpty, s"${m.id}: ${p.scanned}")
      val twelve = Finder.typedGroups(spark, Finder.plan(m, t,
        Seq(DeletionQueueItem("y", MatchId.Simple("12")))))
      assert(ix.prune(m, t, twelve, listing).scanned.size == 1, m.id)
    }
    assert(paths(pm, pt, Seq(DeletionQueueItem("z", MatchId.Simple("12"))),
      Some(ix)).size == 1)
  }

  test("an object whose rewrite failed stays a candidate") {
    val (_, _, jt) = lake()
    val jdir = Paths.get(jt.location)
    putJson(jdir, "ok.json", """{"id":5,"name":"a"}""" + "\n")
    putJson(jdir, "bad.json",
      """{"id":5,"name":"b"}""" + "\n" + "not-json{{{\n")
    val ix = new KeyIndex
    val run = job("ki-fail", ix, Seq(jm -> jt), "5")
    assert(run.state.status == JobStatus.ForgetPartiallyFailed)
    val q = Seq(DeletionQueueItem("again", MatchId.Simple("5")))
    assert(paths(jm, jt, q, Some(ix)) == paths(jm, jt, q, None))
    assert(paths(jm, jt, q, Some(ix)).exists(_.endsWith("bad.json")))
  }

  test("Forget maintenance: no derived entry without a commit, nor when " +
    "the entry did not describe the version Forget read") {
    val (_, pt, _) = lake()
    val pdir = Paths.get(pt.location)
    putParquet(pdir, "a.parquet", plain(Seq(1L, 2L)))
    putParquet(pdir, "b.parquet", plain(Seq(3L, 4L)))
    val ix = new KeyIndex
    paths(pm, pt, Seq(DeletionQueueItem("i", MatchId.Simple("1"))), Some(ix))
    val typed = Finder.typedGroups(spark, Finder.plan(pm, pt,
      Seq(DeletionQueueItem("i", MatchId.Simple("1")))))
    val a = pdir.resolve("a.parquet").toUri.toString
    val b = pdir.resolve("b.parquet").toUri.toString
    val ea = ix.entry(pm.id, a).get
    val eb = ix.entry(pm.id, b).get
    ix.committed(pm, pt, typed, Seq(
      // failed or rolled back: nothing committed
      KeyIndex.Committed(a, Some((ea.len, ea.mtime)), None),
      // the entry was of another version than the one Forget read
      KeyIndex.Committed(b, Some((eb.len + 1, eb.mtime)),
        Some((eb.len, eb.mtime + 1)))))
    assert(ix.entry(pm.id, a).isEmpty && ix.entry(pm.id, b).isEmpty)
    // both objects are unindexed again, so both are scanned
    val listing = KeyIndex.listing(JobRunner.readTable(spark, pt)).get
    assert(ix.prune(pm, pt, typed, listing).unindexed.size == 2)
  }

  test("leaveOut opens none of the skipped objects, and the scan compiles " +
    "no new code when only the skip count changes") {
    val (_, pt, _) = lake()
    val dir = Paths.get(pt.location)
    (0 until 14).foreach(i =>
      putParquet(dir, f"s$i%02d.parquet", plain(Seq(i.toLong))))
    val data = JobRunner.readTable(spark, pt)
    val listing = KeyIndex.listing(data).get.sortBy(_.getPath.getName)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    /** Ids read, objects opened and classes compiled with the first
      * `skip` objects left out. */
    def scan(skip: Int): (Seq[Long], Long, Long) = {
      val df = data.filter(KeyIndex.leaveOut(data, listing.take(skip)))
        .select("id")
      val c0 = compiles.getCount
      val ids = df.collect().map(_.getLong(0)).sorted.toSeq
      val opened = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.sum
      (ids, opened, compiles.getCount - c0)
    }
    // the first count of each form (short list, long list) may compile;
    // later counts of the same form reuse its classes
    Seq(Seq(1, 2, 3, 4), Seq(11, 12, 13)).foreach { counts =>
      counts.zipWithIndex.foreach { case (skip, i) =>
        val (ids, opened, compiled) = scan(skip)
        assert(ids == (skip until 14).map(_.toLong), skip)
        assert(opened == 14 - skip, skip)
        if (i > 0) assert(compiled == 0, s"skip $skip compiled $compiled")
      }
    }
  }

  test("a changed mapper or table definition starts its entries afresh") {
    val (_, pt, _) = lake()
    putParquet(Paths.get(pt.location), "a.parquet",
      plain(Seq(1L, 2L)))
    val ix = new KeyIndex
    val q = Seq(DeletionQueueItem("i", MatchId.Simple("1")))
    paths(pm, pt, q, Some(ix))
    val typed = Finder.typedGroups(spark, Finder.plan(pm, pt, q))
    val listing = KeyIndex.listing(JobRunner.readTable(spark, pt)).get
    assert(ix.prune(pm, pt, typed, listing).unindexed.isEmpty)
    val narrower = pm.copy(columns = Seq("id"))
    val t2 = Finder.typedGroups(spark, Finder.plan(narrower, pt, q))
    assert(ix.prune(narrower, pt, t2, listing).unindexed.size == 1)
    assert(ix.size.objects == 0)
  }
}
