package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The oracle must catch a lake the engine got wrong, and a run whose
  * oracle fails must withhold its metrics. */
class OracleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def lake(): Path = Files.createTempDirectory("perfbench-oracle-")

  private def table(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  private val master = (1L to 20L).map(k => (k, s"row-$k"))
  private val queued = Seq(3L, 7L)
  private def matched(d: DataFrame) = col("k").isin(queued: _*)
  private def write(rows: Seq[(Long, String)], dir: Path): DataFrame = {
    table(rows).coalesce(1).write.parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  test("a correctly forgotten table passes") {
    val d = lake()
    val m = write(master, d.resolve("m"))
    val a = write(master.filterNot(r => queued.contains(r._1)), d.resolve("a"))
    assert(Oracle.rows("t", m, a, matched) == Nil)
  }

  test("a planted surviving row fails") {
    val d = lake()
    val m = write(master, d.resolve("m"))
    val a = write(master.filterNot(_._1 == 3L), d.resolve("a"))
    val v = Oracle.rows("t", m, a, matched)
    assert(v.exists(_.contains("1 queued rows survived")), v)
  }

  test("an unmatched row that changed or went missing fails") {
    val d = lake()
    val m = write(master, d.resolve("m"))
    val changed = master.filterNot(r => queued.contains(r._1))
      .map { case (k, v) => if (k == 10L) (k, "edited") else (k, v) }
    assert(Oracle.rows("t", m, write(changed, d.resolve("a")), matched)
      .exists(_.contains("unmatched rows differ")))
    val lost = master.filterNot(r => queued.contains(r._1) || r._1 == 11L)
    assert(Oracle.rows("t", m, write(lost, d.resolve("b")), matched)
      .exists(_.contains("unmatched rows differ")))
  }

  test("a changed JSON line fails the raw-line compare") {
    val want = Seq("""{"user_id":1,"x":"a"}""", """{"user_id":2,"x":"b"}""")
    assert(Oracle.lines("events", want, want.reverse) == Nil)
    val got = Seq("""{"user_id":1,"x":"a"}""", """{"user_id":2, "x":"b"}""")
    assert(Oracle.lines("events", want, got).exists(_.contains("first difference")))
    assert(Oracle.lines("events", want, want.take(1)).nonEmpty)
  }

  test("a leftover staging file, marker or version fails; a crc sidecar does not") {
    val d = lake()
    val t = Files.createDirectories(d.resolve("t"))
    Files.writeString(t.resolve("obj-00000.parquet"), "x")
    Files.writeString(t.resolve(".obj-00000.parquet.crc"), "x")
    assert(Oracle.debris(d) == Nil)
    Files.writeString(t.resolve(".graft-staging-0000-obj-00000.parquet"), "x")
    Files.createDirectories(t.resolve(".graft-done"))
    Files.createDirectories(t.resolve(".graft-versions").resolve("obj-00000.parquet"))
    Files.writeString(t.resolve(".orphan.parquet.crc"), "x")
    val v = Oracle.debris(d)
    assert(v.exists(_.contains(".graft-staging-")), v)
    assert(v.exists(_.endsWith("t/.graft-done")), v)
    assert(v.exists(_.contains(".graft-versions")), v)
    assert(v.exists(_.contains(".orphan.parquet.crc")), v)
    assert(!Oracle.debris(d, keepsVersions = true)
      .exists(_.contains(".graft-versions")))
  }

  test("the JSON user id is parsed without the engine") {
    assert(Deletion.jsonUser("""{"user_id":42,"event_id":7}""") == 42L)
    assert(intercept[IllegalStateException](Deletion.jsonUser("{}"))
      .getMessage.contains("no user_id"))
  }

  test("a run with an oracle violation is incorrect and withholds metrics") {
    val metrics = Seq(("job_p50_s", 1.5, "s"))
    val ok = Main.resultJson(10, 0, metrics)
    assert(ok.startsWith("""{"correct": true, "attempted": 10, "failed": 0"""))
    assert(ok.contains(""""job_p50_s": {"value": 1.5, "unit": "s"}"""))
    val bad = Main.resultJson(10, 1, metrics)
    assert(bad == """{"correct": false, "attempted": 10, "failed": 1, "metrics": {}}""")
  }
}
