package graft.forget

import graft.SparkSpec
import graft.catalog.TableDef
import graft.find.Finder
import graft.model._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import java.nio.file.Files

/** Versioned-save analog (S11/O4/U2) + Scalars (F6-F8, F11-F13). */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val conf = new Configuration()

  private def obj(content: String): HPath = {
    val dir = Files.createTempDirectory("graft-vs-")
    val p = dir.resolve("data.bin")
    Files.write(p, content.getBytes("UTF-8"))
    new HPath(p.toString)
  }

  test("capture + list + rollback restore the prior content") {
    val p = obj("v1")
    val fs = p.getFileSystem(conf)
    VersionedStore.capture(fs, p)
    Files.write(java.nio.file.Paths.get(p.toUri.getPath), "v2".getBytes)
    assert(VersionedStore.listVersions(fs, p).size == 1)
    assert(VersionedStore.rollback(fs, p))
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(p.toUri.getPath))) == "v1")
    assert(VersionedStore.listVersions(fs, p).isEmpty) // consumed
  }

  test("versions + delete markers union, sorted, bulk-deletable (O4/U2)") {
    val p = obj("v1")
    val fs = p.getFileSystem(conf)
    VersionedStore.capture(fs, p)
    Thread.sleep(5)
    VersionedStore.putDeleteMarker(fs, p)
    Thread.sleep(5)
    VersionedStore.capture(fs, p)
    val vs = VersionedStore.listVersions(fs, p)
    assert(vs.size == 3)
    assert(vs.map(_.mtimeMs) == vs.map(_.mtimeMs).sorted)
    assert(vs.count(_.isDeleteMarker) == 1)
    assert(VersionedStore.deleteOldVersions(fs, p) == 3)
    assert(VersionedStore.listVersions(fs, p).isEmpty)
  }

  test("distributed rewrite keeps a version when DeleteOldVersions=false " +
    "and purges when true") {
    val d = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "x")
    val file = stageParquetFile(d)
    val table = TableDef("t", "", DataFormat.Parquet, d.schema)
    val groups = Finder.plan(DataMapper("m", "t", Seq("id")), table,
      Seq(DeletionQueueItem("q", MatchId.Simple("1"))))
    val fs = new HPath(file).getFileSystem(conf)

    val keep = DistributedRewrite.run(spark, "j", Seq(
      ObjectWorkUnit("j", file, "m", DataFormat.Parquet,
        deleteOldVersions = false)), groups)
    assert(keep.head.eventName == JobEventName.ObjectUpdated)
    assert(VersionedStore.listVersions(fs, new HPath(file)).size == 1)
    // the retained version still holds the PRE-rewrite rows
    assert(VersionedStore.rollback(fs, new HPath(file)))
    assert(spark.read.parquet(file).count() == 3)

    val purge = DistributedRewrite.run(spark, "j2", Seq(
      ObjectWorkUnit("j2", file, "m", DataFormat.Parquet,
        deleteOldVersions = true)), groups)
    assert(purge.head.eventName == JobEventName.ObjectUpdated)
    assert(VersionedStore.listVersions(fs, new HPath(file)).isEmpty)
    assert(spark.read.parquet(file).count() == 2)
  }

  test("scalar utils: iso->epoch, decimal json encode, masking, s3 url") {
    import graft.tools.Scalars
    import org.apache.spark.sql.functions.col
    val got = Seq("2023-01-02T03:04:05Z", "2023-01-02 03:04:05+00:00",
      "not a date")
      .toDF("s").select(Scalars.isoToEpoch(col("s")))
      .as[Option[Long]].collect().toSeq
    assert(got == Seq(Some(1672628645L), Some(1672628645L), None))

    // seconds-bearing offsets — CPython %z accepts ±HH:MM:SS/±HHMMSS
    // (Lib/_strptime.py), so the offset gate must too; out-of-range
    // minutes (61) fail %z and must stay on the null branch
    val offs = Seq("2023-01-02T03:04:05+05:30:15",
      "2023-01-02T03:04:05+053015", "2023-01-02T03:04:05+05:61")
      .toDF("s").select(Scalars.isoToEpoch(col("s")))
      .as[Option[Long]].collect().toSeq
    assert(offs == Seq(Some(1672628645L - 19815L),
      Some(1672628645L - 19815L), None))

    val enc = Seq(BigDecimal("2.5"), BigDecimal("3.5"), BigDecimal("2.4"))
      .toDF("d").select(Scalars.decimalJsonEncode(col("d")))
      .as[Long].collect().toSeq
    assert(enc == Seq(2L, 4L, 2L)) // banker's rounding, like Python round()

    val table = TableDef("t", "", DataFormat.Parquet,
      Seq((1L, "x")).toDF("id", "x").schema)
    val groups = Finder.plan(DataMapper("m", "t", Seq("id")), table,
      Seq(DeletionQueueItem("q", MatchId.Simple("12345"))))
    assert(Scalars.maskMatchIds("failed on 12345 twice: 12345", groups) ==
      "failed on *** MATCH ID *** twice: *** MATCH ID ***")

    assert(Scalars.parseS3Url("s3://bucket/a/b.parquet") ==
      ("bucket", "a/b.parquet"))
    intercept[IllegalArgumentException](Scalars.parseS3Url("http://x"))
    assert(Scalars.desiredTasks(300, 100) == 100)
  }

  test("manifest audit sink writes (job_id, data_mapper_id) partitions") {
    val d = Seq((1L, "a")).toDF("id", "x")
    val table = TableDef("t", "", DataFormat.Parquet, d.schema)
    val groups = Finder.plan(DataMapper("m", "t", Seq("id")), table,
      Seq(DeletionQueueItem("q1", MatchId.Simple("1")),
        DeletionQueueItem("q2", MatchId.Simple("2"))))
    val dir = Files.createTempDirectory("graft-audit-").toString
    Finder.writeManifestAudit(spark, "jobX", "m",
      Finder.typedGroups(spark, groups), dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    assert(back.select("job_id").distinct().as[String].collect().toSeq ==
      Seq("jobX"))
    assert(Files.exists(java.nio.file.Paths.get(
      s"$dir/job_id=jobX/data_mapper_id=m")))
  }
}
