package graft.llm

import graft.SparkSpec
import graft.model._
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** PII-driven forget: find objects holding PII, scrub them in place
  * through the shared distributed rewrite job — row counts preserved,
  * untouched rows/lines byte-identical, task path == Column path. */
class PiiForgetSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (1L, "reach me at jane@corp.example.com today"),
    (2L, "a perfectly clean document body"),
    (3L, "ssn 123-45-6789 and host 10.1.2.3"),
    (4L, "call (555) 123-4567 maybe"))

  test("parquet scrub: PII objects found, redacted in place via the " +
    "distributed job; row count preserved; clean object untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pii-")
    // two objects: one with PII rows, one fully clean
    rows.filter(r => r._1 != 2L).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/a")
    rows.filter(r => r._1 == 2L).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/b")
    val lake = spark.read.parquet(s"$dir/a", s"$dir/b")

    val found = PiiForget.findObjects(lake, "text")
    assert(found.size == 1 && found.head.contains("/a/"),
      s"find must select only the PII object, got $found")

    val units = found.map(p =>
      ObjectWorkUnit("pii-job", p, "pii", DataFormat.Parquet, false))
    val events = PiiForget.scrubObjects(spark, "pii-job", units,
      Seq("text"))
    assert(events.map(_.eventName) == Seq(JobEventName.ObjectUpdated))
    assert(events.head.statsProcessed == 3 && events.head.statsDeleted == 3)

    val after = spark.read.parquet(s"$dir/a", s"$dir/b")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(after.map(_._1) == Seq(1L, 2L, 3L, 4L), "rows must survive")
    assert(after(0)._2 == "reach me at [EMAIL] today")
    assert(after(1)._2 == "a perfectly clean document body")
    assert(after(2)._2 == "ssn [SSN] and host [IP]")
    assert(after(3)._2 == "call [PHONE] maybe")

    // differential: the task-side java.util.regex path must equal the
    // Column path over the same inputs
    val sparkSide = rows.toDF("doc_id", "text")
      .select(col("doc_id"), PiiScrub.scrub(col("text")).as("text"))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(after == sparkSide, "task redactor != Column redactor")

    // a prior version of the scrubbed object exists (commit protocol)
    val versions = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$dir/a")).iterator()
    var sawVersionDir = false
    while (versions.hasNext) {
      if (versions.next().getFileName.toString.startsWith(".graft-versions"))
        sawVersionDir = true
    }
    assert(sawVersionDir, "versioned commit must retain the prior copy")
  }

  test("nested parquet text path is scrubbed; sibling fields bit-exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pii-")
    Seq((1L, "mail root@a.example.net now", 3.5),
      (2L, "nothing here", 4.5))
      .toDF("id", "t", "score")
      .select(col("id"), struct(col("t").as("text"),
        col("score")).as("meta"))
      .coalesce(1).write.parquet(s"$dir/n")
    val path = firstFile(s"$dir/n", ".parquet")
    // the clean row makes this a mixed object: one changed row suffices
    val events = PiiForget.scrubObjects(spark, "pii-n",
      Seq(ObjectWorkUnit("pii-n", path, "pii", DataFormat.Parquet, false)),
      Seq("meta", "text"))
    assert(events.head.eventName == JobEventName.ObjectUpdated)
    assert(events.head.statsProcessed == 2 && events.head.statsDeleted == 1)
    val after = spark.read.parquet(s"$dir/n")
      .select(col("id"), col("meta.text"), col("meta.score"))
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(after == Seq((1L, "mail [EMAIL] now", 3.5),
      (2L, "nothing here", 4.5)))
  }

  test("json scrub: untouched lines pass through byte-identical, PII " +
    "lines re-serialize with the field redacted; gzip honored") {
    val lines = Seq(
      """{"doc_id": 1, "text": "email a.b@c.example.org here", "keep":  "x"}""",
      """{"doc_id": 2, "text": "clean body", "keep":  "y"}""",
      """{"DOC_ID": 3, "TEXT": "ip 10.9.8.7 listed", "keep":"z"}""")
    val path = stageTextFile(lines.mkString("\n") + "\n")
    val events = PiiForget.scrubObjects(spark, "pii-j",
      Seq(ObjectWorkUnit("pii-j", path, "pii", DataFormat.JsonLines, false)),
      Seq("text"))
    assert(events.head.eventName == JobEventName.ObjectUpdated)
    assert(events.head.statsProcessed == 3 && events.head.statsDeleted == 2)
    val after = new String(readFileBytes(path), "UTF-8").split("\n").toSeq
    // line 2 byte-identical (double space preserved — no re-serialize)
    assert(after(1) == lines(1))
    // redacted lines: field replaced, sibling fields intact, original
    // (case-insensitive) key names preserved
    assert(after(0).contains("[EMAIL]") && after(0).contains("\"keep\""))
    assert(!after(0).contains("a.b@c.example.org"))
    assert(after(2).contains("[IP]") && after(2).contains("\"TEXT\""))

    // gzip round-trip
    val gzPath = stageGzipFile(lines.mkString("\n") + "\n")
    val gzEvents = PiiForget.scrubObjects(spark, "pii-g",
      Seq(ObjectWorkUnit("pii-g", gzPath, "pii", DataFormat.JsonLines, false)),
      Seq("text"))
    assert(gzEvents.head.statsDeleted == 2)
    val gzAfter = readGzip(gzPath).split("\n").toSeq
    assert(gzAfter(1) == lines(1) && gzAfter(0).contains("[EMAIL]"))
  }

  test("a clean object fed to the scrub is the Find/rewrite " +
    "inconsistency hard error (zero-change), and the lake is untouched") {
    val path = stageParquetFile(
      Seq((1L, "no identifiers at all")).toDF("doc_id", "text"))
    val before = readFileBytes(path)
    val events = PiiForget.scrubObjects(spark, "pii-z",
      Seq(ObjectWorkUnit("pii-z", path, "pii", DataFormat.Parquet, false)),
      Seq("text"))
    assert(events.head.eventName == JobEventName.ObjectUpdateFailed)
    assert(events.head.error.contains("changed 0 rows"), events.head.error)
    assert(readFileBytes(path).sameElements(before), "object must be intact")
  }

  test("scrubTable composes find + forget over a mixed-object lake") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pii-")
    rows.toDF("doc_id", "text").repartition(2)
      .write.parquet(s"$dir/t")
    val lake = spark.read.parquet(s"$dir/t")
    val events = PiiForget.scrubTable(spark, "pii-t", lake, "text")
    assert(events.forall(_.eventName == JobEventName.ObjectUpdated),
      events.map(e => (e.eventName, e.error)).mkString(","))
    val after = spark.read.parquet(s"$dir/t")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(after.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(after.forall(r => !PiiScrub.Detectors.exists { case (_, p, _) =>
      java.util.regex.Pattern.compile(p).matcher(r._2).find()
    }), s"residual PII: $after")
  }

  test("scrubTable leaves no detected PII in any file under the table, " +
    "version store included") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pii-")
    // uncompressed parquet and plain JSON lines, so a surviving copy of
    // a PII value shows in the file bytes
    rows.toDF("doc_id", "text").repartition(2).write
      .option("compression", "none").parquet(s"$dir/p")
    rows.toDF("doc_id", "text").repartition(2).write
      .option("compression", "none").json(s"$dir/j")
    val pEvents = PiiForget.scrubTable(spark, "pii-purge-p",
      spark.read.parquet(s"$dir/p"), "text")
    val jEvents = PiiForget.scrubTable(spark, "pii-purge-j",
      spark.read.json(s"$dir/j"), "text", DataFormat.JsonLines)
    val events = pEvents ++ jEvents
    assert(events.size >= 2 &&
      events.forall(_.eventName == JobEventName.ObjectUpdated),
      events.map(e => (e.eventName, e.error)).mkString(","))
    val files = java.nio.file.Files.walk(dir).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toList
    val leaks = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      PiiScrub.Detectors.collect { case (kind, p, _)
        if java.util.regex.Pattern.compile(p).matcher(text).find() =>
        s"${dir.relativize(f)}: $kind"
      }
    }
    assert(leaks.isEmpty, s"PII left on disk:\n${leaks.mkString("\n")}")
  }

  test("scrubTable takes a DOTTED nested column: the Find dot-path and " +
    "the task-side scrub path resolve the same leaf") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pii-")
    Seq((1L, "call 555-867-5309 today", 1.5), (2L, "clean", 2.5))
      .toDF("id", "t", "score")
      .select(col("id"), struct(col("t").as("text"),
        col("score")).as("meta"))
      .coalesce(1).write.parquet(s"$dir/nt")
    val lake = spark.read.parquet(s"$dir/nt")
    // before the split fix this was the zero-change hard error: Find
    // matched via col("meta.text") but the scrub looked for a TOP-LEVEL
    // column literally named "meta.text"
    val events = PiiForget.scrubTable(spark, "pii-nt", lake, "meta.text")
    assert(events.nonEmpty &&
      events.forall(_.eventName == JobEventName.ObjectUpdated),
      events.map(e => (e.eventName, e.error)).mkString(","))
    val after = spark.read.parquet(s"$dir/nt")
      .select(col("id"), col("meta.text"), col("meta.score"))
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(after == Seq((1L, "call [PHONE] today", 1.5),
      (2L, "clean", 2.5)))
  }
  /** A JSON-lines object in its own directory, so the directory listing
    * shows exactly what the rewrite left beside it. */
  private def ownDirTextFile(content: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pii-j-")
    val p = dir.resolve("part-0.json")
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p
  }

  private def stagingLeft(dir: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".graft-staging-")).toList
    finally s.close()
  }

  test("json scrub: a malformed line fails the object, the error names " +
    "the line, the source is untouched and no staging file is left") {
    val content =
      """{"doc_id": 1, "text": "mail a@b.example.com"}""" + "\n" +
        "not-json{{{\n" +
        """{"doc_id": 3, "text": "ip 10.1.2.3"}""" + "\n"
    val p = ownDirTextFile(content)
    val events = PiiForget.scrubObjects(spark, "pii-bad",
      Seq(ObjectWorkUnit("pii-bad", p.toString, "pii",
        DataFormat.JsonLines, false)), Seq("text"))
    assert(events.map(_.eventName) == Seq(JobEventName.ObjectUpdateFailed))
    assert(events.head.error.contains(
      "Serialization error when parsing JSON lines: line 2"),
      events.head.error)
    assert(new String(java.nio.file.Files.readAllBytes(p), "UTF-8") ==
      content, "source must be untouched")
    assert(stagingLeft(p.getParent).isEmpty)

    // the loop itself removes its partial output (no post-job sweep
    // involved): call the strategy on a staging path directly
    val staged = p.getParent.resolve(".graft-staging-direct")
    val conf = spark.sparkContext.hadoopConfiguration
    val e = intercept[IllegalArgumentException](
      new PiiForget.ScrubRewrite(Seq("text")).json(conf,
        new org.apache.hadoop.fs.Path(p.toString),
        new org.apache.hadoop.fs.Path(staged.toString)))
    assert(e.getMessage.contains("line 2"), e.getMessage)
    assert(!java.nio.file.Files.exists(staged), "partial staging left")
  }

  test("json scrub: a last line without a trailing newline is scrubbed " +
    "and counted") {
    val first = """{"doc_id": 1, "text": "clean body"}"""
    val last = """{"doc_id": 2, "text": "mail x.y@z.example.org now"}"""
    val p = ownDirTextFile(first + "\n" + last)
    val events = PiiForget.scrubObjects(spark, "pii-nl",
      Seq(ObjectWorkUnit("pii-nl", p.toString, "pii",
        DataFormat.JsonLines, false)), Seq("text"))
    assert(events.map(_.eventName) == Seq(JobEventName.ObjectUpdated))
    assert((events.head.statsProcessed, events.head.statsDeleted) == (2L, 1L))
    val after = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    assert(after.endsWith("\n") && after.count(_ == '\n') == 2, after)
    val lines = after.split("\n").toSeq
    assert(lines(0) == first, "untouched line must stay byte-identical")
    assert(lines(1).contains("[EMAIL]") &&
      !lines(1).contains("x.y@z.example.org"), lines(1))
  }

  test("parquet scrub: a multi-row-group object is scrubbed in every row " +
    "group and keeps its source codec") {
    val n = 2000L
    val d = (1L to n).map(i => (i,
      if (i % 2 == 0) s"mail u$i@corp.example.com now" else s"clean body $i"))
      .toDF("doc_id", "text")
    val path = stageParquetFile(d,
      Map("parquet.block.size" -> "4096", "compression" -> "gzip"))
    val conf = spark.sparkContext.hadoopConfiguration
    def footer() = graft.forget.DistributedRewrite.readFooter(conf,
      new org.apache.hadoop.fs.Path(path))
    val blocks = footer().getBlocks.asScala.toSeq
    assert(blocks.size > 1, s"fixture should span row groups, got ${blocks.size}")
    // every row group holds both PII rows and clean rows
    assert(blocks.forall(_.getRowCount >= 2), blocks.map(_.getRowCount))
    val srcCodec = blocks.head.getColumns.get(0).getCodec
    assert(srcCodec.name == "GZIP")

    val events = PiiForget.scrubObjects(spark, "pii-rg",
      Seq(ObjectWorkUnit("pii-rg", path, "pii", DataFormat.Parquet, false)),
      Seq("text"))
    assert(events.map(_.eventName) == Seq(JobEventName.ObjectUpdated),
      events.map(_.error))
    assert((events.head.statsProcessed, events.head.statsDeleted) ==
      (n, n / 2))
    val after = spark.read.parquet(path).orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(after.map(_._1) == (1L to n))
    after.foreach { case (i, t) =>
      assert(t == (if (i % 2 == 0) "mail [EMAIL] now" else s"clean body $i"),
        s"row $i: $t")
    }
    assert(footer().getBlocks.asScala.forall(
      _.getColumns.asScala.forall(_.getCodec == srcCodec)),
      "rewritten object must keep the source codec")
  }
}
