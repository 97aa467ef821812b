package graft.llm

import graft.forget.{DistributedRewrite, PayloadCodec}
import graft.model._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** PII-driven forget: [[PiiScrub]] composed onto the engine's
  * distributed rewrite machinery, exactly as [[DedupForget]] composes
  * dedup onto deletion jobs. The two phases mirror the core engine:
  *
  *   - FIND ([[findObjects]]): one column-pruned scan over the table;
  *     objects whose text column matches ANY detector become the work
  *     list — `input_file_name` distinct, the [[graft.find.Finder]] P2
  *     shape (the object list is bounded and driver-safe, the same
  *     collect the reference's driver performs on Athena results).
  *   - FORGET ([[scrubObjects]]): ONE Spark job, one task per object,
  *     through [[DistributedRewrite.runWith]] — staging, CSE envelope,
  *     versioned commit, idempotency markers, marker sweep and events
  *     are the SAME code the deletion path runs; only the record
  *     disposition differs: instead of dropping matched rows, the text
  *     leaf is redacted in place and every row survives. "Scrub PII
  *     from the lake" is thereby the same operation as "forget these
  *     users", with row-count preservation as its invariant (processed
  *     == written, changed = rows whose text was redacted; a Found
  *     object where nothing changed is the same Find/rewrite
  *     inconsistency hard error).
  *
  * Task-side redaction applies [[PiiScrub.Detectors]] with
  * `java.util.regex` — the IDENTICAL pattern strings the Column path
  * compiles, so a corpus scrubbed by either path converges
  * (differential-tested in PiiForgetSpec).
  *
  *   - parquet: records stream through parquet-mr as on the deletion
  *     path; each record is deep-copied with the (dot-path-resolved,
  *     case-insensitive) string leaf scrubbed — schema and codec
  *     preserved, every other field copied bit-exact.
  *   - JSON-lines (+gzip): lines whose resolved text field contains no
  *     PII pass through as RAW BYTES (byte-identical, the S10
  *     contract); a line with PII is parsed, its field replaced, and
  *     re-serialized by jackson.
  */
object PiiForget {

  /** Column predicate: text contains at least one detector match. */
  def anyPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PiiScrub.Detectors.map { case (_, pat, _) => text.rlike(pat) }
      .reduce(_ || _)

  /** The Find phase: distinct object paths whose `textCol` holds PII.
    * Catalyst prunes the scan to the text column; the result is the
    * bounded object list (scheme-stripped, ready for
    * [[ObjectWorkUnit]]s). */
  def findObjects(data: DataFrame, textCol: String): Seq[String] =
    data.filter(anyPii(col(textCol)))
      .select(input_file_name().as("_p")).distinct()
      .collect().map(r => DistributedRewrite.stripScheme(r.getString(0))).toSeq

  /** The Forget phase: scrub `textPath` (dot path, case-insensitive) in
    * every work unit through the shared distributed rewrite job.
    * Returns the job events; `statsProcessed` = rows streamed,
    * `statsDeleted` = rows REDACTED (every row survives — the scrub
    * analog of rows removed). */
  def scrubObjects(spark: SparkSession, jobId: String,
                   units: Seq[ObjectWorkUnit],
                   textPath: Seq[String],
                   codec: PayloadCodec = PayloadCodec.Identity): Seq[JobEvent] = {
    require(textPath.nonEmpty, "textPath must name the text column")
    DistributedRewrite.runWith(spark, jobId, units,
      new ScrubRewrite(textPath), codec = codec)
  }

  /** Find + Forget in one call for a single-directory table. `textCol`
    * takes the same dot-path semantics as [[findObjects]]'s
    * `col(textCol)` resolution: "meta.text" names the `text` field
    * inside the `meta` struct, so the task-side scrub path is the
    * split segments, never the dotted string as one segment. */
  def scrubTable(spark: SparkSession, jobId: String, data: DataFrame,
                 textCol: String, format: DataFormat = DataFormat.Parquet)
      : Seq[JobEvent] = {
    val paths = findObjects(data, textCol)
    val units = paths.map(p =>
      ObjectWorkUnit(jobId, p, "pii", format, deleteOldVersions = false))
    scrubObjects(spark, jobId, units, textCol.split("\\.").toSeq)
  }

  // ------------------------------------------------------------------
  // Task-side strategy
  // ------------------------------------------------------------------

  /** Compiled task-side redactor over [[PiiScrub.Detectors]]. */
  private[llm] final class Redactor extends Serializable {
    @transient private lazy val compiled =
      PiiScrub.Detectors.map { case (_, pat, repl) =>
        (java.util.regex.Pattern.compile(pat), repl)
      }
    def apply(s: String): String =
      compiled.foldLeft(s) { case (acc, (p, repl)) =>
        p.matcher(acc).replaceAll(repl)
      }
  }

  private final class ScrubRewrite(textPath: Seq[String])
      extends DistributedRewrite.TaskRewrite {
    private val redactor = new Redactor

    def zeroChangeMessage(path: String): String =
      s"$path was found by the PII scan but the scrub changed 0 rows"

    def parquet(conf: Configuration, src: HPath,
                staged: HPath): (Long, Long) = {
      // reader/writer endpoints via the shared local-FS fast path
      // (★r21 — see DistributedRewrite's fast-path note)
      val footer = DistributedRewrite.readFooter(conf, src)
      val schema = footer.getFileMetaData.getSchema
      val codec =
        if (footer.getBlocks.isEmpty ||
            footer.getBlocks.get(0).getColumns.isEmpty)
          CompressionCodecName.SNAPPY
        else footer.getBlocks.get(0).getColumns.get(0).getCodec
      var processed = 0L
      var changed = 0L
      val reader: ParquetReader[Group] =
        DistributedRewrite.groupReader(conf, src)
      try {
        val writer: ParquetWriter[Group] = DistributedRewrite
          .groupWriterBuilder(conf, staged)
          .withType(schema)
          .withCompressionCodec(codec)
          .build()
        try {
          var g = reader.read()
          while (g != null) {
            processed += 1
            val out = new SimpleGroup(schema)
            if (copyScrubbed(g, out, schema, textPath)) changed += 1
            writer.write(out)
            g = reader.read()
          }
        } finally writer.close()
        (processed, changed)
      } catch {
        case NonFatal(e) =>
          DistributedRewrite.deleteStaged(conf, staged)
          throw e
      } finally reader.close()
    }

    /** Deep copy `src` into `dst`, scrubbing the string leaf at `path`
      * (case-insensitive per segment). Returns true when a value
      * actually changed. Fields not on the path are copied verbatim. */
    private def copyScrubbed(src: Group, dst: Group, gt: GroupType,
                             path: Seq[String]): Boolean = {
      var changed = false
      var i = 0
      while (i < gt.getFieldCount) {
        val ft = gt.getType(i)
        val onPath =
          path.nonEmpty && ft.getName.equalsIgnoreCase(path.head)
        val reps = src.getFieldRepetitionCount(i)
        var j = 0
        while (j < reps) {
          if (ft.isPrimitive) {
            val pt = ft.asPrimitiveType()
            val isString = pt.getLogicalTypeAnnotation != null &&
              pt.getLogicalTypeAnnotation.isInstanceOf[
                LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            pt.getPrimitiveTypeName match {
              case BINARY | FIXED_LEN_BYTE_ARRAY
                  if onPath && path.length == 1 && isString =>
                val s = src.getString(i, j)
                val s2 = redactor(s)
                if (s2 != s) changed = true
                dst.add(i, s2)
              case BINARY | FIXED_LEN_BYTE_ARRAY =>
                dst.add(i, src.getBinary(i, j))
              case INT32   => dst.add(i, src.getInteger(i, j))
              case INT64   => dst.add(i, src.getLong(i, j))
              case INT96   => dst.add(i, src.getInt96(i, j))
              case FLOAT   => dst.add(i, src.getFloat(i, j))
              case DOUBLE  => dst.add(i, src.getDouble(i, j))
              case BOOLEAN => dst.add(i, src.getBoolean(i, j))
            }
          } else {
            val sub = dst.addGroup(i)
            if (copyScrubbed(src.getGroup(i, j), sub, ft.asGroupType(),
                if (onPath) path.tail else Nil)) changed = true
          }
          j += 1
        }
        i += 1
      }
      changed
    }

    def json(conf: Configuration, src: HPath,
             staged: HPath): (Long, Long) = {
      import java.util.zip.{GZIPInputStream, GZIPOutputStream}
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val gz = src.getName.endsWith(".gz")
      var processed = 0L
      var changed = 0L
      val in = {
        val raw = DistributedRewrite.byteSource(conf, src)
        if (gz) new GZIPInputStream(raw, 1 << 16) else raw
      }
      try {
        val outRaw = DistributedRewrite.byteSink(conf, staged)
        val out = if (gz) new GZIPOutputStream(outRaw, 1 << 16) else outRaw
        try {
          val buf = new Array[Byte](1 << 16)
          val line = new java.io.ByteArrayOutputStream(1 << 12)
          def flushLine(): Unit = {
            val bytes = line.toByteArray
            line.reset()
            processed += 1
            val s =
              new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            val node =
              try mapper.readTree(s)
              catch {
                case e: Exception =>
                  throw new IllegalArgumentException(
                    s"Serialization error when parsing JSON lines: " +
                      s"line $processed: ${e.getMessage}", e)
              }
            // resolve the CONTAINING object + concrete key
            // (case-insensitive) so the replacement lands on the
            // original field name
            var cur: com.fasterxml.jackson.databind.JsonNode = node
            var ok = true
            var k = 0
            var parent: com.fasterxml.jackson.databind.node.ObjectNode = null
            var key: String = null
            while (ok && k < textPath.length) {
              cur match {
                case o: com.fasterxml.jackson.databind.node.ObjectNode =>
                  val it = o.properties().iterator()
                  var found: String = null
                  while (found == null && it.hasNext) {
                    val e = it.next()
                    if (e.getKey.equalsIgnoreCase(textPath(k)))
                      found = e.getKey
                  }
                  if (found == null) ok = false
                  else {
                    parent = o; key = found; cur = o.get(found)
                    k += 1
                  }
                case _ => ok = false
              }
            }
            val redacted =
              if (ok && cur != null && cur.isTextual) {
                val s0 = cur.asText()
                val s1 = redactor(s0)
                if (s1 != s0) {
                  parent.put(key, s1)
                  true
                } else false
              } else false
            if (redacted) {
              changed += 1
              out.write(mapper.writeValueAsBytes(node))
              out.write('\n')
            } else {
              // byte-identical passthrough for untouched lines — the
              // S10 contract the deletion path also honors
              out.write(bytes)
              out.write('\n')
            }
          }
          var n = in.read(buf)
          while (n >= 0) {
            var start = 0
            var i = 0
            while (i < n) {
              if (buf(i) == '\n') {
                line.write(buf, start, i - start)
                flushLine()
                start = i + 1
              }
              i += 1
            }
            if (start < n) line.write(buf, start, n - start)
            n = in.read(buf)
          }
          if (line.size() > 0) flushLine()
        } finally out.close()
        (processed, changed)
      } catch {
        case NonFatal(e) =>
          DistributedRewrite.deleteStaged(conf, staged)
          throw e
      } finally in.close()
    }
  }
}
