package graft.llm

import com.fasterxml.jackson.databind.JsonNode
import graft.find.Finder
import graft.forget.{DistributedRewrite, JsonMatch, PayloadCodec}
import graft.forget.DistributedRewrite.{Disposition, Keep, Replace}
import graft.model._
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PII-driven forget: [[PiiScrub]] composed onto the engine's
  * distributed rewrite machinery, exactly as [[DedupForget]] composes
  * dedup onto deletion jobs. The two phases mirror the core engine:
  *
  *   - FIND ([[findObjects]]): one column-pruned, map-only scan over
  *     the table; objects whose text column matches ANY detector become
  *     the work list — [[graft.find.Finder.objectPaths]], the same
  *     query shape as the deletion Find, with repeats removed on the
  *     driver (the object list is bounded and driver-safe, the same
  *     collect the reference's driver performs on Athena results).
  *   - FORGET ([[scrubObjects]]): ONE Spark job, k objects per task,
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
  * The scrub is a [[DistributedRewrite.RecordRewrite]]: it runs the
  * SAME parquet and JSON-lines loops the deletion path runs (one
  * footer read per object, gzip by extension, line framing, parse-error
  * wording) and supplies only each record's disposition:
  *   - parquet: a record whose (dot-path-resolved, case-insensitive)
  *     string leaf holds PII is replaced by a deep copy with that leaf
  *     scrubbed, every other field copied bit-exact; any other record
  *     is kept, uncopied (the leaf is redacted before anything is
  *     copied). Schema and codec are the loop's: preserved.
  *   - JSON-lines (+gzip): a line whose text field (resolved by
  *     [[JsonMatch.resolve]]) holds PII is replaced by the parsed node
  *     with that field redacted, re-serialized by jackson; every other
  *     line is kept as its RAW BYTES (byte-identical, the S10
  *     contract).
  */
object PiiForget {

  /** Column predicate: text contains at least one detector match. */
  def anyPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PiiScrub.Detectors.map { case (_, pat, _) => text.rlike(pat) }
      .reduce(_ || _)

  /** The Find phase: distinct object paths whose `textCol` holds PII.
    * Catalyst prunes the scan to the text column; the one map-only job
    * may return a path once per scan partition, so repeats are removed
    * here. The result is the bounded object list (scheme-stripped, ready
    * for [[ObjectWorkUnit]]s). */
  def findObjects(data: DataFrame, textCol: String): Seq[String] =
    Finder.objectPaths(data, anyPii(col(textCol)))
      .collect().map(DistributedRewrite.stripScheme).distinct.toSeq

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
    // purge the prior versions on commit, as the deletion path does by
    // default: the pre-redaction copy is the PII the scrub removes
    val units = paths.map(p =>
      ObjectWorkUnit(jobId, p, "pii", format, deleteOldVersions = true))
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

  private[llm] final class ScrubRewrite(textPath: Seq[String])
      extends DistributedRewrite.RecordRewrite {
    private val redactor = new Redactor

    def zeroChangeMessage(path: String): String =
      s"$path was found by the PII scan but the scrub changed 0 rows"

    /** A record is copied only when [[redacts]] finds a leaf the scrub
      * changes; every clean record is kept as it was read. */
    def records(schema: MessageType): Group => Disposition[Group] = g =>
      if (!redacts(g, schema, textPath)) Keep
      else {
        val out = new SimpleGroup(g.getType)
        copyScrubbed(g, out, g.getType, textPath)
        Replace(out)
      }

    /** Redact the string at `textPath` in place; the concrete key keeps
      * the line's own spelling of the field name. */
    def line(node: JsonNode): Disposition[JsonNode] =
      JsonMatch.resolve(node, textPath) match {
        case Some((o, key)) if o.get(key).isTextual =>
          val s0 = o.get(key).asText()
          val s1 = redactor(s0)
          if (s1 == s0) Keep else { o.put(key, s1); Replace(node) }
        case _ => Keep
      }

    /** True when a string leaf at `path` (case-insensitive per segment,
      * every field and repetition [[copyScrubbed]] would scrub) holds
      * text the redactor changes. Walks only the fields on the path. */
    private def redacts(g: Group, gt: GroupType, path: Seq[String]): Boolean = {
      var i = 0
      while (i < gt.getFieldCount) {
        val ft = gt.getType(i)
        if (ft.getName.equalsIgnoreCase(path.head)) {
          val reps = g.getFieldRepetitionCount(i)
          var j = 0
          while (j < reps) {
            if (path.length == 1) {
              if (isString(ft)) {
                val s = g.getString(i, j)
                if (redactor(s) != s) return true
              }
            } else if (!ft.isPrimitive &&
                       redacts(g.getGroup(i, j), ft.asGroupType(), path.tail))
              return true
            j += 1
          }
        }
        i += 1
      }
      false
    }

    private def isString(ft: org.apache.parquet.schema.Type): Boolean =
      ft.isPrimitive && (ft.asPrimitiveType().getPrimitiveTypeName match {
        case BINARY | FIXED_LEN_BYTE_ARRAY =>
          ft.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
        case _ => false
      })

    /** Deep copy `src` into `dst`, scrubbing the string leaf at `path`
      * (case-insensitive per segment). Fields not on the path are
      * copied verbatim. */
    private def copyScrubbed(src: Group, dst: Group, gt: GroupType,
                             path: Seq[String]): Unit = {
      var i = 0
      while (i < gt.getFieldCount) {
        val ft = gt.getType(i)
        val onPath =
          path.nonEmpty && ft.getName.equalsIgnoreCase(path.head)
        val reps = src.getFieldRepetitionCount(i)
        var j = 0
        while (j < reps) {
          if (ft.isPrimitive) {
            ft.asPrimitiveType().getPrimitiveTypeName match {
              case BINARY | FIXED_LEN_BYTE_ARRAY
                  if onPath && path.length == 1 && isString(ft) =>
                dst.add(i, redactor(src.getString(i, j)))
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
            copyScrubbed(src.getGroup(i, j), dst.addGroup(i),
              ft.asGroupType(), if (onPath) path.tail else Nil)
          }
          j += 1
        }
        i += 1
      }
    }
  }
}
