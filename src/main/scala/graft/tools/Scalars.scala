package graft.tools

import graft.find.Finder.GroupMatches
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar utilities mirroring the reference's shared helpers
  * (SURVEY.md §2.8 F6-F8, F11-F12). */
object Scalars {

  /** F6 — ISO-8601 → epoch seconds (boto_utils.py:182-189: space and 'T'
    * separators both accepted, fractional seconds optional, rounded to
    * whole seconds); non-timestamp strings pass through as null.
    *
    * An explicit zone offset is REQUIRED, exactly like the reference:
    * its strptime format ends in `%z`, so a NAIVE string raises
    * ValueError and falls through to the passthrough branch. Mirroring
    * that gate is also what makes this
    * scalar session-timezone independent by construction — the
    * previous form handed a naive string to `try_to_timestamp`, which
    * interprets it in `spark.sql.session.timeZone`: the same input
    * row would encode a DIFFERENT epoch on a non-UTC cluster (and a
    * date-only string, which the reference rejects, parsed to the
    * session zone's midnight). */
  def isoToEpoch(c: Column): Column = {
    val norm = regexp_replace(trim(c), " ", "T")
    // Offset shape = CPython's %z capture (Lib/_strptime.py):
    // `[+-]\d\d:?[0-5]\d(:?[0-5]\d)?` or literal Z — seconds-bearing
    // offsets (+05:30:15 / +053015) are accepted, minutes/seconds are
    // bounded to 00-59, and each colon is independently optional
    // (Python accepts the mixed +0530:15 too). Python additionally
    // allows fractional offset seconds (.ffffff); those stay on the
    // null-passthrough branch here — no real timezone has ever carried
    // a sub-second offset.
    val withOffset = when(
      norm.rlike("(?:Z|[+-][0-9]{2}:?[0-5][0-9](?::?[0-5][0-9])?)$"), norm)
    round(unix_micros(try_to_timestamp(withOffset))
      .cast("double") / 1e6).cast("long")
  }

  /** F6 — recursive date normalization over a parsed JSON-ish column is
    * the caller's map; this is the scalar kernel. */

  /** F8 — DynamoDB Decimal JSON encode: decimals round to whole numbers
    * with HALF-EVEN (boto_utils.py:171-175 `round(o)` — Python 3 banker's
    * rounding; Spark's `bround` is the same mode). */
  def decimalJsonEncode(c: Column): Column = bround(c, 0).cast("long")

  /** F11 — mask every match id in an error message
    * (events.py:50-69 sanitize_message). Driver-side string op: error
    * strings are small and already collected. */
  def maskMatchIds(message: String, groups: Seq[GroupMatches]): String = {
    val ids = groups.flatMap(_.rows.flatMap(_._2)).filter(_ != null)
    ids.foldLeft(message)((m, id) => m.replace(id, "*** MATCH ID ***"))
  }

  /** F12 — parse an s3:// URL into (bucket, key)
    * (boto_utils.py:208-211). */
  def parseS3Url(url: String): (String, String) = {
    require(url.startsWith("s3://"), s"Invalid S3 URL: $url")
    val rest = url.stripPrefix("s3://")
    rest.split("/", 2) match {
      case Array(b, k) => (b, k)
      case Array(b) => (b, "")
    }
  }

  /** F13 — fleet scaling: `min(queueSize, maxTasks)`
    * (orchestrate_ecs_service_scaling.py:18). */
  def desiredTasks(queueSize: Long, maxTasks: Long): Long =
    math.min(queueSize, maxTasks)
}
