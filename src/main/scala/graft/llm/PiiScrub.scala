package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII detection and redaction over free-text columns — the
  * find-and-forget pair extended to UNSTRUCTURED data: the core engine
  * locates and erases rows whose identifier columns match a deletion
  * queue (reference: the Find query generator + the forget-phase row
  * filter, `backend/lambdas/tasks/generate_queries.py` /
  * `backend/ecs_tasks/delete_files/`), and a training-data pipeline
  * needs the same two phases inside the text payload itself: FIND where
  * identifiers occur in prose ([[findings]] — the audit-manifest
  * analog) and FORGET them in place ([[scrub]] — the rewrite analog,
  * content-preserving except for the redacted spans).
  *
  * Every detector is a plain regular expression evaluated by Spark's
  * codegen'd `regexp_extract_all`/`regexp_replace` — pure map-side, no
  * UDF, no shuffle; the whole family fuses into one WholeStageCodegen
  * span over the scan (the [[TextStats]] contract). The patterns use
  * only syntax with identical semantics in Java regex and RE2-style
  * engines (character classes, bounded repetition, `\b`, non-capturing
  * groups — no backreferences or lookaround), so a SQL engine replays
  * them verbatim for the oracle.
  *
  * Detector order is FIXED and overlap-aware: SSN before US-phone
  * (both are digit triplets with separators; an SSN must not be
  * half-eaten as a phone), email before IPv4 (a dotted-quad inside a
  * hostname belongs to the email match). [[scrub]] applies them in
  * that order to a single flowing value; [[counts]] evaluates each
  * pattern against the ORIGINAL text independently.
  */
object PiiScrub {

  /** (kind, pattern, replacement) in application order.
    *
    * Every quantifier is BOUNDED (pinned by PiiScrubSpec's
    * pathological-input cases): an unbounded `[class]+@` email
    * detector is the textbook backtracking bomb — on a 200k-char run
    * of email-charset bytes with no `@` (a base64 blob, minified JS:
    * the 100 TB reality), Java's engine re-scans the `+` from every
    * start position,
    * measured at 403 s for ONE value vs 0.23 s bounded (1,750×).
    * The bounds are the RFC 5321 limits (local part ≤ 64, domain
    * ≤ 253, label ≤ 63), so no real email's match changes — an
    * over-long "local part" now matches only its trailing 64 chars,
    * which was never a deliverable address. Bounded repetition keeps
    * the RE2-replayability contract (the oracle embeds these exact
    * strings), and the digit-class detectors below were measured
    * safe (their quantifiers were always bounded). */
  val Detectors: Seq[(String, String, String)] = Seq(
    ("email",
      "[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,253}\\.[A-Za-z]{2,63}",
      "[EMAIL]"),
    ("ssn",
      "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",
      "[SSN]"),
    // no leading \b: "(" after a space is non-word/non-word (no
    // boundary there) — the digit alternative carries its own \b so a
    // longer digit run can't match mid-number
    ("phone",
      "(?:\\+?1[-. ])?(?:\\([0-9]{3}\\)[-. ]?|\\b[0-9]{3}[-.])[0-9]{3}[-.][0-9]{4}\\b",
      "[PHONE]"),
    ("ipv4",
      "\\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\\.){3}" +
        "(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\\b",
      "[IP]"))

  private def kinds: Seq[String] = Detectors.map(_._1)

  /** Per-kind match count over the original text (one column per
    * detector, named `n_<kind>`). sizeOrNull: a null text counts
    * NULL under every config — legacy `size(NULL)` would read −1. */
  def countColumns(text: Column): Seq[Column] =
    Detectors.map { case (kind, pat, _) =>
      TextStats.sizeOrNull(regexp_extract_all(text, lit(pat), lit(0)))
        .as(s"n_$kind")
    }

  /** Redacted text: every detector span replaced by its `[KIND]` tag,
    * detectors applied in [[Detectors]] order. Idempotent — no
    * replacement tag matches any detector. */
  def scrub(text: Column): Column =
    Detectors.foldLeft(text) { case (acc, (_, pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** The forget phase for text: `df` with `textCol` redacted in place
    * plus per-kind counts and `n_pii` total (the per-object deletion
    * stats analog — what a job log needs to prove work happened). */
  def scrubDocs(df: DataFrame, textCol: String): DataFrame = {
    val withCounts = df.select(
      (df.columns.map(col).toSeq ++ countColumns(col(textCol))): _*)
    val total = kinds.map(k => col(s"n_$k")).reduce(_ + _)
    withCounts
      .withColumn(textCol, scrub(col(textCol)))
      .withColumn("n_pii", total)
  }

  /** The find phase for text: one row per PII occurrence —
    * (<idCol>, kind, value) — the audit-manifest shape (which document,
    * which identifier class, which literal value) that feeds a deletion
    * queue or a compliance report. Map-side explode; rows ∝ matches,
    * never ∝ documents. */
  def findings(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perKind = Detectors.map { case (kind, pat, _) =>
      df.select(col(idCol), lit(kind).as("kind"),
        explode(regexp_extract_all(col(textCol), lit(pat), lit(0)))
          .as("value"))
    }
    perKind.reduce(_ unionAll _)
  }
}
