package graft

import org.apache.spark.sql.types._

/** Gate-output lint — mechanizes the q51/q69/q70/q72 bug class so it
  * fails in `sbt test` instead of in the driver's round report.
  *
  * The driver's correctness comparator (pandas sort_values + value
  * hash over DuckDB-vs-Spark outputs) grants NO type latitude:
  *
  *   - a DOUBLE column hashes differently the moment the two engines'
  *     constant folding differs by one ulp (q70 r11);
  *   - DuckDB widens `sum(BIGINT)` to HUGEINT → decimal128 arrives
  *     where Spark sent int64 (q51 r10, q69/q70 r11);
  *   - an ARRAY cell crashes pandas sort_values outright
  *     ("unhashable type: numpy.ndarray", q72 r11).
  *
  * So: every [[SparkEntry.entries]] output column must be a scalar
  * hash-safe type (string / integral / boolean / date / timestamp),
  * and every `sum(` in an oracle must sit directly inside a `CAST`.
  * Exceptions require an explicit allow-list entry carrying the
  * reason they are safe.
  */
object GateLint {

  /** (query, column) pairs allowed to carry a non-hash-safe type,
    * each with the reason. Entries require PROOF: driver-green across
    * a full round (all of these are green in CORRECTNESS_r11 — the
    * doubles below hash identically because both engines fold the
    * SAME parquet doubles through the same IEEE ops; new rows must
    * integer-scale instead, the q70 micro-units move). */
  val allowedColumns: Map[(String, String), String] = {
    val greenR11 = "driver-green in CORRECTNESS_r11 (identical IEEE " +
      "folds of the same parquet doubles on both sides)"
    Seq(
      ("q01_find_simple", "c_acctbal"),
      ("q02_find_composite", "c_acctbal"),
      ("q03_forget_anti", "c_acctbal"),
      ("q05_agg_stats", "sum_qty"), ("q05_agg_stats", "sum_base_price"),
      ("q05_agg_stats", "sum_disc_price"),
      ("q07_sort_limit", "o_totalprice"),
      ("q09_join_star", "revenue"),
      ("q12_events_stats", "sum_value"),
      ("q18_find_dup", "c_acctbal"),
      ("q19_find_decimal", "c_acctbal_dbl"),
      ("q21_partition_prune", "c_acctbal"),
      ("q24_near_dedup", "jaccard"),
      ("q25_text_quality", "distinct_ratio"),
      ("q25_text_quality", "stopword_ratio"),
      ("q25_text_quality", "quality"),
      ("q27_json_scan", "c_acctbal_dbl"),
      ("q28_cos_pairs", "cosine"),
      ("q29_jaccard_exact", "jaccard"),
      ("q34_decontaminate", "jaccard"),
      ("q35_emb_decontaminate", "cosine"),
      ("q36_corpus_stats", "min_quality"), ("q36_corpus_stats", "max_quality"),
      ("q41_common_ratio", "common_ratio"),
      ("q44_repetition", "dup_frac"), ("q44_repetition", "top_frac"),
      ("q45_quantize", "scale"),
      ("q50_ann_recall", "recall")
    ).map(_ -> greenR11).toMap
  }

  /** Oracles allowed to carry a bare `sum(` — ONLY when the sum is
    * provably internal (consumed by a comparison, never an output
    * column), with the site named. */
  val allowedOracles: Map[String, String] = Map(
    "q20_jobs_fold" -> ("window SUM feeds the `errs > 0` comparison " +
      "inside a CASE; no sum reaches an output column (driver-green)"),
    "q48_simhash_join" -> ("per-bit vote SUMs sit inside `> 0` CASEs " +
      "and the HAVING bound; the output `hamming` is CAST AS INT " +
      "(driver-green)")
  )

  def schemaViolations(name: String, schema: StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case f if !hashSafe(f.dataType) &&
          !allowedColumns.contains((name, f.name)) =>
        s"$name.${f.name}: ${f.dataType.simpleString} " +
          "(float/decimal/nested types don't survive the driver comparator)"
    }

  private def hashSafe(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | DateType | TimestampType => true
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Oracle-SQL lint: each `sum(` (incl. `list_sum(`) must be the
    * DIRECT argument of a `CAST(...)` (whitespace and `COALESCE(`
    * wrappers allowed in between). A mere "cast( appears nearby"
    * window would false-negative on `CAST(a AS INT), sum(b)` — an
    * unrelated cast masking exactly the q69-class HUGEINT hazard. */
  def oracleViolations(name: String, sql: String): Seq[String] =
    if (allowedOracles.contains(name)) Seq.empty
    else {
      // Locale.ROOT: SQL keyword matching, not linguistic case
      // ("DISTINCT" lowercases to "dıstınct" on a tr-TR JVM)
      val lower = sql.toLowerCase(java.util.Locale.ROOT)
      // match on the LOWERED string so offsets index the same string
      // castEncloses slices — lowercasing can change length for
      // non-ASCII input ('İ' lowers to a 2-char sequence), which would
      // shift offsets and misclassify later sum( sites
      "(?i)[a-z_]*sum\\(".r.findAllMatchIn(lower).toSeq.collect {
        case m if !castEncloses(lower, m.start) =>
          s"$name: bare `${m.matched}` at offset ${m.start} — DuckDB " +
            "widens sum to HUGEINT/decimal128; wrap in CAST(... AS BIGINT)"
      }
    }

  /** True iff the text just before `sumStart` is `cast(` possibly
    * followed by `coalesce(` wrappers — i.e. the sum call really is
    * enclosed by the cast, not merely near one. */
  private def castEncloses(lowerSql: String, sumStart: Int): Boolean =
    java.util.regex.Pattern
      .compile("(?s).*cast\\(\\s*(?:coalesce\\(\\s*)*$")
      .matcher(lowerSql.substring(0, sumStart))
      .matches()
}
