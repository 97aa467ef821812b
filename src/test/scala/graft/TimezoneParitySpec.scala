package graft

/** Session-timezone parity sweep (★r19 — the ninth proactive
  * robustness class, the ANSI-parity move applied to
  * `spark.sql.session.timeZone`). The reference pins UTC everywhere
  * (its timestamps are epoch seconds or ISO strings handled by
  * UTC-fixed lambdas), but a 100 TB Spark cluster does NOT always run
  * with a UTC session timezone — and the session zone silently
  * changes the semantics of string→timestamp parsing
  * (`try_to_timestamp`, `cast(string as timestamp)`), `date_trunc`,
  * `window()` day alignment, and timestamp→string formatting. The
  * driver's DuckDB gate runs in a UTC container, so a session-zone
  * dependence is exactly the class of bug the gate can NEVER catch:
  * every query would stay hash-green here and silently produce
  * different results on a PST or IST production cluster.
  *
  * Contract: every gate query returns BIT-IDENTICAL results under
  * `UTC` and `Asia/Kolkata` (+05:30 — no DST, not whole-hour, so any
  * zone leakage shifts values by a half-hour that rounding can't
  * hide), and loud failures (if any) are identical on both sides.
  * Rows are compared as collected values — `java.sql.Timestamp`
  * holds internal epoch millis, so a parse that consulted the
  * session zone produces a DIFFERENT instant, never just a different
  * rendering.
  */
class TimezoneParitySpec extends SparkSpec with SweepHarness {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Either the canonical rows or the loud failure's class+message —
    * parity demands the ENTIRE outcome match, including failures. */
  private def outcome(fn: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame, dir: String): Either[String, Seq[String]] =
    try Right(canon(fn(spark, dir)))
    catch { case e: Throwable =>
      val rc = rootCause(e)
      Left(s"${rc.getClass.getName}: " +
        Option(rc.getMessage).getOrElse("").take(200))
    }

  /** Clone of sf0.001 with DISCRIMINATING rows planted: two lineitem
    * rows shipped at EXACTLY 1998-09-02T00:00:00Z — the q05 boundary
    * instant. The plain corpus passed this sweep by luck (no row in
    * the 5.5-hour window a session-zone-parsed boundary shifts by),
    * which is precisely how a timezone leak survives a green gate:
    * the probe rows make the q05 class fail loudly instead. Parquet
    * timestamps are INSTANTS, so the planted rows themselves are
    * zone-independent by construction. */
  private lazy val plantedDir: String = {
    val boundary = java.sql.Timestamp.from(
      java.time.Instant.parse("1998-09-02T00:00:00Z"))
    cloneCorpus("tzparity") {
      case ("lineitem", base) =>
        base.union(base.limit(2).withColumn("l_shipdate",
          org.apache.spark.sql.functions.lit(boundary)))
      case (_, base) => base
    }
  }

  test("every gate query is session-timezone independent: identical " +
    "results (and identical failures) under UTC and Asia/Kolkata, on " +
    "a corpus with boundary-instant probe rows planted", Sweeps) {
    val dir = plantedDir
    val orig = spark.conf.get("spark.sql.session.timeZone")
    val mismatched = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      SparkEntry.selected(Nil).foreach { e =>
        val name = e.name
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        val utc = outcome(e.run, dir)
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        val ist = outcome(e.run, dir)
        if (utc != ist) {
          val detail = (utc, ist) match {
            case (Right(a), Right(b)) =>
              val diff = (a.diff(b) ++ b.diff(a)).take(3)
              s"rows differ (${a.size} vs ${b.size}); e.g. " +
                diff.mkString(" | ").take(300)
            case (a, b) =>
              s"outcome classes differ: ${a.left.toOption.getOrElse("rows")}" +
                s" vs ${b.left.toOption.getOrElse("rows")}"
          }
          mismatched += s"$name: $detail"
        }
      }
    } finally spark.conf.set("spark.sql.session.timeZone", orig)
    assert(mismatched.isEmpty,
      s"\n${mismatched.size} gate queries depend on the session " +
        s"timezone (invisible to the UTC-container gate, wrong on any " +
        s"non-UTC cluster):\n${mismatched.mkString("\n")}")
  }
}
