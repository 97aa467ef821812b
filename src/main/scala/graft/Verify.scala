package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only; the driver passes two):
    // comma-separated name substrings — run just the matching queries
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.tools.Session(defaultCpus = 4)
    // gate-only: let q29/q31/q53 share one materialization of the
    // jaccard-pairs/cluster pipeline (Bench never sets this, so its
    // per-query timings keep their standalone definition)
    System.setProperty("graft.gate.shareFrames", "1")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // non-fatal here (GateLintSpec is the hard gate) — but loud,
        // so a violating row is visible in the driver log too
        GateLint.schemaViolations(name, df.schema)
          .foreach(v => System.err.println(s"[verify][lint] $v"))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // targeted release of operator-internal caches (q29 prefix index)
      graft.llm.Dedup.releaseCaches()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // data-generated oracles (q54 BPE replay) merge in after the static
    // map; a generation failure downgrades those rows to the driver's
    // rows-only check instead of zeroing the whole round
    val dynamic =
      try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracle failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    val oracles = SparkEntry.oracleSql ++ dynamic
    oracles.foreach { case (k, v) =>
      GateLint.oracleViolations(k, v)
        .foreach(w => System.err.println(s"[verify][lint] $w"))
    }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
