package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each [[SparkEntry.entries]] output →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   runMain graft.Verify <sfDir> <outDir> [name,name,...]
  *
  * The optional third argument picks entries by exact name
  * ([[SparkEntry.only]]); the driver passes two. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val entries = SparkEntry.selected(args.drop(2).toSeq.flatMap(_.split(",")))
    val spark = graft.tools.Session(defaultCpus = 4)
    // gate-only: let q29/q31/q53 share one materialization of the
    // jaccard-pairs/cluster pipeline (Bench never sets this, so its
    // per-query timings keep their standalone definition)
    System.setProperty("graft.gate.shareFrames", "1")
    new java.io.File(outDir).mkdirs()
    // an oracle that fails to build leaves only its own entry to the
    // driver's rows-only check
    val oracles = entries.flatMap { e =>
      e.inGroup(spark) {
        try {
          val df = e.run(spark, sfDir)
          // non-fatal here (GateLintSpec is the hard gate) — but loud,
          // so a violating row is visible in the driver log too
          GateLint.schemaViolations(e.name, df.schema)
            .foreach(v => System.err.println(s"[verify][lint] $v"))
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${e.name}")
        }
        catch { case e1: Throwable =>
          System.err.println(s"[verify] ${e.name} failed: ${e1.getMessage}")
        }
        // targeted release of operator-internal caches (q29 prefix index)
        graft.llm.Dedup.releaseCaches()
        try Some(e.name -> e.oracle(spark, sfDir))
        catch { case e1: Throwable =>
          System.err.println(s"[verify] ${e.name} oracle failed: ${e1.getMessage}")
          None
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in an oracle's SQL would otherwise make the
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
