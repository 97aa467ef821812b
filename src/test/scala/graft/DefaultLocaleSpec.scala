package graft

import java.util.Locale

import graft.catalog.{Catalog, TableDef}
import graft.model.DataFormat
import org.apache.spark.sql.functions._

/** Default-locale independence sweep (the Turkish-I class). A
  * JVM's default locale is cluster-operator state, not data: under
  * `tr-TR`, `"ID".toLowerCase` is `"ıd"` (dotless ı) and
  * `"i".toUpperCase` is `"İ"`, so any identifier/keyword/config
  * comparison routed through the DEFAULT-locale `String.toLowerCase`/
  * `toUpperCase` silently stops matching — and the `f""` interpolator
  * formats doubles through the default locale, so a comma-decimal
  * locale (de-DE, tr-TR) would print `1,234` into the one-line JSON
  * the bench/soak drivers parse.
  *
  * Swept sites: the engine's own case-insensitive identifier paths
  * (F4) were already locale-safe (`equalsIgnoreCase` folds per
  * character, locale-free) — pinned here; three default-locale string
  * ops were found and pinned to `Locale.ROOT`
  * (`ParquetStats.columnBytes` identifier matching — an UPPERCASE
  * column argument selected ZERO chunks on a tr-TR JVM;
  * `Catalog.validateSerde` config-value compare; `GateLint` SQL
  * keyword scan); and every `main` entry (`Bench`, `Verify`, `E2EDemo`,
  * `Plans`, `Soak`) pins the default locale to ROOT through
  * `graft.tools.Session` before its first `f""`, while the soak
  * reporter formats under an explicit `Locale.ROOT` (checked below).
  */
class DefaultLocaleSpec extends SparkSpec {
  import spark.implicits._

  private def underLocale[A](tag: String)(body: => A): A = {
    val orig = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag(tag))
    try body finally Locale.setDefault(orig)
  }

  test("the tr-TR premise holds on this JVM (control: the hazard is " +
    "real, not folklore)") {
    underLocale("tr-TR") {
      assert("ID".toLowerCase != "id", "JVM lost the Turkish-I mapping")
      assert(f"${1.5}%.1f" == "1,5", "tr-TR no longer comma-formats")
    }
    assert("ID".toLowerCase(Locale.ROOT) == "id")
  }

  test("ParquetStats.columnBytes matches UPPERCASE identifiers " +
    "identically under tr-TR (pre-fix: zero chunks selected)") {
    val file = stageParquetFile(
      Seq((1L, "a"), (2L, "b")).toDF("ship_id", "text"))
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.tools.ParquetStats.columnBytes(
      conf, file, Seq("SHIP_ID"))
    val tr = underLocale("tr-TR") {
      graft.tools.ParquetStats.columnBytes(conf, file, Seq("SHIP_ID"))
    }
    assert(root.selected > 0L, "uppercase identifier selected nothing")
    assert(tr == root, s"locale changed chunk selection: $tr vs $root")
  }

  test("Catalog.validateSerde rejects ignore.malformed.json=true " +
    "under tr-TR exactly like under ROOT") {
    val bad = TableDef("t", "/tmp/x", DataFormat.JsonLines,
      Seq((1L, "x")).toDF("id", "x").schema,
      serdeLib = Some(Catalog.JsonOpenxSerde),
      serdeParams = Map("ignore.malformed.json" -> "true"))
    val e1 = intercept[IllegalArgumentException] {
      Catalog.validateSerde(bad)
    }
    val e2 = underLocale("tr-TR") {
      intercept[IllegalArgumentException] { Catalog.validateSerde(bad) }
    }
    assert(e1.getMessage == e2.getMessage)
  }

  test("GateLint keyword scan is locale-independent (CAST-wrapped sum " +
    "passes, bare sum flags — identically under tr-TR)") {
    val wrapped = "SELECT CAST(sum(x) AS BIGINT) FROM t"
    val bare = "SELECT DISTINCT sum(x) FROM t"
    val root = (GateLint.oracleViolations("q", wrapped),
      GateLint.oracleViolations("q", bare))
    val tr = underLocale("tr-TR") {
      (GateLint.oracleViolations("q", wrapped),
        GateLint.oracleViolations("q", bare))
    }
    assert(root._1.isEmpty && root._2.nonEmpty)
    assert(tr == root, s"locale changed lint verdicts: $tr vs $root")
  }

  test("the engine's F4 case-insensitive identifier paths fold per " +
    "character (equalsIgnoreCase), immune to the locale by " +
    "construction: dotted-ID resolution works under tr-TR") {
    val schema = Seq((1L, "x")).toDF("CustomerId", "x").schema
    underLocale("tr-TR") {
      // "customerid" vs field "CustomerId" — contains 'I'/'i'
      val dt = Catalog.resolveIdentifier(schema, "CUSTOMERID")
      assert(dt.typeName == "long")
    }
  }

  test("the soak reporter's per-scale and ratio lines use '.' decimals " +
    "and parse as JSON under tr-TR") {
    val out = new java.io.ByteArrayOutputStream()
    underLocale("tr-TR") {
      Console.withOut(out) {
        val report = new graft.tools.Soak.Report("t")
        report.scale(1, Map("a_sec" -> 1.5, "rows" -> 10.0))
        report.scale(2, Map("a_sec" -> 3.25, "rows" -> 20.0))
        report.ratios()
      }
    }
    val lines = out.toString("UTF-8").split("\n").toSeq
    assert(lines.size == 3, s"want 2 scale lines + 1 ratio line: $lines")
    val json = lines.map(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(_))
    assert(lines(0).contains("\"a_sec\":1.500"), lines(0))
    assert(json.map(_.get("tier").asText) == Seq("t", "t", "t"))
    assert(json.take(2).map(_.get("scale").asInt) == Seq(1, 2))
    assert(json.take(2).map(_.get("a_sec").asDouble) == Seq(1.5, 3.25))
    assert(json(2).get("ratios").asText == "2/1")
    assert(json(2).get("a_sec").asDouble == 2.167)
    assert(json(2).get("rows").asDouble == 2.0)
  }

  test("Soak rejects a missing or unknown tier with a usage line that " +
    "lists every tier") {
    Seq(Array.empty[String], Array("no-such-tier")).foreach { args =>
      val e = intercept[IllegalArgumentException] {
        graft.tools.Soak.main(args)
      }
      assert(e.getMessage.startsWith("usage: Soak <tier>"), e.getMessage)
      graft.tools.Soak.tiers.keys.foreach { tier =>
        assert(e.getMessage.contains(tier), s"$tier missing: ${e.getMessage}")
      }
    }
  }
}
