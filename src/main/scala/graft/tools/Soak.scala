package graft.tools

import java.util.Locale

import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The scale soaks and dev probes behind one main:
  *
  *   runMain graft.tools.Soak <tier> [scales] [tier args]
  *
  * `scales` is a comma-separated list of multipliers of the tier's base
  * shape (the tier's default list when omitted); whatever follows is
  * the tier's own arguments. The session comes from [[Session]]
  * (`SPARK_GRAFT_CPUS`, default 32) and is warmed up before the tier
  * runs. A tier reports one JSON line per scale and one ratio line
  * through [[Report]]; its verdicts and `require`s are its own. */
object Soak {

  /** A tier's default scales and its body. */
  final case class Tier(defaultScales: Seq[Int],
                        run: (SparkSession, Seq[Int], Seq[String]) => Unit)

  val tiers: ListMap[String, Tier] = ListMap(
    "ann" -> Tier(Seq(1, 10), AnnSoak.run),
    "cdc" -> Tier(Seq(1, 10), CdcSoak.run),
    "cluster" -> Tier(Seq(1, 10), ClusterSoak.run),
    "dedup" -> Tier(Seq(1, 10), DedupSoak.run),
    "dedup-hotkey" -> Tier(Seq(1, 10), DedupSoak.runHotKey),
    "indexforget" -> Tier(Seq(1, 10, 30), IndexForgetSoak.run),
    "longdoc" -> Tier(Seq(1, 10, 30), LongDocSoak.run),
    "profile" -> Tier(Seq(1, 10, 30), ProfileSoak.run),
    "select" -> Tier(Seq(1, 10, 30), SelectSoak.run),
    "probe" -> Tier(Nil, PerfProbe.run),
    "find-strategy" ->
      Tier(Seq(1000, 10000, 100000, 200000), FindStrategyBench.run))

  private val usage: String =
    "usage: Soak <tier> [scales] [tier args]; tiers: " +
      tiers.keys.mkString(", ")

  def main(args: Array[String]): Unit = {
    val tier = args.headOption.flatMap(tiers.get)
      .getOrElse(throw new IllegalArgumentException(usage))
    val rest = args.toSeq.drop(1)
    val (scales, tierArgs) =
      rest.headOption.filter(_.matches("""\d+(,\d+)*""")) match {
        case Some(s) => (s.split(",").map(_.toInt).toSeq, rest.drop(1))
        case None => (tier.defaultScales, rest)
      }
    val spark = Session(defaultCpus = 32)
    try {
      Session.warmup(spark)
      tier.run(spark, scales, tierArgs)
    } finally spark.stop()
  }

  /** One JSON object on one line. Doubles print under `Locale.ROOT`
    * (whole values as integers, others to three decimals), so the line
    * parses the same under any JVM default locale. */
  def line(fields: (String, Any)*): String =
    fields.map { case (k, v) => s""""$k":${json(v)}""" }
      .mkString("{", ",", "}")

  private def json(v: Any): String = v match {
    case d: Double if d.isWhole && math.abs(d) < 1e15 => d.toLong.toString
    case d: Double => String.format(Locale.ROOT, "%.3f", Double.box(d))
    case s: String => "\"" + s + "\""
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }

  /** A tier run's per-scale result maps: each scale's map is printed as
    * one line (its keys are the printed keys), and [[ratios]] prints
    * the last over the first scale's value of every key. */
  final class Report(tier: String) {
    private val rows = mutable.LinkedHashMap.empty[Int, Map[String, Double]]

    def scale(k: Int, m: Map[String, Double]): Unit = {
      rows(k) = m
      println(line(Seq("tier" -> tier, "scale" -> k) ++
        m.toSeq.sortBy(_._1): _*))
    }

    /** `hi / max(lo, 1e-9)` per key, `lo`/`hi` being the first and last
      * scale run; printed, and returned, when at least two scales ran
      * (empty otherwise). */
    def ratios(): Map[String, Double] =
      if (rows.size < 2) Map.empty
      else {
        val (kLo, lo) = rows.head
        val (kHi, hi) = rows.last
        val r = lo.keys.map(key => key -> hi(key) / math.max(lo(key), 1e-9))
          .toMap
        println(line(Seq("tier" -> tier, "ratios" -> s"$kHi/$kLo") ++
          r.toSeq.sortBy(_._1): _*))
        r
      }
  }
}
