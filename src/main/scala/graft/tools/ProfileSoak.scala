package graft.tools

import graft.llm.{Sketch, TextStats}
import graft.tools.Session.timed
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-margin soak for the corpus-profiling family — collocations
  * (q108), the histogram percentile sketch (q109), gram novelty
  * (q110), and per-group top-k tokens (q111) — on the [[DedupSoak]]
  * adversarial corpus (the growth CURVE is the evidence: one
  * fixed-size point hides super-linear growth). The corpus is
  * adversarial for exactly these operators: the 1-in-5 boilerplate
  * prefix makes ~16 adjacent pairs
  * census-hot (each n/5 occurrences — the collocation join's heavy
  * keys), and the same prefix is the novelty audit's worst case
  * (a gram shared by n/5 documents must NOT reach the df=1 join).
  *
  * What linear-ish ratios demonstrate per operator:
  *   - collocations: everything after the two hash aggregations is
  *     vocabulary-sized — a pair seen n/5 times costs the same join
  *     row as a pair seen 5 times;
  *   - histogram: ONE hash aggregation into ≤ 65 counters, no range
  *     shuffle however large the corpus;
  *   - novelty: the df=1 pre-filter keeps the join-back skew-free —
  *     the hot boilerplate grams are filtered BEFORE the join;
  *   - group top-k: two-phase partials, no window, no per-group sort
  *     of the whole vocabulary.
  *
  * Invariants asserted at every scale (loud, not sampled): the
  * collocation table is exactly the boilerplate's census pairs (all
  * counts ≥ n/5 at default minCount on this corpus); histogram
  * brackets contain the exact 50- and 67-token lengths; novelty is
  * exactly 1e6 on isolated random docs and strictly below on family
  * members; the group report emits k rows per group.
  *
  * Usage: `runMain graft.tools.Soak profile [scales]` (default
  * "1,10,30" — multiples of the 5,000-doc sf0.1 documents shape). */
object ProfileSoak {

  def run(spark: SparkSession, scales: Seq[Int], args: Seq[String]): Unit = {
    val baseDocs = 5000L
    val report = new Soak.Report("profile")
    scales.foreach { k =>
      val n = baseDocs * k
      val docs = DedupSoak.corpus(spark, n)
        .withColumn("source", concat(lit("src"), col("doc_id") % 20))
        .persist()
      docs.count()

      // q108 — collocations over the census-pair corpus (noop write:
      // a count() would let Catalyst prune the lift arithmetic)
      val (_, tColloc) = timed {
        TextStats.collocations(docs, "text", minCount = 5, k = 20)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      // invariants: on this corpus only boilerplate-internal pairs
      // (and the 3-member family pairs, all below minCount) repeat,
      // so every emitted pair is census-hot at n/5 occurrences
      val colloc = TextStats.collocations(docs, "text",
        minCount = 5, k = 20).collect()
      require(colloc.length >= 16,
        s"expected the ~16 boilerplate pairs, got ${colloc.length}")
      require(colloc.forall(_.getLong(2) >= n / 5),
        s"a non-census pair passed minCount: ${colloc.mkString(";")}")

      // q109 — histogram percentile sketch over token counts
      val lenCol = size(split(col("text"), " ")).cast("long")
      val (_, tHist) = timed {
        Sketch.logHistogramPercentiles(docs, lenCol, Seq(5, 50, 95))
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      // invariants: doc lengths are exactly 50 (80%) or 67
      // (boilerplate) tokens — p50 must bracket 50, p95 must
      // bracket 67
      val hist = Sketch.logHistogramPercentiles(docs, lenCol,
        Seq(50, 95)).collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3))).toMap
      require(hist(50L)._1 <= 50 && 50 <= hist(50L)._2,
        s"p50 bracket ${hist(50L)} misses 50")
      require(hist(95L)._1 <= 67 && 67 <= hist(95L)._2,
        s"p95 bracket ${hist(95L)} misses 67")

      // q110 — gram novelty: the hot boilerplate grams must die in
      // the df filter, never in the join
      val (_, tNovel) = timed {
        TextStats.gramNovelty(docs, "doc_id", "text", n = 8)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val novel = TextStats.gramNovelty(docs, "doc_id", "text", n = 8)
      val novelStats = novel.agg(count(lit(1)),
          // isolated random docs: not family (id%50>=3), not
          // boilerplate (id%5!=3) — every 8-gram is theirs alone
          min(when(col("doc_id") % 50 >= 3 && col("doc_id") % 5 =!= 3,
            col("novelty_micro"))),
          // family members share all but their last-token grams
          max(when(col("doc_id") % 50 === 1, col("novelty_micro"))))
        .collect()(0)
      require(novelStats.getLong(0) == n,
        s"novelty rows ${novelStats.getLong(0)} != docs $n")
      require(novelStats.getLong(1) == 1000000L,
        s"isolated doc below full novelty: ${novelStats.getLong(1)}")
      require(novelStats.getLong(2) < 1000000L,
        s"family member reported full novelty: ${novelStats.getLong(2)}")

      // q111 — per-group top-k tokens over 20 synthetic sources
      val (_, tGroup) = timed {
        TextStats.topTokensByGroup(docs, "source", "text", k = 5)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val groupRows = TextStats.topTokensByGroup(docs, "source",
        "text", k = 5).count()
      require(groupRows == 20L * 5,
        s"group report rows $groupRows != 100")

      // q112 — weighted sparse pairs: the census boilerplate bigrams
      // (df = n/5) die in the maxDf cut, so the AllPairs self-join
      // stays LINEAR — only the df=3 family grams pair
      val (_, tPairs) = timed {
        TextStats.tfidfDotPairs(docs, "doc_id", "text", maxDf = 10,
            k = 20, n = 2)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val pairs = TextStats.tfidfDotPairs(docs, "doc_id", "text",
        maxDf = 10, k = 20, n = 2).collect()
      require(pairs.length == 20, s"expected 20 pairs, got ${pairs.length}")
      require(pairs.forall { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        a - a % 50 == b - b % 50 // same near-dup family
      }, "a non-family pair outscored the planted near-dups")

      // q115 — exact heavy hitters at T = n/10: the 17 boilerplate
      // words (each ~n/5 occurrences) are the only tokens that can
      // reach it; the pigeonhole candidate pass must find exactly
      // them at every scale
      val (_, tHh) = timed {
        TextStats.exactHeavyHitters(docs, "text", threshold = n / 10)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val hh = TextStats.exactHeavyHitters(docs, "text",
        threshold = n / 10).collect()
      require(hh.length == 17,
        s"expected the 17 boilerplate words, got ${hh.length}")
      require(hh.forall(_.getLong(1) >= n / 5),
        s"a non-boilerplate token surfaced: ${hh.mkString(";")}")

      docs.unpersist()
      report.scale(k, Map("docs" -> n.toDouble,
        "colloc_sec" -> tColloc.wall, "hist_sec" -> tHist.wall,
        "novel_sec" -> tNovel.wall, "group_sec" -> tGroup.wall,
        "pairs_sec" -> tPairs.wall, "hh_sec" -> tHh.wall))
    }
    report.ratios()
  }
}
