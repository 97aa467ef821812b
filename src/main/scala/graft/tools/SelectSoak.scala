package graft.tools

import graft.llm.{Dedup, Packing, Sampling, TextStats}
import graft.tools.Session.timed
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-margin soak for the selection/layout family —
  * duplicated-span coverage (q95), temperature rebalancing (q94),
  * DSIR learn + score (q92), and the epoch shuffle (q96) — on the
  * [[DedupSoak]] adversarial corpus (20% boilerplate-prefixed docs:
  * a census-scale hot shingle set, exactly the coverage audit's
  * worst case) at growing scale, so the growth CURVE is the
  * evidence: one fixed-size point hides super-linear growth.
  *
  * What linear-ish ratios demonstrate per operator:
  *   - coverage: the gram aggregation + occurrence join + per-doc
  *     window never go super-linear even when one gram's postings
  *     are 20% of the corpus (the join is occurrences ⋈ gram SET —
  *     no pair fan-out anywhere);
  *   - mix: the bounded-heap cap sampler's two phases stay
  *     O(n + strata·quota·P);
  *   - DSIR: learning is one bucket aggregation (state 64 longs at
  *     any n) and scoring one shuffle-free projection;
  *   - shuffle: the packed-key prefix sum is ONE range exchange.
  *
  * Invariants asserted at every scale (loud, not sampled): coverage
  * emits one row per doc and every boilerplate doc reports ≥ the
  * boilerplate-prefix length; the mix selects exactly its budget
  * (every stratum abundant); the epoch shuffle emits a perfect
  * 0..n-1 rank partition.
  *
  * Usage: `runMain graft.tools.Soak select [scales]` (default
  * "1,10,30" — multiples of the 5,000-doc sf0.1 documents shape). */
object SelectSoak {

  def run(spark: SparkSession, scales: Seq[Int], args: Seq[String]): Unit = {
    val baseDocs = 5000L
    val report = new Soak.Report("select")
    scales.foreach { k =>
      val n = baseDocs * k
      val docs = DedupSoak.corpus(spark, n)
        .withColumn("source", concat(lit("src"), col("doc_id") % 20))
        .persist()
      docs.count()

      // q95 — coverage over the hot-boilerplate corpus. Timed via a
      // noop WRITE: a bare count() lets Catalyst prune every output
      // column and then eliminate the unique-key left join — the
      // soak would time a row count, not the operator (caught when
      // cov_sec SHRANK with scale on the first run of this harness).
      val (_, tCov) = timed {
        Dedup.dupSpanCoverage(docs, "doc_id", "text", 16)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      // invariants (untimed re-run): one row per doc; every
      // boilerplate doc (id % 5 == 3) shares its prefix with ~n/5
      // siblings, so its coverage must be at least the prefix length
      val covStats = Dedup.dupSpanCoverage(docs, "doc_id", "text", 16)
        .agg(count(lit(1)),
          min(when(col("doc_id") % 5 === 3, col("dup_chars"))))
        .collect()(0)
      require(covStats.getLong(0) == n,
        s"coverage rows ${covStats.getLong(0)} != docs $n")
      require(covStats.getLong(1) >= 100L,
        s"boilerplate doc under-covered: ${covStats.getLong(1)}")

      // q102 — one-copy span dedup on the same census corpus: the
      // boilerplate prefix (n/5 verbatim copies) is the adversarial
      // shape for the canonical pick — every hot gram's occurrence
      // list flows through the min(struct) PARTIAL aggregation, never
      // a per-gram window sort. Noop write for the q95 reason.
      val (_, tSpan) = timed {
        Dedup.dedupSpansKeepFirst(docs, "doc_id", "text", 16)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      // invariants: one row per doc; the boilerplate prefix survives
      // in AT MOST one boilerplate doc (its canonical owner — other
      // grams may clip even that one), and every other boilerplate
      // doc loses at least the prefix
      val spanStats = Dedup.dedupSpansKeepFirst(docs, "doc_id", "text", 16)
        .agg(count(lit(1)),
          sum(when(col("doc_id") % 5 === 3 &&
            col("n_chars_removed") >= 100L, 1L).otherwise(0L)))
        .collect()(0)
      require(spanStats.getLong(0) == n,
        s"span-dedup rows ${spanStats.getLong(0)} != docs $n")
      require(spanStats.getLong(1) >= n / 5 - 1,
        s"only ${spanStats.getLong(1)} boilerplate docs lost the prefix")

      // q94 — temperature mix at a 10% budget
      val budget = n / 10
      val (mixRows, tMix) = timed {
        val (sel, quotas) = Sampling.temperatureRebalance(
          docs, "doc_id", "source", alpha = 0.5, budget = budget)
        require(quotas.values.sum == budget,
          s"quotas ${quotas.values.sum} != budget $budget")
        sel.count()
      }
      require(mixRows == budget, s"mix rows $mixRows != budget $budget")

      // q92 — DSIR learn (two bucket LMs) + shuffle-free score
      val (models, tLearn) = timed {
        (TextStats.dsirBucketLogProbs(
          docs.filter(col("doc_id") % 4 === 0), "text", 64),
          TextStats.dsirBucketLogProbs(docs, "text", 64))
      }
      // noop write for the same reason as coverage: a count() would
      // prune the (projection-only) score columns to nothing
      val (_, tScore) = timed {
        TextStats.dsirScore(docs, "doc_id", "text",
          models._1, models._2)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val dsirRows = TextStats.dsirScore(docs, "doc_id", "text",
        models._1, models._2).count()
      require(dsirRows == n, s"dsir rows $dsirRows != docs $n")

      // q96 — epoch shuffle into 1024-doc shards
      val (rankOk, tShuffle) = timed {
        val sh = Packing.epochShuffle(docs, "doc_id", epoch = 1,
          shardSize = 1024)
        sh.agg(count(lit(1)), max(col("shard") * 1024 + col("pos")),
          countDistinct(col("shard") * 1024 + col("pos")))
          .collect()(0)
      }
      require(rankOk.getLong(0) == n && rankOk.getLong(1) == n - 1 &&
        rankOk.getLong(2) == n,
        s"epoch shuffle is not a perfect rank partition: $rankOk")

      docs.unpersist()
      report.scale(k, Map("docs" -> n.toDouble,
        "cov_sec" -> tCov.wall, "span_sec" -> tSpan.wall,
        "mix_sec" -> tMix.wall, "dsir_learn_sec" -> tLearn.wall,
        "dsir_score_sec" -> tScore.wall, "shuffle_sec" -> tShuffle.wall))
    }
    report.ratios()
  }
}
