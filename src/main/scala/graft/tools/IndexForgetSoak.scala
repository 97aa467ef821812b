package graft.tools

import graft.llm.{IndexMaintain, Pq, Sketch, TextStats}
import graft.tools.Session.timed
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-margin soak for the forget-propagation family (q99/q100):
  * maintain-under-deletion vs rebuild-from-scratch on the
  * [[DedupSoak]] adversarial corpus (its ~20 boilerplate words are
  * census-scale hot tokens, df = n/5 — exactly the overflow rows the
  * maintenance contract exists for) at growing scale.
  *
  * Three regimes measured per scale, each against the REBUILD cost —
  * the economics a 100 TB deployment actually weighs per forget batch:
  *
  *   - `maintain_nocross`: maxDf below the post-forget hot-token df,
  *     so every overflow token STAYS overflow — the common case. Cost
  *     must be O(forget batch + index), independent of the surviving
  *     corpus: the ratio to rebuild should WIDEN as n grows.
  *   - `maintain_cross`: maxDf between the pre- and post-forget hot
  *     df, so every hot token crosses back into the window — the
  *     worst case, which pays one targeted remaining-corpus pass for
  *     the ~20 collected crossing tokens. Bounded above by rebuild
  *     (same scan, far smaller shuffle).
  *   - `cms_subtract`: register-wise CMS subtraction (one pass over
  *     the batch + a 4·width-row merge) vs re-sketching the remainder.
  *
  * Maintained ≡ rebuilt is asserted LOUDLY at every scale in both
  * index regimes (stringified-postings symmetric difference) and for
  * the sketch (register symmetric difference) — the soak is a
  * correctness harness first, a stopwatch second.
  *
  * The index input to maintenance is PERSISTED and materialized
  * before the clock starts: maintenance reads the stored artifact
  * (the q99 claim), never re-derives it.
  *
  * Usage: `runMain graft.tools.Soak indexforget [scales]` (default
  * "1,10,30" — multiples of the 5,000-doc sf0.1 documents shape).
  * With all eight regimes the 30× scale wants `SPARK_DRIVER_MEM=16g` (the 8g
  * default ran out of execution memory once the insert regimes
  * joined the session). */
object IndexForgetSoak {

  /** Stringified canonical rows for null-safe index comparison. */
  private def canon(ix: DataFrame): DataFrame =
    ix.select(col("token"), col("df"),
      coalesce(concat_ws(",", transform(col("postings"),
        _.cast("string"))), lit("<overflow>")).as("p"))

  /** Canonical rows for the positional shape (null-safe). */
  private def pcanon(ix: DataFrame): DataFrame =
    ix.select(col("token"), col("df"),
      coalesce(col("doc_id"), lit(-1L)).as("id"),
      coalesce(concat_ws(",", transform(col("positions"),
        _.cast("string"))), lit("<overflow>")).as("p"))

  private def assertSame(a: DataFrame, b: DataFrame, what: String): Unit = {
    val diff = a.exceptAll(b).unionAll(b.exceptAll(a)).count()
    require(diff == 0, s"$what: maintained != rebuilt ($diff rows differ)")
  }

  def run(spark: SparkSession, scales: Seq[Int], args: Seq[String]): Unit = {
    val baseDocs = 5000L
    val report = new Soak.Report("indexforget")
    scales.foreach { k =>
      val n = baseDocs * k
      val docs = DedupSoak.corpus(spark, n).persist()
      docs.count()
      // forget every 10th doc; hot boilerplate tokens sit on ids
      // with id % 5 == 3, so the batch removes 1/10 of them (ids
      // ≡ 3 mod 5 ∧ ≡ 0 mod 10 is empty — use id % 10 == 3: those
      // are boilerplate docs, thinning hot df from n/5 to n/5 − n/10)
      val forgotten = docs.filter(col("doc_id") % 10 === 3)
      val remaining = docs.filter(col("doc_id") % 10 =!= 3)
      val hotBefore = n / 5        // boilerplate df pre-forget
      val hotAfter = hotBefore - n / 10 // post-forget (half the hot docs)
      // crossing regime: post-forget df back in window
      val maxDfCross = (hotBefore + hotAfter) / 2
      // no-crossing regime: still overflowed after the forget
      val maxDfStay = hotAfter - 1
      require(maxDfStay >= 2 && hotAfter < maxDfCross &&
        maxDfCross < hotBefore, s"soak knobs out of band at n=$n")

      def soakIndex(maxDf: Long, label: String): (Double, Double) = {
        val ix = IndexMaintain.indexWithOverflow(docs, "doc_id", "text",
          minDf = 2, maxDf = maxDf).persist()
        ix.count() // the stored artifact — built before the clock
        val (_, tMaint) = timed {
          IndexMaintain.forgetFromIndex(ix, forgotten, remaining,
            "doc_id", "text", minDf = 2, maxDf = maxDf)
            .write.format("noop").mode(SaveMode.Overwrite).save()
        }
        val (_, tRebuild) = timed {
          IndexMaintain.indexWithOverflow(remaining, "doc_id", "text",
            minDf = 2, maxDf = maxDf)
            .write.format("noop").mode(SaveMode.Overwrite).save()
        }
        assertSame(
          canon(IndexMaintain.forgetFromIndex(ix, forgotten, remaining,
            "doc_id", "text", minDf = 2, maxDf = maxDf)),
          canon(IndexMaintain.indexWithOverflow(remaining, "doc_id",
            "text", minDf = 2, maxDf = maxDf)),
          s"$label@${k}x")
        ix.unpersist()
        (tMaint.wall, tRebuild.wall)
      }

      val (mNo, rNo) = soakIndex(maxDfStay, "nocross")
      val (mCr, rCr) = soakIndex(maxDfCross, "cross")

      // CMS: subtract the batch's sketch vs re-sketch the remainder
      val counters = Sketch.countMinCounters(docs, "text", 4, 4096)
        .persist()
      counters.count()
      val (_, tSub) = timed {
        Sketch.cmsSubtract(counters,
            Sketch.countMinCounters(forgotten, "text", 4, 4096))
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val (_, tResk) = timed {
        Sketch.countMinCounters(remaining, "text", 4, 4096)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val sub = Sketch.cmsSubtract(counters,
        Sketch.countMinCounters(forgotten, "text", 4, 4096))
      val resk = Sketch.countMinCounters(remaining, "text", 4, 4096)
      val cdiff = sub.exceptAll(resk).unionAll(resk.exceptAll(sub)).count()
      require(cdiff == 0, s"cms@${k}x: subtract != rebuilt ($cdiff)")
      counters.unpersist()

      // The other three artifact shapes, same session, same
      // adversarial corpus — maintained ≡ rebuilt asserted at every
      // scale, maintain-vs-rebuild ratio recorded per shape.
      // (a) POSITIONAL index, no-crossing regime (the common case —
      // maintain cost must stay O(batch + index) as n grows)
      val pix = IndexMaintain.positionalIndexWithOverflow(docs,
        "doc_id", "text", minDf = 2, maxDf = maxDfStay).persist()
      pix.count()
      val (_, mPos) = timed {
        IndexMaintain.forgetFromPositionalIndex(pix, forgotten,
            remaining, "doc_id", "text", minDf = 2, maxDf = maxDfStay)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val (_, rPos) = timed {
        IndexMaintain.positionalIndexWithOverflow(remaining, "doc_id",
            "text", minDf = 2, maxDf = maxDfStay)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      assertSame(
        pcanon(IndexMaintain.forgetFromPositionalIndex(pix, forgotten,
          remaining, "doc_id", "text", minDf = 2, maxDf = maxDfStay)),
        pcanon(IndexMaintain.positionalIndexWithOverflow(remaining,
          "doc_id", "text", minDf = 2, maxDf = maxDfStay)),
        s"positional@${k}x")
      pix.unpersist()

      // (b) BM25 stored stats: anti-joins + scalar subtraction vs
      // re-deriving from the remaining corpus
      val (tf0, dl0, nl0) = TextStats.bm25Stats(docs, "doc_id", "text")
      val tfP = tf0.persist(); val dlP = dl0.persist()
      val nlP = nl0.persist()
      tfP.count(); dlP.count(); nlP.count()
      val fids = forgotten.select(col("doc_id"))
      val (_, mBm) = timed {
        val (a, b, c) = TextStats.bm25StatsForget(tfP, dlP, nlP,
          fids, "doc_id")
        a.write.format("noop").mode(SaveMode.Overwrite).save()
        b.write.format("noop").mode(SaveMode.Overwrite).save()
        c.write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val (_, rBm) = timed {
        val (a, b, c) = TextStats.bm25Stats(remaining, "doc_id", "text")
        a.write.format("noop").mode(SaveMode.Overwrite).save()
        b.write.format("noop").mode(SaveMode.Overwrite).save()
        c.write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val (mtf, mdl, mnl) = TextStats.bm25StatsForget(tfP, dlP, nlP,
        fids, "doc_id")
      val (rtf, rdl, rnl) = TextStats.bm25Stats(remaining, "doc_id", "text")
      assertSame(mtf, rtf, s"bm25_tf@${k}x")
      assertSame(mdl, rdl, s"bm25_dl@${k}x")
      assertSame(mnl, rnl, s"bm25_nl@${k}x")
      tfP.unpersist(); dlP.unpersist(); nlP.unpersist()

      // (c) per-row code frames (the PQ-codes artifact): forget is
      // ONE anti-join vs re-encoding the remainder. Embeddings are
      // deterministic murmur-hash projections of the id (codebooks
      // need no geometric relation to the data for the economics —
      // encode is row-local); trained once, tiny, outside the clock.
      val emb = docs.select(col("doc_id"),
        expr("transform(sequence(0, 7), j -> " +
          "cast(pmod(hash(doc_id * 8 + j), 1000) / 1000.0 as float))")
          .as("embedding"))
      val cb = Pq.train(emb.limit(2000), "doc_id", "embedding",
        m = 4, ksub = 8, iters = 2)
      val codes = Pq.encode(emb, "doc_id", "embedding", cb).persist()
      codes.count()
      val (_, mRow) = timed {
        IndexMaintain.forgetRows(codes, fids, "doc_id")
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val (_, rRow) = timed {
        Pq.encode(remaining.select(col("doc_id"),
            expr("transform(sequence(0, 7), j -> " +
              "cast(pmod(hash(doc_id * 8 + j), 1000) / 1000.0 " +
              "as float))").as("embedding")),
            "doc_id", "embedding", cb)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      def codeCanon(d: DataFrame) = d.select(col("doc_id"),
        concat_ws(",", transform(col("codes"), _.cast("string")))
          .as("c"))
      assertSame(codeCanon(IndexMaintain.forgetRows(codes, fids,
          "doc_id")),
        codeCanon(Pq.encode(remaining.select(col("doc_id"),
          expr("transform(sequence(0, 7), j -> " +
            "cast(pmod(hash(doc_id * 8 + j), 1000) / 1000.0 " +
            "as float))").as("embedding")),
          "doc_id", "embedding", cb)),
        s"rowframe@${k}x")
      codes.unpersist()
      docs.unpersist()

      // INSERT direction (the q118/q119 ingestion half): the
      // artifact is built on the 9/10 remainder, the former forget
      // batch becomes the INSERT batch, and maintenance races a
      // rebuild on the full corpus. Hot tokens are already overflow
      // pre-insert (df only grows → stay overflow, the common case);
      // the batch's rare random tokens are genuinely novel, so the
      // minDf=2 targeted corpus pass fires — the realistic mix.
      val iix = IndexMaintain.indexWithOverflow(remaining, "doc_id",
        "text", minDf = 2, maxDf = maxDfStay).persist()
      iix.count()
      val (_, mIns) = timed {
        IndexMaintain.insertIntoIndex(iix, forgotten, docs,
            "doc_id", "text", minDf = 2, maxDf = maxDfStay)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val (_, rIns) = timed {
        IndexMaintain.indexWithOverflow(docs, "doc_id", "text",
            minDf = 2, maxDf = maxDfStay)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      assertSame(
        canon(IndexMaintain.insertIntoIndex(iix, forgotten, docs,
          "doc_id", "text", minDf = 2, maxDf = maxDfStay)),
        canon(IndexMaintain.indexWithOverflow(docs, "doc_id", "text",
          minDf = 2, maxDf = maxDfStay)),
        s"insert@${k}x")
      iix.unpersist()
      val pix2 = IndexMaintain.positionalIndexWithOverflow(remaining,
        "doc_id", "text", minDf = 2, maxDf = maxDfStay).persist()
      pix2.count()
      val (_, mPIns) = timed {
        IndexMaintain.insertIntoPositionalIndex(pix2, forgotten, docs,
            "doc_id", "text", minDf = 2, maxDf = maxDfStay)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val (_, rPIns) = timed {
        IndexMaintain.positionalIndexWithOverflow(docs, "doc_id",
            "text", minDf = 2, maxDf = maxDfStay)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      assertSame(
        pcanon(IndexMaintain.insertIntoPositionalIndex(pix2, forgotten,
          docs, "doc_id", "text", minDf = 2, maxDf = maxDfStay)),
        pcanon(IndexMaintain.positionalIndexWithOverflow(docs, "doc_id",
          "text", minDf = 2, maxDf = maxDfStay)),
        s"positional_insert@${k}x")
      pix2.unpersist()

      report.scale(k, Map("docs" -> n.toDouble,
        "maintain_nocross_sec" -> mNo, "rebuild_nocross_sec" -> rNo,
        "maintain_cross_sec" -> mCr, "rebuild_cross_sec" -> rCr,
        "cms_subtract_sec" -> tSub.wall,
        "cms_resketch_sec" -> tResk.wall,
        "positional_maintain_sec" -> mPos.wall,
        "positional_rebuild_sec" -> rPos.wall,
        "bm25_maintain_sec" -> mBm.wall,
        "bm25_rebuild_sec" -> rBm.wall,
        "rowframe_maintain_sec" -> mRow.wall,
        "rowframe_rebuild_sec" -> rRow.wall,
        "insert_maintain_sec" -> mIns.wall,
        "insert_rebuild_sec" -> rIns.wall,
        "positional_insert_maintain_sec" -> mPIns.wall,
        "positional_insert_rebuild_sec" -> rPIns.wall))
    }
    report.ratios()
  }
}
