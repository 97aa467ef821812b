package graft.tools

import graft.llm.{IvfPq, Pq, Similarity, SimilarityEval}
import graft.tools.Session.timed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-margin soak for the compressed-ANN family (q79-q84: PQ and
  * IVF-PQ with exact re-rank) — the [[ClusterSoak]] pattern applied to
  * the retrieval index. The growth curve is the evidence, and the soak
  * runs the DOCUMENTED 100 TB scaling rules rather than one fixed
  * configuration:
  *
  *   - codebook size m·ksub is corpus-independent (the whole point of
  *     PQ: m bytes/vector no matter n) — FIXED across scales, which
  *     also soaks the m·ksub codegen'd projection (a k=240
  *     projection once blew up codegen on the cluster soak);
  *   - IVF-PQ's coarse `nlist` grows ~sqrt(n) (the IVFADC sizing that
  *     keeps cells near sqrt(n) so probe cost nprobe·n/nlist and cell
  *     count balance);
  *   - the refine knobs are NOT fixed: the tuned operators
  *     ([[Pq.refinedTopKAutoTuned]] / [[IvfPq.refinedSearchAutoTuned]])
  *     walk shortlist (and nprobe) per scale until the probe sample
  *     meets the recall target — recall STABILITY under growth is the
  *     correctness half of the soak, the paid knob values are the cost
  *     half.
  *
  * Corpus: [[ClusterSoak.corpus]] — 64 well-separated gaussian groups
  * (PQ's honest geometry: the near-uniform sf0.1 embeddings are its
  * documented pathological case) plus planted near-dup pairs, fully
  * deterministic and generated per-partition. Queries: the 32 lowest
  * ids (one per group, groups 0..31); the tuners sample the first 16,
  * the reported recall covers ALL 32 — half the queries are held out
  * from tuning.
  *
  * Success criteria: tuned min-recall@10 >= target at EVERY scale
  * (flat under growth), and train/encode/search time ratios at k×
  * scale well under k² (sub-quadratic). Scales are multipliers of the
  * 2,000-vector sf0.1 embeddings shape. */
object AnnSoak {

  def run(spark: SparkSession, scales: Seq[Int], args: Seq[String]): Unit = {
    val baseVecs = 2000L
    val target = 0.95
    val k = 10
    val report = new Soak.Report("ann")
    scales.foreach { s =>
      val n = baseVecs * s
      val data = ClusterSoak.corpus(spark, n).persist()
      data.count() // materialize outside the timed sections
      val queries = data.filter(col("vec_id") < 32).persist()
      queries.count()

      // ground truth once per scale, ALL 32 queries (the tuners
      // re-derive their own over the 16-query sample; this one also
      // scores the 16 held-out queries)
      val exact = Similarity.bruteForceTopK(data, queries, "vec_id",
        "embedding", k).localCheckpoint(true)
      def minRecall(approx: DataFrame): Double =
        SimilarityEval.recallAtK(approx, exact, "vec_id", k)
          .agg(min(col("recall"))).head().getDouble(0)

      // ---- PQ: fixed-size codebook, tuned shortlist ----
      val (cb, tTrainPq) = timed {
        Pq.train(data, "vec_id", "embedding", m = 16, ksub = 16,
          iters = 3)
      }
      val (_, tEncodePq) = timed {
        Pq.encode(data, "vec_id", "embedding", cb).count()
      }
      val ((pqTop, paidShortlist), tSearchPq) = timed {
        val r = Pq.refinedTopKAutoTuned(data, queries, "vec_id",
          "embedding", cb, k, target, initialShortlist = 100)
        (r._1.localCheckpoint(true), r._2)
      }
      val pqRecall = minRecall(pqTop)

      // ---- IVF-PQ: nlist ~ sqrt(n), tuned (nprobe, shortlist) ----
      val nlist = math.max(16, math.sqrt(n.toDouble).toInt)
      val (model, tTrainIvf) = timed {
        IvfPq.train(data, "vec_id", "embedding", nlist, m = 16,
          ksub = 16, iters = 3)
      }
      val (_, tEncodeIvf) = timed {
        IvfPq.encode(data, "vec_id", "embedding", model).count()
      }
      val ((ivfTop, paidNprobe, paidSl), tSearchIvf) = timed {
        val r = IvfPq.refinedSearchAutoTuned(data, queries, "vec_id",
          "embedding", model, k, target, initialNprobe = 4,
          initialShortlist = 100)
        (r._1.localCheckpoint(true), r._2, r._3)
      }
      val ivfRecall = minRecall(ivfTop)

      data.unpersist(); queries.unpersist()
      require(pqRecall >= target - 0.05,
        s"scale $s: PQ tuned recall $pqRecall eroded below " +
          s"target $target (held-out slack 0.05)")
      require(ivfRecall >= target - 0.05,
        s"scale $s: IVF-PQ tuned recall $ivfRecall eroded below " +
          s"target $target (held-out slack 0.05)")
      report.scale(s, Map("vecs" -> n.toDouble, "nlist" -> nlist.toDouble,
        "pq_train_sec" -> tTrainPq.wall, "pq_encode_sec" -> tEncodePq.wall,
        "pq_search_sec" -> tSearchPq.wall, "pq_recall" -> pqRecall,
        "pq_shortlist" -> paidShortlist.toDouble,
        "ivfpq_train_sec" -> tTrainIvf.wall,
        "ivfpq_encode_sec" -> tEncodeIvf.wall,
        "ivfpq_search_sec" -> tSearchIvf.wall, "ivfpq_recall" -> ivfRecall,
        "ivfpq_nprobe" -> paidNprobe.toDouble,
        "ivfpq_shortlist" -> paidSl.toDouble))
    }
    report.ratios()
  }
}
