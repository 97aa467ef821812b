package graft.tools

import graft.llm.Clustering
import graft.tools.Session.timed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-margin soak for the clustering family (q57 k-means, q58
  * SemDeDup) — the growth curve is the evidence, and the soak runs the
  * DOCUMENTED 100 TB scaling rule rather than a fixed configuration:
  * `k` scales with `n` (constant target cluster size), so the
  * in-cluster pair stage stays `n × clusterSize` (linear), not the
  * quadratic blowup a fixed small `k` would give; and at soak-scale
  * `k` the init switches from farthest-first (k scans — the coarse-k
  * tool) to the pre-sampled hash-order init the
  * [[Clustering.farthestFirstInit]] scaladoc prescribes.
  *
  * Planted structure (deterministic, generated per-partition — no
  * driver-side corpus):
  *
  *   - 64 well-separated gaussian direction groups (vector `i` sits on
  *     direction `i % 64` + per-dim noise 0.5): in-group cosine ≈ 0.8,
  *     cross-group ≈ 0 — far below tau, so groups alone dedup nothing.
  *   - a near-duplicate PAIR every 100 ids (`id % 100 == 1` copies
  *     `id-1` with 0.01 noise, cosine ≈ 0.999): exactly n/100 rows
  *     must drop at tau = 0.98, AT EVERY SCALE — output invariance
  *     under growth is the correctness half of the soak.
  *
  * Success criteria: dedup drop count = n/100 (±5% slack for the rare
  * boundary assignment), and time ratios at k× scale well under k²
  * (near-linear) for both the k-means fit and the end-to-end dedup.
  * Scales are multipliers of the 2,000-vector sf0.1 embeddings shape
  * (default "1,10"). */
object ClusterSoak {

  val Dim = 64
  val Groups = 64

  /** Deterministic planted corpus: (vec_id, embedding). */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    // 64 fixed unit-scale directions from a fixed seed (driver-side,
    // 64×64 floats — broadcast via closure)
    val dirRnd = new java.util.Random(42L)
    val dirs = Array.fill(Groups, Dim)(dirRnd.nextGaussian().toFloat)
    spark.range(n).mapPartitions { ids =>
      ids.map { boxed =>
        val id: Long = boxed
        val isDup = id % 100 == 1
        val baseId = if (isDup) id - 1 else id
        val g = (baseId % Groups).toInt
        val rnd = new java.util.Random(baseId * 0x9e3779b97f4a7c15L)
        val base = Array.tabulate(Dim)(d =>
          dirs(g)(d) + (rnd.nextGaussian() * 0.5).toFloat)
        val vec =
          if (!isDup) base
          else {
            val p = new java.util.Random(id * 0x517cc1b727220a95L)
            base.map(x => x + (p.nextGaussian() * 0.01).toFloat)
          }
        (id, vec.toSeq)
      }
    }.toDF("vec_id", "embedding")
  }

  def run(spark: SparkSession, scales: Seq[Int], args: Seq[String]): Unit = {
    val baseVecs = 2000L
    val report = new Soak.Report("cluster")
    scales.foreach { s =>
      val n = baseVecs * s
      val data = corpus(spark, n).persist()
      data.count() // materialize outside the timed sections

      // the documented rule: k ∝ n (constant ~250-vector clusters);
      // soak-scale k uses the pre-sampled hash-order init, not the
      // k-scan farthest-first
      val k = math.max(8, (n / 250).toInt)
      val init = data
        .orderBy(xxhash64(col("vec_id"), lit(7)), col("vec_id"))
        .limit(k).collect().map(_.getSeq[Float](1).toArray).toSeq

      val (nAssigned, tFit) = timed {
        Clustering.kmeans(data, "vec_id", "embedding", k,
          iters = 3, init = init)._1.count()
      }
      val (nKept, tDedup) = timed {
        Clustering.semanticDedup(data, "vec_id", "embedding", k,
          iters = 3, tau = 0.98, init = init).count()
      }
      data.unpersist()

      val planted = n / 100
      val dropped = n - nKept
      require(nAssigned == n, s"assignment lost rows: $nAssigned/$n")
      require(math.abs(dropped - planted) <= planted / 20 + 1,
        s"scale $s: dropped $dropped, planted $planted — output not " +
          "invariant under growth")
      report.scale(s, Map("vecs" -> n.toDouble, "k" -> k.toDouble,
        "fit_sec" -> tFit.wall, "dedup_sec" -> tDedup.wall,
        "dropped" -> dropped.toDouble, "planted" -> planted.toDouble))
    }
    report.ratios()
  }
}
