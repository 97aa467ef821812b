package graft.tools

import graft.llm.Dedup
import graft.tools.Session.timed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only stage-attribution probe for the heaviest bench entries:
  * times each entry's TRAIN and CONSUME halves separately, twice each
  * (cold then warm, same JVM), so perf work knows whether the cost is
  * model fitting (driver-sequenced Lloyd/GD/BPE rounds), codegen, or
  * the scoring scan before touching anything. Not part of the gate —
  * `runMain graft.tools.Soak probe [probe ...]` with the Bench env
  * (`SPARK_GRAFT_SF_DIR`); no probe names = all probes.
  *
  * Probes: `classifier`, `ivfpq`, `ivfpqsteps` (the steps inside
  * IvfPq.train), `bpe`, `kmeans`, `jaccard` (the q29 pipeline's
  * stages), and `dump` (exact model values for before/after diffs). */
object PerfProbe {

  private def time[A](name: String)(f: => A): A = {
    val (a, t) = timed(f)
    println(Soak.line("tier" -> "probe", "probe" -> name, "sec" -> t.wall))
    a
  }

  def run(spark: SparkSession, scales: Seq[Int], args: Seq[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val want: Set[String] = args.toSet
    def on(p: String): Boolean = want.isEmpty || want(p)

    def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
    def emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")
    // warmup: JVM + parquet reader paths
    docs.count(); emb.count()

    if (on("classifier")) {
      val teacher = graft.llm.TextStats.qualityKeep(col("text"))
      val m = time("classifier_train_cold") {
        graft.llm.Classifier.train(docs, "text", teacher, iters = 60) }
      time("classifier_train_warm") {
        graft.llm.Classifier.train(docs, "text", teacher, iters = 60) }
      time("classifier_score") {
        graft.llm.Classifier.score(docs, "doc_id", "text", m).count() }
    }
    if (on("ivfpq")) {
      val m = time("ivfpq_train_cold") {
        graft.llm.IvfPq.train(emb, "vec_id", "embedding",
          nlist = 4, m = 4, ksub = 8, iters = 3) }
      time("ivfpq_train_warm") {
        graft.llm.IvfPq.train(emb, "vec_id", "embedding",
          nlist = 4, m = 4, ksub = 8, iters = 3) }
      time("ivfpq_encode") {
        graft.llm.IvfPq.encode(emb, "vec_id", "embedding", m).count() }
    }
    if (on("ivfpqsteps")) {
      import graft.llm.{Clustering, IvfPq, Pq, Similarity}
      // stage attribution INSIDE IvfPq.train: which of the
      // driver-sequenced steps carries the cost — dimension probe,
      // seed sample, coarse Lloyd rounds, or the residual PQ fit.
      (1 to 2).foreach { round =>
        val d = time(s"ivfpq_modalDim_$round") {
          Similarity.modalDim(emb, "embedding") }
        val clean = emb.filter(
          Similarity.usableVecCol(col("embedding"), d))
        val seeds = time(s"ivfpq_seedSample_$round") {
          Pq.seedSample(clean, "vec_id", "embedding", 4) }
        val coarse = time(s"ivfpq_coarse_kmeans_$round") {
          Clustering.kmeans(clean, "vec_id", "embedding", 4,
            3, init = seeds)._2 }
        val resid = IvfPq.residuals(clean, "vec_id", "embedding", coarse)
          .select(col("vec_id"), col("embedding"))
        time(s"ivfpq_pq_fit_$round") {
          Pq.trainPrefiltered(resid, "vec_id", "embedding",
            4, 8, 3, d) }
      }
    }
    if (on("bpe")) {
      val merges = time("bpe_learn_cold") {
        graft.llm.Bpe.learn(docs, "text", numMerges = 24) }
      time("bpe_learn_warm") {
        graft.llm.Bpe.learn(docs, "text", numMerges = 24) }
      time("bpe_encode") {
        graft.llm.Bpe.encode(docs, "text", merges).count() }
    }
    if (on("kmeans")) {
      time("kmeans8_cold") {
        graft.llm.Clustering.kmeans(emb, "vec_id", "embedding",
          k = 8, iters = 4) }
      time("kmeans8_warm") {
        graft.llm.Clustering.kmeans(emb, "vec_id", "embedding",
          k = 8, iters = 4) }
    }
    if (on("dump")) {
      // exact model values for before/after rewrite diffs
      val teacher = graft.llm.TextStats.qualityKeep(col("text"))
      val w = graft.llm.Classifier.train(docs, "text", teacher, iters = 60)
      println(s"DUMP classifier ${w.weightsMicro.mkString(",")}")
      val m = graft.llm.IvfPq.train(emb, "vec_id", "embedding",
        nlist = 4, m = 4, ksub = 8, iters = 3)
      def hex(a: Array[Float]): String =
        a.map(f => java.lang.Float.floatToRawIntBits(f).toHexString)
          .mkString(",")
      m.coarse.zipWithIndex.foreach { case (c, i) =>
        println(s"DUMP coarse$i ${hex(c)}") }
      m.codebooks.zipWithIndex.foreach { case (cb, j) =>
        cb.zipWithIndex.foreach { case (c, i) =>
          println(s"DUMP code$j-$i ${hex(c)}") } }
      val merges = graft.llm.Bpe.learn(docs, "text", numMerges = 24)
      println(s"DUMP merges ${merges.map(mm => mm.a + "+" + mm.b).mkString("|")}")
    }
    if (on("jaccard")) {
      time("jaccard_exact_cold") {
        Dedup.jaccardPairsExact(docs, "doc_id", "text",
          shingleLen = 16, threshold = 0.8).count() }
      time("jaccard_exact_warm") {
        Dedup.jaccardPairsExact(docs, "doc_id", "text",
          shingleLen = 16, threshold = 0.8).count() }
      // stage attribution for the q29 pipeline: candidates WITHOUT the
      // exact-verify stage vs the full pipeline — the difference prices
      // the per-pair string re-shingling the verify UDF pays.
      // (the census and prefix stage at jaccardPairsExact's defaults)
      def prefixStage() = Dedup.censusPrefixIndex(docs, "doc_id", "text",
        shingleLen = 16, threshold = 0.8, commonShingleCap = 100000,
        censusSampleFraction = 1.0, saltBlock = 2048, maxSalts = 64)
      time("jaccard_census_only") {
        Dedup.censusDfMap(docs, "text", shingleLen = 16,
          commonShingleCap = 100000, censusSampleFraction = 1.0).size }
      time("jaccard_prefix_index") {
        val (prefix, cleanup) = prefixStage()
        Dedup.registerCleanup(cleanup)
        prefix.count() }
      Dedup.releaseCaches()
      time("jaccard_candidates_only") {
        val (prefix, cleanup) = prefixStage()
        Dedup.registerCleanup(cleanup)
        Dedup.selfJoinCandidates(prefix, 0.8).count() }
      Dedup.releaseCaches()
      time("jaccard_full_again") {
        Dedup.jaccardPairsExact(docs, "doc_id", "text",
          shingleLen = 16, threshold = 0.8).count() }
    }
  }
}
