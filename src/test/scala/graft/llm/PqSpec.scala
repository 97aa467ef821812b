package graft.llm

import graft.SparkSpec

/** Product quantization: per-subspace argmax encoding, deterministic
  * training, and exact agreement of reconstruction-ranked search with
  * brute force when the corpus sits ON the codebook (reconstruction
  * is lossless there). */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val cb: Seq[Seq[Array[Float]]] = Seq(
    Seq(Array(1f, 0f), Array(0f, 1f)), // subspace 0
    Seq(Array(1f, 1f), Array(1f, -1f))) // subspace 1

  test("encode picks the per-subspace cosine argmax (scale-invariant), " +
    "first-max tie to the lower code, partitioning-invariant") {
    val vecs = Seq(
      (1L, Seq(5f, 0f, 2f, 2f)), // -> (0, 0)
      (2L, Seq(0f, 3f, 4f, -4f)), // -> (1, 1)
      (3L, Seq(2f, 2f, 1f, 0f))) // both subspaces tie -> (0, 0)
    val df = vecs.toDF("vec_id", "embedding")
    def codes(d: org.apache.spark.sql.DataFrame) =
      Pq.encode(d, "vec_id", "embedding", cb)
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
        .sortBy(_._1).toSeq
    assert(codes(df) == Seq(
      (1L, Seq(0, 0)), (2L, Seq(1, 1)), (3L, Seq(0, 0))), codes(df))
    assert(codes(df.repartition(5)) == codes(df))
  }

  test("train is deterministic for any partitioning and shapes to " +
    "m x ksub x D/m") {
    val rnd = new scala.util.Random(11)
    val data = (0L until 24L).map(i =>
      (i, Seq.fill(4)(rnd.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val a = Pq.train(data, "vec_id", "embedding", m = 2, ksub = 3,
      iters = 2)
    val b = Pq.train(data.repartition(7), "vec_id", "embedding", m = 2,
      ksub = 3, iters = 2)
    assert(a.length == 2 && a.forall(_.length == 3) &&
      a.forall(_.forall(_.length == 2)))
    assert(a.map(_.map(_.toSeq)) == b.map(_.map(_.toSeq)))
  }

  test("batched train (one Lloyd pass for all m subspaces, ★r21) is " +
    "bit-identical to m independent per-slice Clustering.kmeans fits " +
    "(the former definition)") {
    val rnd = new scala.util.Random(47)
    val data = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val m = 4; val ksub = 3; val iters = 3; val dsub = 2
    val batched = Pq.train(data, "vec_id", "embedding", m, ksub, iters)
    // the former implementation, re-expressed: one shared seed sample,
    // then m separate kmeans fits over the slice projections
    val d = Similarity.modalDim(data, "embedding")
    val usable = data.filter(
      Similarity.usableVecCol(
        org.apache.spark.sql.functions.col("embedding"), d))
    val seeds = Pq.seedSample(usable, "vec_id", "embedding", ksub)
    val separate = (0 until m).map { j =>
      Clustering.kmeans(
        usable.select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.slice(
            org.apache.spark.sql.functions.col("embedding"),
            j * dsub + 1, dsub).as("embedding")),
        "vec_id", "embedding", ksub, iters,
        init = seeds.map(_.slice(j * dsub, (j + 1) * dsub)))._2
    }
    assert(batched.map(_.map(_.toSeq)) == separate.map(_.map(_.toSeq)))
  }

  test("reconstructTopK equals brute force when vectors sit on the " +
    "codebook (lossless reconstruction)") {
    val data = (for {
      (c0, i0) <- cb(0).zipWithIndex
      (c1, i1) <- cb(1).zipWithIndex
    } yield ((i0 * 2 + i1).toLong, (c0 ++ c1).toSeq)).toSeq
      .toDF("vec_id", "embedding")
    val queries = data.filter($"vec_id" < 2)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(t => (t._1, t._3)).toSeq
    val pq = Pq.reconstructTopK(data, queries, "vec_id", "embedding",
      cb, k = 3)
    val brute = Similarity.bruteForceTopK(data, queries, "vec_id",
      "embedding", k = 3)
    assert(rows(pq) == rows(brute), s"${rows(pq)} vs ${rows(brute)}")
  }

  test("refinedTopK with a corpus-sized shortlist equals brute force " +
    "even when reconstruction is lossy") {
    val rnd = new scala.util.Random(23)
    val data = (0L until 30L).map(i =>
      (i, Seq.fill(4)(rnd.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val queries = data.filter($"vec_id" < 2)
    val cbs = Pq.train(data, "vec_id", "embedding", m = 2, ksub = 2,
      iters = 2) // 4 reconstructions for 30 vectors: heavily lossy
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(t => (t._1, t._3)).toSeq
    val refined = Pq.refinedTopK(data, queries, "vec_id", "embedding",
      cbs, shortlist = 29, k = 5)
    val brute = Similarity.bruteForceTopK(data, queries, "vec_id",
      "embedding", k = 5)
    assert(rows(refined) == rows(brute),
      s"${rows(refined)} vs ${rows(brute)}")
  }

  test("refinedTopKAutoTuned at target 1.0 with the full query sample " +
    "equals brute force and reports a paid shortlist within bounds") {
    val rnd = new scala.util.Random(31)
    val data = (0L until 30L).map(i =>
      (i, Seq.fill(4)(rnd.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val queries = data.filter($"vec_id" < 3)
    val cbs = Pq.train(data, "vec_id", "embedding", m = 2, ksub = 2,
      iters = 2) // heavily lossy: the walk must actually raise shortlist
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(t => (t._1, t._3)).toSeq
    val (tuned, paid) = Pq.refinedTopKAutoTuned(data, queries,
      "vec_id", "embedding", cbs, k = 5, targetRecall = 1.0,
      initialShortlist = 5)
    val brute = Similarity.bruteForceTopK(data, queries, "vec_id",
      "embedding", k = 5)
    assert(rows(tuned) == rows(brute),
      s"${rows(tuned)} vs ${rows(brute)}")
    assert(paid >= 5 && paid <= 30, s"paid shortlist $paid")
  }

  test("refinedTopKAutoTuned keeps the initial shortlist when the " +
    "sample already meets the target (no wasted walk)") {
    // vectors ON the codebook: reconstruction is lossless, so even the
    // smallest shortlist has recall 1.0 and the tuner must stop at it
    val data = (for {
      (c0, i0) <- cb(0).zipWithIndex
      (c1, i1) <- cb(1).zipWithIndex
    } yield ((i0 * 2 + i1).toLong, (c0 ++ c1).toSeq)).toSeq
      .toDF("vec_id", "embedding")
    val queries = data.filter($"vec_id" < 2)
    val (_, paid) = Pq.refinedTopKAutoTuned(data, queries, "vec_id",
      "embedding", cb, k = 3, targetRecall = 1.0, initialShortlist = 3)
    assert(paid == 3, s"expected the initial shortlist 3, paid $paid")
  }
}
