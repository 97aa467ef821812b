package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011) in the engine's angular
  * geometry — the vector-compression scale path for ANN beyond
  * [[Similarity.quantizeInt8]]: a D-dim embedding becomes `m` small
  * integer codes (one per D/m-dim subspace), so a 100 TB vector corpus
  * shrinks to m bytes/vector of index state while search re-scores
  * against RECONSTRUCTED vectors (the asymmetric mode: queries stay
  * exact, the database side is its codebook approximation).
  *
  * Every stage reuses the proven deterministic machinery:
  *
  *   - codebooks train per subspace with [[Clustering.kmeans]] on the
  *     SLICED vectors (exact-decimal means — partition-invariant), so
  *     training is deterministic end to end;
  *   - encoding is the [[Clustering.assignClusters]] argmax shape —
  *     per-subspace cosine against ksub broadcast centroid literals,
  *     first-max tie-break, pure codegen'd projection, no shuffle;
  *   - search reconstructs map-side from the 3-level codebook literal
  *     (m × ksub × D/m floats riding in the plan) and ranks with the
  *     shared two-phase [[Similarity.rankTopK]] — never a per-query
  *     single-task window.
  *
  * Reconstruction collapses same-code vectors to identical
  * approximations by design, so ranking MUST tie-break (sim desc, id
  * asc) to stay deterministic — rankTopK's contract.
  */
object Pq {

  /** Validated dsub for a declared dimension: D must split evenly
    * into the m subspaces. */
  private def subDims(d: Int, m: Int): Int = {
    require(m >= 1 && d % m == 0,
      s"dim $d must be divisible by m=$m subspaces")
    d / m
  }

  private def sliceCol(vecCol: String, j: Int, dsub: Int): Column =
    slice(col(vecCol), j * dsub + 1, dsub)

  /** ONE hash-ordered deterministic sample of `n` full vectors — the
    * [[Similarity.ivfTopK]] sampled-centroid move as a shared helper
    * (a single TakeOrdered job; order depends only on ids, so it is
    * identical for any partitioning). */
  private[graft] def seedSample(data: DataFrame, idCol: String,
                                vecCol: String, n: Int): Seq[Array[Float]] = {
    val seeds: Array[Array[Float]] = data
      .select(col(idCol), col(vecCol))
      // null / non-finite vectors can't seed (★r18 numeric-pathology
      // sweep): a NaN/Inf seed is a dead codeword whose sims are all
      // NaN, and a null one NPE'd the collect below. Clean corpora
      // pick identical seeds (the filter drops nothing).
      .filter(Similarity.finiteVecCol(col(vecCol)))
      .orderBy(xxhash64(col(idCol), lit(0)), col(idCol))
      .limit(n)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    require(seeds.length == n,
      s"corpus has only ${seeds.length} usable (finite, non-null) " +
        s"rows for $n seed centroids")
    seeds.toSeq
  }

  /** Per-subspace similarity ARRAYS (`_pq_sims_j`(c) = cosine of the
    * j-th slice against codebook centroid c) — the LOWER projection of
    * the two-projection encode shape shared by [[encode]] and
    * [[IvfPq.encode]]. Split from [[codesFromSims]] (★r19): wrapping
    * the whole codes expression in a usability `when(...)` disables
    * codegen subexpression elimination for the conditional branch, so
    * the single-projection form re-evaluated every cosine TWICE (once
    * in `array_position`'s copy, once in `array_max`'s) — 2.5× on the
    * IVF-PQ encode/search entries. Aliasing the sims arrays below the
    * gate pins single evaluation structurally: each alias is consumed
    * twice, which is exactly what stops CollapseProject from inlining
    * it back under the CASE (the [[Clustering.assignWith]] move). */
  private[llm] def simsCols(vecCol: String, dsub: Int,
                            codebooks: Seq[Seq[Array[Float]]]): Seq[Column] =
    codebooks.indices.map { j =>
      array(codebooks(j).map(c =>
        graft.functions.GraftFunctions.cosine(
          sliceCol(vecCol, j, dsub), typedLit(c.toSeq))): _*)
        .as(s"_pq_sims_$j")
    }

  /** The codes array from the [[simsCols]] attributes: `codes`(j) =
    * first-max index of `_pq_sims_j` (the lower-centroid tie-break). */
  private[llm] def codesFromSims(m: Int): Column =
    array((0 until m).map { j =>
      (array_position(col(s"_pq_sims_$j"), array_max(col(s"_pq_sims_$j")))
        - 1).cast("int")
    }: _*)

  /** Train per-subspace codebooks: `m` independent deterministic
    * k-means fits ([[Clustering.kmeans]]) over the subvector slices,
    * seeded from ONE hash-ordered sample of ksub full vectors (the
    * [[Similarity.ivfTopK]] sampled-centroid move, sliced per
    * subspace driver-side) — farthest-first init would cost m·ksub
    * driver jobs here, one per centroid per subspace, where the
    * sample is a single TakeOrdered job for the whole codebook.
    * Deterministic across runs and partitionings (the order depends
    * only on ids). Returns codebooks(j)(c) = the c-th centroid of
    * subspace j (each of length D/m). */
  def train(data: DataFrame, idCol: String, vecCol: String,
            m: Int, ksub: Int, iters: Int): Seq[Seq[Array[Float]]] = {
    // the fit's dimension is the corpus's MODAL vector length (★r19
    // dimension-drift sweep: the former single-row probe adopted
    // whatever length its one probed row had)
    val d = Similarity.modalDim(data, vecCol)
    // whole-VECTOR exclusion of null/non-finite/wrong-length rows,
    // BEFORE slicing (★r18 numeric-pathology sweep + ★r19 dimension
    // gate): a NaN in subspace 0 leaves the row's subspace-1 slice
    // finite — and a TRUNCATED vector leaves its EARLY slices full
    // width — so the per-slice kmeans guard alone would let a corrupt
    // vector contribute to SOME codebooks; the contract is that it
    // contributes to none. On a STORED input (every public caller)
    // the expression predicate pushes to the scan — exactly what we
    // want. A COMPUTED input (the IVF-PQ residual frame) must NOT be
    // filtered here: Catalyst pushes predicates through a
    // deterministic-field Project REGARDLESS of the condition's own
    // determinism (★r19 — pinned in VectorPathologySpec; the r18
    // asNondeterministic fence was inert), inlining the whole
    // residual derivation into the predicate and re-paying it per
    // Lloyd scan. Such callers filter their SOURCE and use
    // [[trainPrefiltered]].
    trainPrefiltered(data.filter(Similarity.usableVecCol(col(vecCol), d)),
      idCol, vecCol, m, ksub, iters, d)
  }

  /** [[train]] minus the usability filter — input contract: every row
    * is non-null with finite elements and length `dim` (the caller
    * filtered its STORED source, e.g. [[IvfPq.train]] before the
    * residual projection, and passes the dimension it filtered to —
    * probing a COMPUTED frame for its dimension would re-pay its
    * derivation). The fold closure retains a whole-vector
    * non-finite/length exclusion as a backstop.
    *
    * All `m` subspace fits run in ONE set of Lloyd rounds (★r21): the
    * subspaces are mathematically independent, so one cached pass of
    * the FULL vectors per round folds every subspace's assignment +
    * exact-decimal sums simultaneously — `iters` treeAggregate jobs
    * total where the former per-subspace [[Clustering.kmeans]] loop
    * paid `m` separate cache materializations (for the IVF-PQ caller,
    * `m` re-derivations of the residual projection) and `m × iters`
    * jobs. At 100 TB that is `iters` corpus scans instead of
    * `m × iters`. Arithmetic is unchanged op-for-op — per subspace the
    * slice values, the [[Clustering.cosineSim]] argmax (strict `>`,
    * first max), the HALF_UP scale-12 addends, the HALF_EVEN mean and
    * the empty-cell keep-previous rule are exactly the former fit's,
    * and the sums are exact decimals, so the learned codebooks are
    * bit-identical for any partitioning (PqSpec + the q79/q81 oracle
    * literals pin this). */
  private[graft] def trainPrefiltered(usable: DataFrame, idCol: String,
                                      vecCol: String, m: Int, ksub: Int,
                                      iters: Int, dim: Int)
      : Seq[Seq[Array[Float]]] = {
    require(ksub >= 1 && iters >= 0,
      s"need ksub >= 1, iters >= 0; got $ksub, $iters")
    val dsub = subDims(dim, m)
    val seeds = seedSample(usable, idCol, vecCol, ksub)
    var codebooks: Array[Array[Array[Float]]] =
      Array.tabulate(m, ksub)((j, c) =>
        seeds(c).slice(j * dsub, (j + 1) * dsub))
    if (iters > 0) {
      val parts = usable.sparkSession.sparkContext.defaultParallelism
      val raw = usable.select(col(vecCol)).rdd.flatMap { r =>
        if (r.isNullAt(0)) Iterator.empty
        else {
          // boxed-view usability BEFORE toArray (the Clustering.kmeans
          // gate, verbatim): toArray unboxes a null element to 0.0f
          val s = r.getSeq[Float](0)
          if (Similarity.finiteVec(s) && s.length == dim)
            Iterator.single(s.toArray)
          else Iterator.empty
        }
      }
      val vecs = (if (raw.getNumPartitions < parts) raw.repartition(parts)
                  else raw).persist()
      try {
        for (_ <- 0 until iters) {
          val cents = codebooks.map(_.map(_.clone()))
          val zero = (Array.fill(m, ksub, dsub)(java.math.BigDecimal.ZERO),
            Array.fill(m, ksub, dsub)(0L))
          val (sums, counts) = vecs.treeAggregate(zero)(
            seqOp = { case (acc @ (s, n), v) =>
              var j = 0
              while (j < m) {
                val off = j * dsub
                // first-max cosine argmax over subspace j's centroids —
                // Clustering.nearestCentroid on the slice, offset form
                var best = 0
                var bestSim = Double.NegativeInfinity
                var c = 0
                while (c < ksub) {
                  val sim = Clustering.cosineSimOff(v, off, cents(j)(c))
                  if (sim > bestSim) { bestSim = sim; best = c }
                  c += 1
                }
                var d = 0
                while (d < dsub) {
                  s(j)(best)(d) = s(j)(best)(d).add(java.math.BigDecimal
                    .valueOf(v(off + d).toDouble)
                    .setScale(12, java.math.RoundingMode.HALF_UP))
                  n(j)(best)(d) += 1L
                  d += 1
                }
                j += 1
              }
              acc
            },
            combOp = { case (a @ (sa, na), (sb, nb)) =>
              var j = 0
              while (j < m) {
                var c = 0
                while (c < ksub) {
                  var d = 0
                  while (d < dsub) {
                    sa(j)(c)(d) = sa(j)(c)(d).add(sb(j)(c)(d))
                    na(j)(c)(d) += nb(j)(c)(d)
                    d += 1
                  }
                  c += 1
                }
                j += 1
              }
              a
            })
          // an empty (subspace, cluster, dim) cell keeps its previous
          // value — Clustering.kmeans's rule, per subspace
          val next = codebooks.map(_.map(_.clone()))
          for (j <- 0 until m; c <- 0 until ksub; d <- 0 until dsub
               if counts(j)(c)(d) > 0)
            next(j)(c)(d) = sums(j)(c)(d)
              .divide(java.math.BigDecimal.valueOf(counts(j)(c)(d)), 12,
                java.math.RoundingMode.HALF_EVEN)
              .floatValue()
          codebooks = next
        }
      } finally { vecs.unpersist(); () }
    }
    codebooks.toSeq.map(_.toSeq)
  }

  /** The per-row PQ code array (`codes`(j) = nearest subspace-j
    * centroid by cosine, first-max tie-break): one codegen'd
    * projection, no shuffle. Output: (idCol, `codes` array<int>).
    *
    * The dimension comes from the MODEL (m · dsub), never probed from
    * the data (★r19 dimension-drift sweep — encoding is serving, and
    * the codebooks already declare what they can encode; this also
    * drops the one probe job the old inference paid). A row that is
    * null, non-finite, or not model-dimension gets NULL codes — the
    * encode twin of the NULL cluster_id convention; its
    * reconstruction is NULL, so it ranks nowhere downstream. */
  def encode(data: DataFrame, idCol: String, vecCol: String,
             codebooks: Seq[Seq[Array[Float]]]): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "need codebooks")
    val dsub = codebooks.head.head.length
    require(codebooks.forall(_.forall(_.length == dsub)),
      "codebooks must share one subspace dimension, got lengths " +
        codebooks.flatMap(_.map(_.length)).distinct.mkString(","))
    graft.functions.GraftFunctions.register(data.sparkSession)
    val d = codebooks.length * dsub
    // two-projection shape (see [[simsCols]]): sims computed ONCE
    // below the usability gate; the gate consumes only attributes
    data.select(col(idCol) +: col(vecCol) +:
        simsCols(vecCol, dsub, codebooks): _*)
      .select(col(idCol),
        when(Similarity.usableVecCol(col(vecCol), d),
          codesFromSims(codebooks.length)).as("codes"))
  }

  /** Asymmetric PQ top-k: exact queries against RECONSTRUCTED database
    * vectors (code j ↦ its subspace centroid, concatenated). The
    * reconstruction is a map-side expression over the codebook literal
    * — the compressed corpus never re-reads the original vectors — and
    * ranking is the shared two-phase top-k.
    * Output: (`q_id`, idCol, `rank` 1..k), self-pairs excluded. */
  def reconstructTopK(data: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String,
                      codebooks: Seq[Seq[Array[Float]]],
                      k: Int): DataFrame =
    reconstructTopKEncoded(encode(data, idCol, vecCol, codebooks),
      queries, idCol, vecCol, codebooks, k)

  /** [[reconstructTopK]] against an ALREADY-ENCODED frame (the
    * [[encode]] output — what a 100 TB corpus actually stores): the
    * original vectors are never touched. This is the index-serving
    * seam the auto-tuner iterates on — encode once, probe many. */
  def reconstructTopKEncoded(encoded: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String,
                             codebooks: Seq[Seq[Array[Float]]],
                             k: Int): DataFrame = {
    require(codebooks.nonEmpty && k >= 1, "need codebooks and k >= 1")
    graft.functions.GraftFunctions.register(encoded.sparkSession)
    val m = codebooks.length
    val cb = typedLit(codebooks.map(_.map(_.toSeq)))
    val recon = concat((0 until m).map { j =>
      element_at(element_at(cb, j + 1),
        element_at(col("codes"), j + 1) + 1)
    }: _*)
    val q = broadcast(queries.select(
      col(idCol).as("q_id"), col(vecCol).as("_q_vec")))
    val scored = encoded
      .withColumn("_recon", recon)
      .crossJoin(q)
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("_sim", graft.functions.GraftFunctions.cosine(
        col("_q_vec"), col("_recon")))
    Similarity.rankTopK(scored, idCol, k)
  }

  /** PQ-shortlist + EXACT re-rank — the production refine step: the
    * compressed index proposes `shortlist` candidates per query
    * (reconstruction ranking — cheap, code-only), and ONLY those rows
    * re-read their exact vectors for a true cosine top-k. At 100 TB
    * the exact pass touches shortlist/n of the corpus per query;
    * recall is whatever fraction of true neighbors survives the
    * shortlist (the bench's `ann_recall_pq_refined_min` facet watches
    * exactly that — raise `shortlist` or ksub when it erodes).
    * Output: (`q_id`, idCol, `rank` 1..k). */
  def refinedTopK(data: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String,
                  codebooks: Seq[Seq[Array[Float]]],
                  shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cand = reconstructTopK(data, queries, idCol, vecCol,
      codebooks, shortlist).select(col("q_id"), col(idCol))
    Similarity.exactRerank(cand, data, queries, idCol, vecCol, k)
  }

  /** Recall-driven refine — [[Similarity.ivfTopKAutoTuned]]'s loop for
    * the PQ knob: [[refinedTopK]] with `shortlist` AUTO-DOUBLED (from
    * `initialShortlist`, capped at the corpus size) until measured
    * recall@k on a probe sample reaches `targetRecall`. This closes
    * the loop the r12 bench exposed: a fixed shortlist tuned at
    * corpus size n silently erodes at 10n (refined min-recall read
    * 0.5 at sf0.1), while the re-measuring walk pays a bounded probe
    * cost and keeps the guarantee.
    *
    * Probe cost is bounded exactly like IVF's tuner: the sample is
    * the first `maxTuneQueries` queries in id order (deterministic),
    * ground truth is ONE brute-force pass, and each iteration ranks
    * only the sample. Termination: at `shortlist` = corpus size the
    * shortlist holds every candidate, so [[refinedTopK]] IS
    * [[Similarity.bruteForceTopK]] (spec-pinned) and recall = 1. With
    * the full query set as sample and `targetRecall = 1.0` the output
    * provably equals the exact ranking (equal top-k sets re-scored by
    * exact cosine with the same id tie-break rank identically) — the
    * q56 move that lets an adaptive operator hash-gate against the
    * exact SQL oracle.
    *
    * Returns (ranked top-k frame for ALL queries, paid shortlist). */
  def refinedTopKAutoTuned(data: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String,
                           codebooks: Seq[Seq[Array[Float]]],
                           k: Int, targetRecall: Double,
                           initialShortlist: Int = -1,
                           maxTuneQueries: Int = 16)
      : (DataFrame, Int) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0,1], got $targetRecall")
    // corpus size = the shortlist cap (one count job; self-pairs are
    // excluded so n already covers every possible candidate)
    val cap = math.min(data.count(), Int.MaxValue.toLong).toInt
    require(cap >= 1, "empty corpus")
    // encode ONCE and iterate against the stored index — the walk's
    // per-iteration corpus work is the candidate scoring, never a
    // re-encode (at 100 TB the codes are the persisted artifact;
    // re-deriving them per probe iteration would re-read the corpus)
    val enc = encode(data, idCol, vecCol, codebooks).persist()
    val (tuned, paid) = SimilarityEval.tuneUntilRecall[Int](
      data, queries, idCol, vecCol, k, targetRecall, maxTuneQueries,
      initial = math.min(cap, math.max(k,
        if (initialShortlist > 0) initialShortlist else 4 * k)),
      escalate = sl => math.min(cap.toLong, sl.toLong * 2).toInt,
      atCap = _ >= cap,
      run = (qs, sl) => Similarity.exactRerank(
        reconstructTopKEncoded(enc, qs, idCol, vecCol, codebooks, sl)
          .select(col("q_id"), col(idCol)),
        data, qs, idCol, vecCol, k))
    val out = tuned.localCheckpoint(true)
    enc.unpersist()
    (out, paid)
  }

  // ---- DuckDB replay (the q57 centroid-literal move, per subspace) --

  private def centroidLit(c: Array[Float]): String =
    c.map(f => java.lang.Double.toString(f.toDouble))
      .mkString("[", ", ", "]")

  /** The per-subspace code CTE body: `sims_j` lists + first-max codes
    * from the SAME codebook literals the entry used. 1-based inclusive
    * DuckDB list slices mirror [[sliceCol]]. */
  private def codeCtes(codebooks: Seq[Seq[Array[Float]]], dsub: Int,
                       table: String, idCol: String,
                       vecCol: String): String = {
    val m = codebooks.length
    val simCols = (0 until m).map { j =>
      val lo = j * dsub + 1; val hi = (j + 1) * dsub
      codebooks(j).map(c =>
        s"list_cosine_similarity(CAST($vecCol[$lo:$hi] AS DOUBLE[])," +
          s" CAST(${centroidLit(c)} AS DOUBLE[]))")
        .mkString("[", ", ", "]") + s" AS sims_$j"
    }.mkString(", ")
    val codeCols = (0 until m).map(j =>
      s"CAST(list_position(sims_$j, list_max(sims_$j)) - 1 AS INTEGER)" +
        s" AS code_$j").mkString(", ")
    s"WITH s AS (SELECT $idCol, $vecCol, $simCols FROM $table)," +
      s" c AS (SELECT $idCol, $vecCol, $codeCols FROM s)"
  }

  /** DuckDB replay of [[encode]] exploded to (idCol, `sub`, `code`). */
  def encodeOracleSql(codebooks: Seq[Seq[Array[Float]]], dsub: Int,
                      table: String = "embeddings",
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): String = {
    val branches = codebooks.indices.map(j =>
      s"SELECT $idCol, $j AS sub, code_$j AS code FROM c").mkString(
      " UNION ALL ")
    s"${codeCtes(codebooks, dsub, table, idCol, vecCol)} $branches"
  }

  /** DuckDB replay of [[reconstructTopK]]: codes from the literals,
    * reconstruction by literal-list indexing, the annOracle ranking. */
  def searchOracleSql(codebooks: Seq[Seq[Array[Float]]], dsub: Int,
                      k: Int, queryPred: String,
                      table: String = "embeddings",
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): String = {
    val recon = codebooks.indices.map { j =>
      val lit = codebooks(j).map(centroidLit)
        .mkString("[", ", ", "]")
      s"($lit)[code_$j + 1]"
    }.mkString(" || ")
    s"${codeCtes(codebooks, dsub, table, idCol, vecCol)}," +
      s" r AS (SELECT $idCol, $recon AS recon FROM c)" +
      s" SELECT q.$idCol AS q_id, r.$idCol AS $idCol," +
      s" ROW_NUMBER() OVER (PARTITION BY q.$idCol ORDER BY" +
      s" list_cosine_similarity(CAST(q.$vecCol AS DOUBLE[])," +
      s" CAST(r.recon AS DOUBLE[])) DESC, r.$idCol) AS rank" +
      s" FROM $table q, r" +
      s" WHERE ($queryPred) AND r.$idCol <> q.$idCol" +
      s" QUALIFY rank <= $k"
  }
}
