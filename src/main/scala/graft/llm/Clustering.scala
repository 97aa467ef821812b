package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-space clustering for training-data curation — the coarse
  * structure pass behind semantic dedup (SemDeDup, Abbas et al. 2023),
  * data-mixture balancing, and per-cluster sampling.
  *
  * Everything here is DETERMINISTIC across runs AND partitionings —
  * the property that makes clustering usable inside a correctness-
  * gated pipeline:
  *
  *   - init: deterministic farthest-first traversal
  *     ([[farthestFirstInit]] — min-id seed, then per-round global
  *     (score, id) argmins), or any caller-supplied centroid list
  *     (pass a hash-sampled one at SemDeDup-scale k).
  *   - assignment: cosine argmax with ties to the lower cluster
  *     index — a pure shuffle-free projection (codegen'd expression
  *     array at coarse k, one flat UDF over the broadcast centroid
  *     matrix above [[ExprAssignMaxK]]; identical argmax either way).
  *   - update: per-dimension means are computed in EXACT decimal
  *     arithmetic (each float is cast to `decimal(30,12)` — a
  *     deterministic per-value rounding — then summed exactly), so
  *     the result is independent of partition/summation order; a
  *     float-sum mean here would make centroids, and therefore
  *     assignments, drift run to run. The aggregate collapses to
  *     k·dim rows (map-side partials), driver memory O(k·dim).
  *
  * Scale shape at 100 TB: each Lloyd iteration is one scan — the
  * assignment projection feeds a `posexplode` + hash aggregation of
  * n·dim rows reduced map-side to k·dim partials per partition. No
  * per-iteration driver traffic beyond the k·dim centroid table, and
  * lineage stays flat (each iteration re-reads the source, not the
  * previous iteration's plan).
  */
object Clustering {

  /** Assign every row to its nearest centroid by cosine (ties to the
    * lower cluster index). Pure projection over the broadcast centroid
    * literals — shuffle-free, whole-stage-codegen'd.
    * Output: (idCol, `cluster_id` int). */
  def assignClusters(data: DataFrame, idCol: String, vecCol: String,
                     centroids: Seq[Array[Float]]): DataFrame =
    assignWith(data, idCol, vecCol, centroids).select(
      col(idCol), col("cluster_id"))

  /** Above this k the assignment switches from the k-literal
    * expression array (whole-stage codegen'd — but the plan holds one
    * cosine EXPRESSION per centroid, and codegen cost grows with k:
    * the 30× soak measured a 66× blowup at k=240) to a single UDF
    * looping over the broadcast centroid matrix (same arithmetic, flat
    * plan). Both paths compute the IDENTICAL argmax — the UDF mirrors
    * [[graft.functions.FloatVectorCosine]] op-for-op (double
    * accumulation in element order, `sqrt(na)*sqrt(nb)` denominator,
    * 0.0 on zero norm), so the q57/q58/q61 oracles replay either. */
  val ExprAssignMaxK = 32

  /** [[assignClusters]] keeping the vector column (internal shape for
    * the update step, [[semanticDedup]]'s pair join, and
    * [[IvfPq]]'s residual projection). */
  private[llm] def assignWith(data: DataFrame, idCol: String, vecCol: String,
                              centroids: Seq[Array[Float]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(centroids.forall(_.length == centroids.head.length),
      "centroids must share one dimension, got lengths " +
        centroids.map(_.length).distinct.mkString(","))
    // non-finite vectors take NULL cluster_id on BOTH branches,
    // joining the null-vector convention: a NaN/Inf vector's sims are
    // all NaN, NaN compares greatest AND equal to itself under Spark's
    // total order, so a bare expression argmax would "assign" it to
    // cluster 0 — a directionless corrupt vector must not land in (and
    // skew the consumers of) a real cluster. WRONG-LENGTH vectors take
    // NULL cluster_id too: on the expression branch that is the
    // kernel's own mismatch → NULL flowing through array_max /
    // array_position (both NULL-in NULL-out), on the UDF branch an
    // explicit length gate — the branches stay twins. Finite
    // right-dimension rows, including zero vectors (sim-0
    // convention), are untouched.
    if (centroids.length <= ExprAssignMaxK) {
        graft.functions.GraftFunctions.register(data.sparkSession)
        val sims = array(centroids.map(c =>
          graft.functions.GraftFunctions.cosine(
            col(vecCol), typedLit(c.toSeq))): _*)
        data.select(col(idCol), col(vecCol), sims.as("_sims"))
          .select(col(idCol), col(vecCol),
            when(Similarity.finiteVecCol(col(vecCol)),
              (array_position(col("_sims"), array_max(col("_sims"))) - 1)
                .cast("int")).as("cluster_id"))
      } else {
        val cents = centroids.toArray
        // null/non-finite/wrong-length vec -> null cluster_id,
        // matching the expression branch
        val dim = cents(0).length
        val assign = udf { (vec: Seq[Float]) =>
          if (!Similarity.finiteVec(vec) || vec.length != dim) None
          else Some(nearestCentroid(vec.toArray, cents))
        }
        data.select(col(idCol), col(vecCol),
          assign(col(vecCol)).as("cluster_id"))
      }
  }

  /** The cosine argmax both [[assignWith]] paths and the Lloyd-round
    * closure compute: [[graft.functions.FloatVectorCosine]] arithmetic
    * op-for-op (double accumulation in element order, `sqrt(na)*
    * sqrt(nb)` denominator, 0.0 on zero norm), strict `>` keeping the
    * FIRST max — the lower-index tie-break. PRECONDITION: `v.length ==
    * cents(i).length` for every i (every caller length-gates) —
    * a mismatched pair scores NaN, which never wins the strict `>`,
    * and an ALL-mismatch call would fall through to index 0. */
  private[llm] def nearestCentroid(v: Array[Float],
                                   cents: Array[Array[Float]]): Int = {
    var best = 0; var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val sim = cosineSim(v, cents(c))
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  /** [[graft.functions.FloatVectorCosine]] arithmetic op-for-op:
    * double accumulation in element order, `sqrt(na)*sqrt(nb)`
    * denominator, 0.0 on zero norm. A LENGTH MISMATCH returns NaN —
    * the closure-world analog of the kernel's NULL (a min-clip would
    * give a truncated vector a valid-looking prefix cosine). Callers
    * length-gate their rows,
    * so a NaN here marks a caller bug, and it can never win
    * [[nearestCentroid]]'s strict `>`. */
  private[llm] def cosineSim(v: Array[Float], cv: Array[Float]): Double = {
    if (v.length != cv.length) return Double.NaN
    val m = v.length
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < m) {
      val x = v(i).toDouble; val y = cv(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** [[cosineSim]] of `v`'s slice `[off, off + cv.length)` against
    * `cv`, without materializing the slice — the batched PQ fold's
    * per-subspace kernel ([[Pq.trainPrefiltered]]). Identical
    * arithmetic order to `cosineSim(v.slice(off, off + cv.length),
    * cv)`; the caller guarantees `off + cv.length <= v.length` (the
    * fold's whole-vector length gate). */
  private[llm] def cosineSimOff(v: Array[Float], off: Int,
                                cv: Array[Float]): Double = {
    val m = cv.length
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < m) {
      val x = v(off + i).toDouble; val y = cv(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Spark SQL's double total order (`SQLOrderingUtil`): NaN is
    * greatest and equal to itself, −0.0 equals 0.0 — what the former
    * `orderBy`/`array_max` rounds compared with, replicated so the
    * closure rounds pick identical rows. */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a < b) -1 else if (a > b) 1 else if (a == b) 0
    else {
      val an = java.lang.Double.isNaN(a)
      val bn = java.lang.Double.isNaN(b)
      if (an && bn) 0 else if (an) 1 else -1
    }

  /** Deterministic farthest-first init (the k-means++ idea without the
    * randomness): the min-id vector seeds the set, then each round
    * adds the point with the LOWEST max-cosine to the chosen set
    * (= angularly farthest; ties to the smaller id). One treeReduce
    * round over the cached rows per centroid — use for coarse k; at
    * SemDeDup-scale k (tens of thousands) pass a pre-sampled `init`
    * to [[kmeans]] instead. Deterministic for any partitioning: each
    * round is a global (score, id) argmin. Well-separated groups are
    * recovered by construction — the next pick always comes from the
    * group farthest from everything chosen so far, which a one-shot
    * sample cannot guarantee. */
  def farthestFirstInit(data: DataFrame, idCol: String, vecCol: String,
                        k: Int): Seq[Array[Float]] = {
    require(k >= 1, s"k must be >= 1, got $k")
    // each round is a (max-cosine-to-chosen, id) argmin — a treeReduce
    // over the cached (id, vec) rows, instead of k−1 full-table
    // TakeOrdered scans whose sim expression grows (and re-codegens)
    // every round. The argmin is a unique total-order minimum
    // ((score, id), ids distinct), so the reduce is deterministic for
    // any partitioning; score comparison replicates the SQL double
    // order ([[cmpDouble]]) the former orderBy used.
    // null-vector AND null-id rows are SKIPPED (neither can be a
    // deterministic centroid pick, and the former expression plan
    // dropped them by null propagation) — the closure must not NPE
    // on getSeq(null).toArray or abort the fit on a stray null id.
    // Ids keep their ORIGINAL values (any orderable id type is
    // accepted, not just Long/Int) — tie-breaks
    // compare via [[cmpId]], a generic ordering over whatever
    // Comparable type the column yields (integrals fast-pathed as
    // Long, strings/decimals/dates via compareTo).
    // null-id, null-vector AND non-finite-vector rows are skipped
    // (a NaN/Inf vector scores NaN against everything — as the
    // min-id seed it would poison every round's farthest pick)
    val rows = data.select(col(idCol), col(vecCol)).rdd.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1) ||
          !Similarity.finiteVec(r.getSeq[Float](1))) Iterator.empty
      else {
        val id: Any = r.get(0) match {
          case l: Long => l
          case i: Int => i.toLong
          case s: Short => s.toLong
          case b: Byte => b.toLong
          case c: Comparable[_] => c
          case other => throw new IllegalArgumentException(
            "farthestFirstInit needs an orderable (Comparable) id " +
              s"column for deterministic tie-breaks, got: " +
              s"${other.getClass.getName}")
        }
        Iterator.single((id, r.getSeq[Float](1).toArray))
      }
    }.persist()
    try {
      // modal vector length: farthest-first would LOVE a wrong-length
      // vector — a clamped prefix cosine makes it look far from
      // everything chosen, so one truncated row would be near-certain
      // to be picked as a seed and poison the fit.
      // The fit's dimension is the corpus's MODAL length (count desc,
      // length asc tie-break — deterministic for any partitioning),
      // and rows of any other length contribute nothing, matching the
      // Lloyd fold's gate. One extra pass over the already-cached rows.
      val lens = rows.map(_._2.length).countByValue()
      val rowsAtDim = if (lens.size <= 1) rows else {
        val d = lens.toSeq.minBy { case (len, n) => (-n, len) }._1
        rows.filter(_._2.length == d)
      }
      val first = rowsAtDim.takeOrdered(1)(Ordering.fromLessThan[
        (Any, Array[Float])]((a, b) => cmpId(a._1, b._1) < 0))
      require(first.nonEmpty, "k-means needs a non-empty corpus")
      val chosen = scala.collection.mutable.ArrayBuffer(first(0)._2)
      while (chosen.length < k) {
        val cents = chosen.toArray
        val next = rowsAtDim.map { case (id, v) =>
          // array_max over the per-chosen sims, in list order
          var m = cosineSim(v, cents(0))
          var j = 1
          while (j < cents.length) {
            val sim = cosineSim(v, cents(j))
            if (cmpDouble(sim, m) > 0) m = sim
            j += 1
          }
          (m, id, v)
        }.treeReduce { (a, b) =>
          val c = cmpDouble(a._1, b._1)
          if (c < 0 || (c == 0 && cmpId(a._2, b._2) <= 0)) a else b
        }
        chosen += next._3
      }
      chosen.toSeq
    } finally { rows.unpersist(); () }
  }

  /** Generic id comparison for the deterministic argmin tie-breaks:
    * integrals are normalized to Long at extraction (so a Long
    * fast-path covers them all); every other orderable external type
    * (String, BigDecimal, Date, Timestamp, ...) compares via its own
    * Comparable — same-column values are same-class, so the cast is
    * safe for any column Spark can ORDER BY. Note Java String
    * compareTo is UTF-16 code-unit order, which differs from SQL's
    * UTF-8 binary order only for supplementary characters vs
    * [U+E000, U+FFFF] — and only TIE-BREAKS, never scores, consult
    * this order. */
  private def cmpId(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case _ =>
      a.asInstanceOf[Comparable[Any]].compareTo(b.asInstanceOf[AnyRef])
  }

  /** Deterministic Lloyd k-means: `iters` assignment/update rounds
    * from [[farthestFirstInit]] (or the supplied `init` centroids).
    * Returns (assignments under the FINAL centroids, the final
    * centroids) — the assignment frame is exactly what
    * [[kmeansOracleSql]] replays from the centroid literals.
    *
    * An empty cluster keeps its previous centroid (the standard
    * fixed-k behavior; with a data-point init every centroid starts
    * on a data point, so round-1 clusters are non-empty by
    * construction).
    */
  def kmeans(data: DataFrame, idCol: String, vecCol: String, k: Int,
             iters: Int, init: Seq[Array[Float]] = Nil)
      : (DataFrame, Seq[Array[Float]]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    var centroids: Seq[Array[Float]] =
      if (init.nonEmpty) init
      else farthestFirstInit(data, idCol, vecCol, k)
    require(centroids.forall(_.length == centroids.head.length),
      "init centroids must share one dimension, got lengths " +
        centroids.map(_.length).distinct.mkString(","))
    val dim = centroids.head.length
    if (iters > 0) {
      // Lloyd rounds run as treeAggregate jobs over the cached vector
      // rows (the MLlib shape): a round is assignment + per-(cluster,
      // dim) sum/count folded into ONE closure pass — no per-round
      // plan analysis, no shuffle, no posexplode blow-up. Each addend
      // is the float's decimal-string BigDecimal rounded HALF_UP to
      // scale 12 — exactly the former `cast(x as decimal(30,12))` —
      // so sums are EXACT and the learned centroids bit-identical to
      // the aggregation this replaces, for any partitioning. The
      // repartition spreads the round's decimal work across the
      // cluster — only when the scan yields FEWER partitions than the
      // cluster has slots (small inputs); a big corpus already arrives
      // wide and repartitioning it would be a full-corpus shuffle.
      val parts = data.sparkSession.sparkContext.defaultParallelism
      // null vectors contribute to no (cluster, dim) sum — the former
      // posexplode aggregation dropped them; skip, don't NPE. Same
      // whole-vector exclusion for NON-FINITE elements:
      // BigDecimal.valueOf(NaN/Inf) throws
      // NumberFormatException, so ONE corrupt vector in 10^11 killed
      // the entire fit (and the former ANSI-on decimal cast crashed
      // on it too — there is no silent precedent to preserve). And the
      // same exclusion for a WRONG-LENGTH vector: min-clipping it
      // would silently skew the
      // prefix dims of whichever centroid its clamped prefix cosine
      // picked — a truncated encoder batch must contribute NOTHING,
      // matching the NULL cluster_id the assignment gives it.
      val raw = data.select(col(vecCol)).rdd.flatMap { r =>
        if (r.isNullAt(0)) Iterator.empty
        else {
          // usability check on the row-backed seq BEFORE toArray:
          // toArray unboxes, turning a null element into 0.0f where
          // finiteVec could no longer see it
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
          val cents = centroids.map(_.clone()).toArray
          val zero = (Array.fill(k, dim)(java.math.BigDecimal.ZERO),
            Array.fill(k, dim)(0L))
          val (sums, counts) = vecs.treeAggregate(zero)(
            seqOp = { case (acc @ (s, n), v) =>
              // v.length == dim by the flatMap gate above
              val c = nearestCentroid(v, cents)
              var d = 0
              while (d < dim) {
                s(c)(d) = s(c)(d).add(java.math.BigDecimal
                  .valueOf(v(d).toDouble)
                  .setScale(12, java.math.RoundingMode.HALF_UP))
                n(c)(d) += 1L
                d += 1
              }
              acc
            },
            combOp = { case (a @ (sa, na), (sb, nb)) =>
              var c = 0
              while (c < k) {
                var d = 0
                while (d < dim) {
                  sa(c)(d) = sa(c)(d).add(sb(c)(d))
                  na(c)(d) += nb(c)(d)
                  d += 1
                }
                c += 1
              }
              a
            })
          // an empty (cluster, dim) cell keeps its previous value
          val next = centroids.map(_.clone()).toArray
          for (c <- 0 until k; d <- 0 until dim if counts(c)(d) > 0)
            next(c)(d) = sums(c)(d)
              .divide(java.math.BigDecimal.valueOf(counts(c)(d)), 12,
                java.math.RoundingMode.HALF_EVEN)
              .floatValue()
          centroids = next.toSeq
        }
      } finally { vecs.unpersist(); () }
    }
    (assignClusters(data, idCol, vecCol, centroids), centroids)
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus
    * ([[kmeans]]), then within each cluster drop every row that has a
    * LOWER-id member at cosine ≥ `tau` (the kept row is the earliest
    * copy — the same keep-min-id convention as
    * [[DedupForget.losers]]). The pair test never leaves a cluster:
    * candidate pairs are Σ|cluster|² — pick `k` so clusters stay
    * bounded (k ≈ n / targetClusterSize; SemDeDup runs k in the tens
    * of thousands at web scale for exactly this reason). The
    * dominance relation is one self-join on `cluster_id` (a single
    * key shuffle) + the codegen'd cosine filter; survivors come back
    * via left-anti join.
    *
    * Output: (idCol, `cluster_id`) — the KEPT rows. */
  def semanticDedup(data: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, tau: Double,
                    init: Seq[Array[Float]] = Nil): DataFrame = {
    require(tau >= -1.0 && tau <= 1.0, s"tau must be in [-1,1], got $tau")
    val (_, centroids) =
      kmeans(data, idCol, vecCol, k, iters, init)
    val av = assignWith(data, idCol, vecCol, centroids)
    val dominated = av
      .select(col("cluster_id"), col(idCol).as("_id_a"),
        col(vecCol).as("_va"))
      .join(av.select(col("cluster_id"), col(idCol).as("_id_b"),
        col(vecCol).as("_vb")), "cluster_id")
      .filter(col("_id_b") < col("_id_a"))
      .filter(graft.functions.GraftFunctions.cosine(
        col("_va"), col("_vb")) >= tau)
      .select(col("_id_a").as(idCol)).distinct()
    av.join(dominated, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster_id"))
  }

  // ---- oracle generation (parity by construction: the learned
  // centroids become SQL literals, exactly the q54-BPE / q48-SimHash
  // move). Floats are printed as their EXACT double value
  // (Double.toString(f.toDouble)) — the shortest FLOAT repr would
  // re-parse as a different double on the DuckDB side.

  private def centroidLit(c: Array[Float]): String =
    c.map(f => java.lang.Double.toString(f.toDouble))
      .mkString("[", ", ", "]")

  /** Assignment CTEs replaying [[assignClusters]]'s argmax: `s` builds
    * the per-row sims list ONCE (one list_cosine_similarity per
    * centroid — IEEE-identical to the Spark cosine, pinned by the q22
    * oracle), `a` takes the first-max position (= the lower-index
    * tie-break). `extraCols` carries columns downstream queries need. */
  private def assignCtes(centroids: Seq[Array[Float]], table: String,
                         idCol: String, vecCol: String,
                         extraCols: String): String = {
    val sims = centroids.map(c =>
      s"list_cosine_similarity(CAST($vecCol AS DOUBLE[])," +
        s" CAST(${centroidLit(c)} AS DOUBLE[]))").mkString("[", ", ", "]")
    s"WITH s AS (SELECT $idCol$extraCols, $sims AS sims FROM $table)," +
      s" a AS (SELECT $idCol$extraCols," +
      s" CAST(list_position(sims, list_max(sims)) - 1 AS INTEGER)" +
      s" AS cluster_id FROM s)"
  }

  /** DuckDB replay of [[kmeans]]'s final assignment from the learned
    * centroid literals. */
  def kmeansOracleSql(centroids: Seq[Array[Float]],
                      table: String = "embeddings",
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): String =
    s"${assignCtes(centroids, table, idCol, vecCol, "")}" +
      s" SELECT $idCol, cluster_id FROM a"

  /** DuckDB replay of the q61 mixture matrix: assignment CTEs from the
    * centroid literals, joined onto the document table on the shared
    * synthetic keyspace, counted per (stratum, cluster) cell. */
  def mixtureMatrixOracleSql(centroids: Seq[Array[Float]],
                             docTable: String = "documents",
                             docIdCol: String = "doc_id",
                             strataCol: String = "lang",
                             embTable: String = "embeddings",
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): String =
    s"${assignCtes(centroids, embTable, idCol, vecCol, "")}" +
      s" SELECT d.$strataCol, a.cluster_id, count(*) AS n_docs" +
      s" FROM a JOIN $docTable d ON d.$docIdCol = a.$idCol" +
      s" GROUP BY 1, 2"

  /** DuckDB replay of [[semanticDedup]] from the learned centroid
    * literals: assignment CTEs, then NOT EXISTS a lower-id same-cluster
    * member at cosine ≥ tau. */
  def semanticDedupOracleSql(centroids: Seq[Array[Float]], tau: Double,
                             table: String = "embeddings",
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): String =
    s"${assignCtes(centroids, table, idCol, vecCol, s", $vecCol")}" +
      s" SELECT x.$idCol, x.cluster_id FROM a x" +
      s" WHERE NOT EXISTS (SELECT 1 FROM a y" +
      s" WHERE y.cluster_id = x.cluster_id AND y.$idCol < x.$idCol" +
      s" AND list_cosine_similarity(CAST(x.$vecCol AS DOUBLE[])," +
      s" CAST(y.$vecCol AS DOUBLE[])) >= ${java.lang.Double.toString(tau)})"
}
