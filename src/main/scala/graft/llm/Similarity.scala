package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two strategies, per the training-data-pipeline requirements:
  *
  *   - [[Similarity.bruteForceTopK]] — exact top-k by cosine: the data
  *     scans ONCE against a BROADCAST query set (a broadcast nested-loop
  *     over Q query rows, never a data×data cartesian). Cost is O(N·Q·d)
  *     with Q small — the right baseline shape at any scale, and the
  *     correctness oracle for the approximate path.
  *   - [[RandomHyperplaneLsh]] — bucketed ANN: signatures from L tables of
  *     b random hyperplanes each; candidates are pairs sharing a bucket in
  *     ANY table (explode + equi-join on the bucket id, broadcast on the
  *     query side — no cartesian in the plan); candidates are re-scored
  *     exactly and ranked. Recall/pruning trades off via (bits, tables):
  *     more bits = fewer candidates but lower recall. For near-uniform
  *     vectors (cosine gaps like the synthetic testdata's ~0.3 neighbors)
  *     the collision curve forces few bits for high recall; on real
  *     clustered embeddings (neighbors ≫ background) more bits prune
  *     aggressively at the same recall.
  *
  * All arithmetic is double-precision and codegen-friendly (`zip_with` +
  * `aggregate` builtins — no UDF in the scoring path).
  */
object Similarity {

  /** Double-precision dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** True iff the float-array column is non-null with every element
    * FINITE — the usability predicate for centroid seeding (★r18
    * numeric-pathology sweep). A NaN/±Inf element makes every cosine
    * against the vector NaN: as a sampled centroid it becomes a list
    * every row "wins" into (NaN compares greatest under Spark/Scala
    * total order), and in a fit's decimal sums it crashes the
    * BigDecimal conversion — one corrupt vector in 10^11 must do
    * neither. NaN needs the explicit isnan (it passes ANY order
    * comparison under Spark's total order); ±Inf fail the strict
    * open-interval bounds. */
  private[llm] def finiteVecCol(c: Column): Column = {
    // single-pass form: the DOUBLE sum of float elements is finite
    // iff every element is — a NaN element propagates, a lone ±Inf
    // survives the fold, and +Inf with −Inf cancels to NaN (all
    // caught); finite floats cannot overflow a double accumulator
    // (2^31 · 3.4e38 ≪ 1.8e308). One add per element where a
    // forall(!isnan && bounds) pays three interpreted predicates;
    // the single `nanvl` keeps the aggregate referenced ONCE (no
    // duplicate evaluation risk where subexpression elimination
    // doesn't reach).
    c.isNotNull &&
      abs(nanvl(aggregate(c, lit(0.0d), (acc, x) => acc + x),
        lit(Double.PositiveInfinity))) < lit(Double.PositiveInfinity)
  }

  /** Closure twin of [[finiteVecCol]] (same truth table, including
    * null = unusable and null ELEMENTS = unusable). Elements are
    * inspected BOXED (★r19, ADVICE r18): a row-sourced seq
    * (`Row.getSeq[Float]`) is boxed under the hood, and reading a
    * null element through the `Seq[Float]` view unboxes it to 0.0f
    * (`BoxesRunTime.unboxToFloat(null)`) — silently ACCEPTING a row
    * the expression twin rejects (its double aggregate of a null
    * element folds to NULL → filtered). The boxed view costs nothing
    * on primitive-backed seqs (elements box on read and are never
    * null) and catches the row-backed nulls. */
  private[graft] def finiteVec(v: Seq[Float]): Boolean = {
    if (v == null) return false
    val b = v.asInstanceOf[Seq[java.lang.Float]]
    var i = 0
    while (i < b.length) {
      val x = b(i)
      if (x == null || !java.lang.Float.isFinite(x)) return false
      i += 1
    }
    true
  }

  /** [[finiteVecCol]] plus a declared-dimension gate — the FULL
    * usability predicate where the expected dimension is known (★r19
    * dimension-drift sweep): a truncated or over-long vector (a failed
    * encoder batch, a schema-drifted shard) is as corrupt as a NaN —
    * it has no cosine against the rest of the corpus, so it seeds
    * nothing, contributes to no fit, and ranks nowhere. */
  private[graft] def usableVecCol(c: Column, dim: Int): Column =
    size(c) === lit(dim) && finiteVecCol(c)

  /** Closure twin of [[usableVecCol]] (same truth table). */
  private[graft] def usableVec(v: Seq[Float], dim: Int): Boolean =
    v != null && v.length == dim && finiteVec(v)

  /** The corpus's MODAL vector length — how a fit infers its declared
    * dimension (★r19 dimension-drift sweep). The former single-row
    * probe (`limit(1)`) was O(1) but a poisoned estimator: if the one
    * probed row was the truncated one, the fit adopted the CORRUPT
    * dimension and the usability filter then dropped the healthy
    * corpus. The mode is robust to any minority of drifted rows,
    * deterministic for any partitioning (count desc, length asc
    * tie-break), and costs one size-only aggregate scan with map-side
    * combine over a handful of distinct lengths — noise next to the
    * multi-scan fits that call it. Loud on an empty/all-null frame
    * (the fit-class contract: an empty training frame means a
    * mis-pointed path). */
  private[graft] def modalDim(data: DataFrame, vecCol: String): Int =
    data.filter(col(vecCol).isNotNull)
      .groupBy(size(col(vecCol)).as("_d")).agg(count(lit(1)).as("_n"))
      .orderBy(col("_n").desc, col("_d").asc)
      .limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"empty training frame: cannot infer $vecCol dimension"))

  // NOTE (★r19, retiring the r18 `finiteVecUdf` fence): filtering a
  // COMPUTED vector column with ANY predicate re-pays the derivation —
  // Catalyst pushes predicates through a deterministic-field Project
  // regardless of the CONDITION's own determinism, inlining the alias,
  // so the r18 `asNondeterministic` marker never actually fenced
  // anything (pinned by a plan test in VectorPathologySpec). The r18
  // speedup it was credited with came from the UDF referencing the
  // alias ONCE where the expression form referenced it twice. The real
  // fix is structural: filter the STORED source before the computed
  // projection ([[graft.llm.IvfPq.train]] + `Pq.trainPrefiltered`),
  // which is also one fewer derivation per row than any filtered form.

  /** Cosine similarity; 0 when either vector has zero norm, NULL on a
    * length mismatch or null element (the `zip_with` pad makes the dot
    * NULL — checked FIRST, so a zero-norm side can't turn a mismatched
    * pair into a rankable 0.0; keeps this twin bit-agreeing with
    * [[graft.functions.FloatVectorCosine]] on every input shape,
    * ★r19 dimension-drift sweep). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    // `d` appears only in mutually exclusive branches, so the expensive
    // zip_with/aggregate dot is evaluated at most ONCE per row even
    // though conditional branches defeat codegen subexpression
    // elimination (the previous `when(d.isNull, ...).otherwise(d / n)`
    // form paid it twice: condition + result). The inner when keeps the
    // pinned contract: a zero-norm side never turns a mismatched/null
    // pair into a rankable 0.0 (NULL dot stays NULL). `n` stays in the
    // condition — a branch predicate can't be moved below its own gate.
    when(n === 0.0, when(d.isNotNull, lit(0.0)).cast("double"))
      .otherwise(d / n)
  }

  /** Cosine via the native codegen'd kernel when a session is at hand
    * (one fused loop, no intermediate array — see
    * [[graft.functions.FloatVectorCosine]]); identical math to
    * [[cosine]]. */
  private def nativeCosine(df: DataFrame, a: Column, b: Column): Column = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    graft.functions.GraftFunctions.cosine(a, b)
  }

  /** Two-phase distributed top-k: rank the ≤ k best `idCol` rows per
    * `q_id` from a scored candidate frame (columns `q_id`, `idCol`,
    * `_sim`) WITHOUT ever concentrating one query's candidates in one
    * task.
    *
    * The single-task shape this replaces —
    * `row_number().over(Window.partitionBy("q_id").orderBy(...))` —
    * routes EVERY candidate row of a query through one task and sorts
    * them all there (for brute force that is N rows per query; billions
    * at 100 TB). Instead:
    *
    *   1. '''partial top-k''' per `(q_id, input partition)`:
    *      `slice(array_sort(collect_list(struct(-sim, id))), 1, k)` —
    *      each group holds only ONE partition's candidates for a query,
    *      so task memory is bounded by the partition size regardless of
    *      how many candidates a query has in total;
    *   2. '''merge''': the ≤ k·P partial winners per query (tiny —
    *      k rows per input partition) flatten, sort once more, and the
    *      global top-k falls out.
    *
    * Ordering matches the window form exactly: similarity descending
    * (encoded as `-sim` ascending in the struct sort), ties broken by
    * ascending id — generic over the id column's type, unlike a
    * hand-rolled heap aggregator. Output: (q_id, <idCol>, rank).
    *
    * PRECONDITION: `_sim` must be NaN-free. The `-sim`-ascending
    * encoding ranks a NaN score LAST (NaN negates to NaN, which
    * `array_sort` orders after every number), whereas a
    * `row_number().over(orderBy(desc))` window ranks NaN FIRST — a
    * scorer that can emit NaN would silently change rank semantics.
    * Every scorer in this module satisfies it:
    * [[graft.functions.FloatVectorCosine]] and [[Similarity.cosine]]
    * return 0.0 on zero norms and never NaN. */
  private[llm] def rankTopK(scored: DataFrame, idCol: String,
                            k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    // a NaN or NULL similarity is not a value, it's the absence of
    // one — a non-finite or null data/query vector (★r18
    // numeric-pathology sweep). Excluded HERE, centrally, for every
    // search operator: otherwise a NaN-vector query "ranks" the whole
    // corpus at NaN (ties to id order — garbage presented as nearest
    // neighbors), a corrupt data vector fills top-k slots whenever
    // candidates run short, and a NULL-vector data row ranked FIRST —
    // its null `ns` struct field sorts before every real sim (nulls
    // first), and isnan(NULL) is false, so neither sort nor a bare
    // NaN test excludes it. Finite sims (including the zero-norm 0.0
    // convention) unchanged.
    //
    // The exclusion is FUSED into the ranking entry (one projection,
    // one evaluation of _sim per row — subexpression elimination
    // shares the references inside the single expression tree): a
    // separate filter OPERATOR re-evaluates the similarity, which
    // doubled the int8 path's HOF scoring cost when first tried.
    // Unusable sims map to ns = +Inf, sort LAST in both phases (so
    // they displace nothing and survive the merge only when a query
    // has fewer than k usable candidates), and are dropped after the
    // merge — never renumbering earlier ranks. A true +Inf/−Inf sim
    // is equally the product of a corrupt vector, so the sentinel
    // collides with nothing rankable.
    val usable = col("_sim").isNotNull && !isnan(col("_sim")) &&
      abs(col("_sim")) < lit(Double.PositiveInfinity)
    val entry = struct(
      when(usable, -col("_sim"))
        .otherwise(lit(Double.PositiveInfinity)).as("ns"),
      col(idCol).as("i"))
    val partial = scored
      .groupBy(col("q_id"), spark_partition_id().as("_p"))
      .agg(slice(array_sort(collect_list(entry)), 1, k).as("_top"))
    partial
      .groupBy(col("q_id"))
      .agg(slice(array_sort(flatten(collect_list(col("_top")))), 1, k)
        .as("_top"))
      .select(col("q_id"), posexplode(col("_top")).as(Seq("_pos", "_e")))
      .filter(col("_e.ns") < lit(Double.PositiveInfinity))
      .select(col("q_id"), col("_e.i").as(idCol),
        (col("_pos") + 1).as("rank"))
  }

  /** Exact re-rank of a (`q_id`, idCol) candidate frame — the shared
    * refine step ([[Pq.refinedTopK]], [[IvfPq.refinedSearch]]): ONLY
    * the candidates re-read their true vectors (the join is
    * candidate-sized, never a corpus scan), queries stay broadcast,
    * scoring is true cosine, ranking the shared two-phase top-k.
    * Output: (`q_id`, idCol, `rank` 1..k). */
  private[llm] def exactRerank(cand: DataFrame, data: DataFrame,
                               queries: DataFrame, idCol: String,
                               vecCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(data.sparkSession)
    val q = broadcast(queries.select(
      col(idCol).as("q_id"), col(vecCol).as("_q_vec")))
    val scored = cand
      .join(data.select(col(idCol), col(vecCol)), idCol)
      .join(q, "q_id")
      .withColumn("_sim", graft.functions.GraftFunctions.cosine(
        col("_q_vec"), col(vecCol)))
    rankTopK(scored, idCol, k)
  }

  /** IVF (inverted-file) ANN top-k — the coarse-quantizer scale path
    * complementing [[RandomHyperplaneLsh.topK]]:
    *
    *   1. `nlist` centroids are sampled DETERMINISTICALLY from the data
    *      (evenly spaced in id order — the classic sampled-centroid IVF
    *      init; no iterative training, so no float-summation-order
    *      nondeterminism across partitionings).
    *   2. every data vector is assigned to its nearest centroid by
    *      cosine (one scan, map-only against the broadcast centroids).
    *   3. each query probes only its `nprobe` nearest centroid lists —
    *      the scan shrinks to ~nprobe/nlist of the data per query —
    *      and candidates are re-scored exactly and ranked.
    *
    * Recall/pruning trades off via (nlist, nprobe) exactly like an IVF
    * index in a vector store: clustered real embeddings concentrate true
    * neighbors in few lists (small nprobe suffices); near-uniform
    * vectors (the synthetic testdata) need nprobe close to nlist for
    * full recall. Measure the margin with [[SimilarityEval.recallAtK]]
    * against [[bruteForceTopK]] (the bench's `ann_recall_ivf_min`
    * facet does exactly this): nprobe=14/16 is exact at sf0.01 but
    * measures worst-query recall 0.9 at sf0.1 — recall erodes as the
    * corpus outgrows a tuning, so re-measure (and raise nprobe, or
    * scale nlist with √n and retune) after major corpus growth;
    * nprobe == nlist is the exact-by-construction fallback
    * (spec-pinned full-probe ≡ brute). Output: (q_id, <idCol>, rank),
    * self-pairs excluded. */
  def ivfTopK(data: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int, nprobe: Int, sampleSeed: Int = 0): DataFrame = {
    require(nlist > 0 && nprobe > 0 && nprobe <= nlist,
      s"need 0 < nprobe <= nlist, got nlist=$nlist nprobe=$nprobe")
    // deterministic sampled centroids: rank rows by a hash of the id and
    // take the first nlist — one TakeOrderedAndProject (per-partition
    // partial top-nlist, driver merges nlist·P tiny rows; no global
    // sort, no extra count() action). The hash order is a uniform
    // pseudo-random permutation of the ids, so this IS an even spread —
    // and unlike a `hash % stride == 0` filter (a binomial sample) it
    // returns min(nlist, usable n) centroids, never zero on a small
    // corpus. Deterministic across runs AND partitionings because the
    // order depends only on ids.
    // the sample takes 16 rows of SLACK beyond nlist (★r19
    // dimension-drift sweep): centroids must share one dimension, the
    // serve path can't afford a corpus-wide modal aggregate, and a
    // bare-nlist sample can tie (or be dominated) on a degenerate
    // draw — the slack window makes the sample-modal estimate robust
    // to any drifted minority of the first nlist+16 hash slots, while
    // a UNIFORM corpus picks exactly the first nlist rows it always
    // picked (the slack rows are same-length and simply unused).
    val sampled: Array[Array[Float]] = data
      .select(col(idCol), col(vecCol))
      // a null OR non-finite vec can't be a centroid: sims against a
      // NaN/Inf seed are NaN, which every row "wins" into (NaN is
      // greatest under the total order) — one corrupt vector would
      // collapse the whole index into a single brute-force list
      .filter(finiteVecCol(col(vecCol)))
      .orderBy(xxhash64(col(idCol), lit(sampleSeed)), col(idCol))
      .limit(math.min(nlist.toLong + 16L, Int.MaxValue.toLong).toInt)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    require(sampled.nonEmpty, "IVF needs at least one centroid")
    // modal length over the slack sample (count desc, length asc —
    // deterministic, no extra job: the rows are already on the
    // driver); a wrong-length sampled row used to become a centroid
    // whose clamped prefix sims silently distorted every assignment
    val cdim = sampled.groupBy(_.length).toSeq
      .minBy { case (len, rs) => (-rs.length, len) }._1
    val lists = sampled.filter(_.length == cdim).take(nlist)
    // the +16 slack covers drifted/minority-length rows in the sample
    // window; if MORE than 16 land there we train fewer lists than
    // asked and recall degrades — say so instead of degrading silently
    if (lists.length < math.min(nlist, sampled.length)) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ivfTopK: only ${lists.length}/$nlist centroids after dropping " +
          s"${sampled.length - lists.length} non-modal-length rows " +
          s"(modal dim $cdim) from the sample window — recall may " +
          "degrade; raise the sample slack if the corpus is this ragged")
    }
    // (list, cosine) per centroid — shared by assignment and probing;
    // a wrong-length vector has no sims (it belongs to no list and
    // probes nothing — the closure analog of the kernel's
    // mismatch-NULL)
    def centroidSims(vec: Seq[Float]): Array[(Int, Double)] = {
      val v = vec.toArray
      if (v.length != cdim) return Array.empty
      lists.zipWithIndex.map { case (cv, c) =>
        var dotp = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < cdim) {
          dotp += v(i).toDouble * cv(i).toDouble
          na += v(i).toDouble * v(i).toDouble
          nb += cv(i).toDouble * cv(i).toDouble
          i += 1
        }
        val sim = if (na == 0.0 || nb == 0.0) 0.0
        else dotp / math.sqrt(na * nb)
        (c, sim)
      }
    }
    val assignList = udf { (vec: Seq[Float]) =>
      // nearest centroid, ties to the lower list id; a null or
      // wrong-length vector lands in no list (null _list never meets
      // a probe in the join — the UDF is called WITH the null,
      // reference types get no null-safe wrapping)
      if (vec == null || vec.length != cdim) None
      else Some(centroidSims(vec).maxBy { case (c, s) => (s, -c) }._1)
    }
    val probeLists = udf { (vec: Seq[Float]) =>
      // a null or wrong-length query probes nothing (explode of empty
      // drops the row)
      if (vec == null) Array.empty[Int]
      else centroidSims(vec).sortBy { case (c, s) => (-s, c) }
        .take(nprobe).map(_._1)
    }
    val dataListed = data.select(col(idCol), col(vecCol))
      .withColumn("_list", assignList(col(vecCol)))
    val queryListed = broadcast(queries
      .select(col(idCol).as("q_id"), col(vecCol).as("_q_vec"))
      .withColumn("_list", explode(probeLists(col("_q_vec")))))
    val candidates = dataListed.join(queryListed, "_list")
      .filter(col(idCol) =!= col("q_id"))
    graft.functions.GraftFunctions.register(data.sparkSession)
    rankTopK(
      candidates.withColumn("_sim",
        graft.functions.GraftFunctions.cosine(col(vecCol), col("_q_vec"))),
      idCol, k)
  }

  /** Recall-driven IVF — the production tuning loop as an operator:
    * [[ivfTopK]] with `nprobe` AUTO-RAISED (doubling from
    * `initialNprobe`, capped at `nlist`) until measured recall@k on a
    * probe sample reaches `targetRecall`. This is the standing answer
    * to recall EROSION: a fixed nprobe tuned at corpus size n silently
    * loses neighbors at 10n (the bench's `ann_recall_ivf_min` facet
    * measured exactly that, 1.0 at sf0.01 → 0.9 at sf0.1), while the
    * re-measuring loop pays a bounded probe cost and keeps the
    * guarantee.
    *
    * Probe cost is bounded: the sample is the first
    * `maxTuneQueries` queries in id order (deterministic), its ground
    * truth is ONE brute-force pass (sample × corpus, broadcast
    * map-only), and each tuning iteration scans only the sample's
    * candidate lists. The worst case walks nprobe up to `nlist`, where
    * [[ivfTopK]] probes every list — exact by construction — so
    * termination at the target is guaranteed when the sample covers
    * the query set; with the full query set as sample and
    * `targetRecall = 1.0` the OUTPUT equals [[bruteForceTopK]]'s
    * (candidates are re-scored by exact cosine with the same id
    * tie-break, so equal top-k sets rank identically) — which is what
    * lets the q56 gate hash-compare this operator against the exact
    * SQL oracle.
    *
    * Returns (ranked top-k frame for ALL queries, chosen nprobe). */
  def ivfTopKAutoTuned(data: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       nlist: Int, targetRecall: Double,
                       initialNprobe: Int = 1, sampleSeed: Int = 0,
                       maxTuneQueries: Int = 16): (DataFrame, Int) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0,1], got $targetRecall")
    require(initialNprobe >= 1 && initialNprobe <= nlist,
      s"need 1 <= initialNprobe <= nlist, got $initialNprobe")
    SimilarityEval.tuneUntilRecall[Int](data, queries, idCol, vecCol,
      k, targetRecall, maxTuneQueries,
      initial = initialNprobe,
      escalate = np => math.min(nlist, np * 2),
      atCap = _ >= nlist,
      run = (qs, np) => ivfTopK(data, qs, idCol, vecCol, k,
        nlist, np, sampleSeed))
  }

  /** Exact cosine top-k of `data` rows for each `queries` row.
    * Output: (q_id, <idCol>, rank) — rank 1 = nearest, ties broken by id.
    * Self-pairs (same id) are excluded. */
  def bruteForceTopK(data: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("q_id"), col(vecCol).as("_q_vec")))
    val scored = data.crossJoin(q)
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("_sim", nativeCosine(data, col(vecCol), col("_q_vec")))
    rankTopK(scored, idCol, k)
  }

  /** Exact cosine top-k over INT8-QUANTIZED vectors — the ranking a
    * vector store runs over its compressed shard ([[quantizeInt8]]'s
    * output) without dequantizing: the per-vector scales CANCEL in the
    * cosine (sim = Σ q_a·q_b / (‖q_a‖·‖q_b‖)), so scoring is pure
    * integer dot products and norms — exact, engine-portable arithmetic
    * (the dots stay far under 2^53), with none of the float-summation
    * order sensitivity of the full-precision path. Same plan shape as
    * [[bruteForceTopK]]: broadcast query side, two-phase distributed
    * rank, no data×data product. Output: (q_id, <idCol>, rank);
    * self-pairs excluded, zero vectors score 0. */
  def quantizedTopK(data: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    val qd = quantizeInt8(data, idCol, vecCol)
      .select(col(idCol), col("q"))
    val qq = broadcast(quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).as("q_id"), col("q").as("_qq")))
    def inorm(c: Column): Column =
      sqrt(aggregate(c, lit(0L), (a, x) => a + x * x).cast("double"))
    val scored = qd.crossJoin(qq)
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("_dot",
        aggregate(zip_with(col("q"), col("_qq"), (a, b) => a * b),
          lit(0L), (a, x) => a + x).cast("double"))
      .withColumn("_na", inorm(col("q")))
      .withColumn("_nb", inorm(col("_qq")))
      // a NULL dot (length mismatch / null codes) must win over the
      // zero-norm 0.0 convention (★r19 dimension-drift sweep): an
      // EMPTY data vector against a real query used to take the
      // na === 0 branch first and rank at a valid-looking 0.0, where
      // the kernel-scored twin excludes the same mismatched pair
      .withColumn("_sim",
        when(col("_dot").isNull, lit(null).cast("double"))
          .when(col("_na") === 0.0 || col("_nb") === 0.0, lit(0.0))
          .otherwise(col("_dot") / (col("_na") * col("_nb"))))
    rankTopK(scored, idCol, k)
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * standard 4× storage/bandwidth reduction for vector stores and ANN
    * shards: per vector, `scale = max|x| / 127` and
    * `q_i = clamp(floor(x_i/scale + 0.5), -127, 127)` (dequantize as
    * `q_i * scale`; max round-off is scale/2 per dimension, asserted in
    * SimilaritySpec). The `floor(·+0.5)` form is deliberate: `round`'s
    * tie behavior is engine-specific, `floor` is the same IEEE op
    * everywhere, so the quantized ints agree bit-exactly with any SQL
    * replica. A zero vector quantizes to zeros with scale 0. Pure
    * map-side column arithmetic (`transform`/`array_max` builtins, no
    * UDF), codegen'd in one projection over the scan.
    *
    * Output: (<idCol>, scale: double, q: array<bigint>). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val xs = transform(col(vecCol), x => x.cast("double"))
    val absmax = array_max(transform(xs, x => abs(x)))
    def scale = absmax / lit(127.0)
    val q = when(absmax.isNull || absmax === 0.0,
        transform(xs, _ => lit(0L)))
      .otherwise(transform(xs, x =>
        least(greatest(floor(x / scale + lit(0.5)), lit(-127.0)),
          lit(127.0)).cast("long")))
    df.select(col(idCol),
      coalesce(scale, lit(0.0)).as("scale"), q.as("q"))
  }
}

/** Random-hyperplane (sign) LSH for cosine similarity.
  *
  * Deterministic: hyperplanes derive from `seed`. Each vector gets one
  * bucket id per table, encoded `table * 2^bits + signBits` so a single
  * exploded int column keys the candidate join.
  */
object RandomHyperplaneLsh {

  /** Auto-tuned bit width: `bits ≈ log2(n / targetBucket)`, clamped to
    * `[minBits, maxBits]`. The expected bucket population is then about
    * `targetBucket`, so the banded self-join emits
    * ~`tables · n · targetBucket / 2` candidates — linear in n for a fixed
    * target, never the disguised all-pairs a hand-picked low bit width
    * degenerates to when n grows. More bits = fewer candidates but lower
    * recall per table; compensate with `tables` (recall
    * 1-(1-p^bits)^tables for per-hyperplane collision p = 1 - θ/π).
    */
  def autoBits(n: Long, targetBucket: Int = 128,
               minBits: Int = 1, maxBits: Int = 12): Int = {
    require(n >= 0 && targetBucket > 0)
    val raw = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket))
      / math.log(2.0)).toInt
    math.max(minBits, math.min(maxBits, raw))
  }

  /** LSH with the bit width derived from the corpus size (see
    * [[autoBits]]); `n` is the (approximate) row count of the data side.
    */
  def auto(dim: Int, n: Long, targetBucket: Int = 128, tables: Int = 16,
           seed: Long = 42L): RandomHyperplaneLsh =
    RandomHyperplaneLsh(dim, autoBits(n, targetBucket), tables, seed)
}

final case class RandomHyperplaneLsh(dim: Int, bits: Int, tables: Int,
                                     seed: Long = 42L) {
  require(bits <= 16, "bits must fit the bucket encoding")

  private val hyperplanes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables * bits, dim)(rnd.nextGaussian())
  }

  /** Bucket ids (one per table) for a float-array vector column. A
    * null vector keys to NO buckets — it can never pair (the UDF is
    * called WITH the null; reference types get no null-safe wrap) —
    * and neither does a vector whose length differs from the declared
    * `dim` (★r19 dimension-drift sweep: the old clamped projection
    * banded a truncated vector into real buckets, whose pairs then
    * needed the exact re-score to throw them out; a dimension it was
    * never embedded in is not a weaker signal, it is no signal). */
  val signature: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (vec: Seq[Float]) =>
      if (vec == null || vec.length != dim) Array.empty[Int]
      else {
      val v = vec.toArray
      Array.tabulate(tables) { t =>
        var bucket = 0
        var b = 0
        while (b < bits) {
          val h = hyperplanes(t * bits + b)
          var s = 0.0
          var i = 0
          while (i < dim) { s += h(i) * v(i); i += 1 }
          bucket = (bucket << 1) | (if (s >= 0) 1 else 0)
          b += 1
        }
        t * (1 << bits) + bucket
      }
      }
    }

  /** Embedding-cosine near-duplicate pairs: bucketed self-join (both
    * sides big — a shuffle equi-join on the bucket id, never broadcast,
    * never cartesian), exact cosine verify at `threshold`.
    *
    * The candidate join and dedup carry ONLY (id_a, id_b) — shipping the
    * vectors through the multi-table bucket join would multiply the
    * shuffle by vector-bytes x tables; the vectors join back onto the
    * deduped pairs afterwards. Output: (id_a, id_b, cosine), id_a < id_b.
    */
  def nearPairs(data: DataFrame, idCol: String, vecCol: String,
                threshold: Double,
                maxBucket: Int = 2048): DataFrame = {
    val candidates = nearPairCandidates(data, idCol, vecCol, maxBucket)
    val vecs = data.select(col(idCol), col(vecCol))
    graft.functions.GraftFunctions.register(data.sparkSession)
    candidates
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("_va")),
        "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("_vb")),
        "id_b")
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosine(col("_va"), col("_vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** CROSS-corpus embedding near-pairs — the EMBEDDING-level
    * train/test decontamination screen (the cosine counterpart of
    * [[graft.llm.Dedup.jaccardJoinExact]]): every `(left, right)` pair
    * with cosine >= `threshold`. Both sides band with the SAME
    * hyperplane signatures, candidates come from
    * [[Banding.guardedCrossPairs]] (left×right buckets only — the
    * within-train pairs that dominate at decontamination scale are
    * never enumerated), and survivors re-score exactly. Output:
    * (id_a from left, id_b from right, cosine); a vector present on
    * both sides self-pairs at cosine 1, which is what contamination
    * screening wants surfaced. */
  def nearJoin(left: DataFrame, right: DataFrame,
               idCol: String, vecCol: String, threshold: Double,
               maxBucket: Int = 2048): DataFrame = {
    val lb = left.select(col(idCol).as("_id"),
      explode(signature(col(vecCol))).as("_band"))
    val rb = right.select(col(idCol).as("_id"),
      explode(signature(col(vecCol))).as("_band"))
    val candidates = Banding.guardedCrossPairs(lb, rb, maxBucket)
    val lVecs = left.select(col(idCol).as("id_a"), col(vecCol).as("_va"))
    val rVecs = right.select(col(idCol).as("id_b"), col(vecCol).as("_vb"))
    graft.functions.GraftFunctions.register(left.sparkSession)
    candidates
      .join(lVecs, "id_a")
      .join(rVecs, "id_b")
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosine(col("_va"), col("_vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Candidate (id_a, id_b) pairs before the exact re-score — the banded
    * self-join through the hot-bucket guard. Exposed so specs can census
    * candidate volume against the c·N bound. */
  private[llm] def nearPairCandidates(data: DataFrame, idCol: String,
                                      vecCol: String,
                                      maxBucket: Int): DataFrame = {
    val banded = data
      .select(col(idCol).as("_id"),
        explode(signature(col(vecCol))).as("_band"))
    Banding.guardedPairs(banded, maxBucket)
  }

  /** ANN top-k: LSH-bucketed candidates, exact cosine re-score, rank.
    * Output: (q_id, <idCol>, rank). The query side is broadcast; the only
    * joins are equi-joins on the bucket id — no cartesian product. */
  def topK(data: DataFrame, queries: DataFrame,
           idCol: String, vecCol: String, k: Int): DataFrame = {
    val dataSig = data.select(col(idCol), col(vecCol))
      .withColumn("_bucket", explode(signature(col(vecCol))))
    val querySig = broadcast(queries
      .select(col(idCol).as("q_id"), col(vecCol).as("_q_vec"))
      .withColumn("_bucket", explode(signature(col("_q_vec")))))
    val candidates = dataSig
      .join(querySig, "_bucket")
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol), col(vecCol), col("_q_vec"))
      .dropDuplicates("q_id", idCol) // a pair may collide in many tables
    graft.functions.GraftFunctions.register(data.sparkSession)
    Similarity.rankTopK(
      candidates.withColumn("_sim",
        graft.functions.GraftFunctions.cosine(col(vecCol), col("_q_vec"))),
      idCol, k)
  }
}

/** Shared-shape helpers over ranked ANN outputs. */
object SimilarityEval {

  /** Recall@k of an approximate ranking against the exact one — the
    * measurement every ANN tuning loop (LSH bits/tables, IVF nprobe,
    * quantization) turns on. Both inputs are `(q_id, <idCol>, rank)`
    * frames (any of [[Similarity]]'s top-k shapes); output one row per
    * exact-side query: (q_id, hits, recall = hits/k). Integer hit
    * counts and one exact IEEE division — cross-engine
    * hash-comparable. Ranked frames are queries×k rows, so the join
    * cost is negligible at any corpus scale (the expensive part
    * already happened upstream). */
  def recallAtK(approx: org.apache.spark.sql.DataFrame,
                exact: org.apache.spark.sql.DataFrame,
                idCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = approx.filter(col("rank") <= k).select(col("q_id"), col(idCol))
    val e = exact.filter(col("rank") <= k).select(col("q_id"), col(idCol))
    val hits = a.join(e, Seq("q_id", idCol))
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    e.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") /
          lit(k).cast("double")).as("recall"))
  }

  /** The ONE recall-driven knob walk behind every auto-tuned ANN
    * operator ([[Similarity.ivfTopKAutoTuned]] nprobe,
    * [[Pq.refinedTopKAutoTuned]] shortlist,
    * [[IvfPq.refinedSearchAutoTuned]] both in lockstep): measure
    * min-recall@k of `run(sample, knobs)` against ONE brute-force
    * ground-truth pass over a deterministic id-ordered probe sample,
    * `escalate` the knob state until the target is met or `atCap`
    * (where the caller's operator must be provably exact — the
    * termination argument each caller documents), then run the FULL
    * query set at the paid knobs. The final frame is returned LAZY —
    * callers holding a cached index checkpoint it before releasing
    * the cache. */
  private[llm] def tuneUntilRecall[S](
      data: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, k: Int, targetRecall: Double,
      maxTuneQueries: Int, initial: S, escalate: S => S,
      atCap: S => Boolean,
      run: (org.apache.spark.sql.DataFrame, S) =>
        org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, S) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0,1], got $targetRecall")
    val sample = queries.orderBy(col(idCol)).limit(maxTuneQueries)
    val exact = Similarity.bruteForceTopK(data, sample, idCol,
      vecCol, k).localCheckpoint(true)
    var knobs = initial
    var done = false
    while (!done) {
      val mr = recallAtK(run(sample, knobs), exact, idCol, k)
        .agg(min(col("recall"))).head()
      // empty ground truth (no probe query has ANY non-self
      // neighbor — e.g. a 1-row corpus, or every probe's vector is
      // null) makes min(recall) NULL: recall over an empty truth set
      // is VACUOUSLY at target, so the walk stops at the initial
      // knobs instead of force-reading the null (★r18 degenerate-
      // cardinality sweep: ROW_VALUE_IS_NULL on a 1-row corpus)
      val minRecall = if (mr.isNullAt(0)) 1.0 else mr.getDouble(0)
      if (minRecall >= targetRecall || atCap(knobs)) done = true
      else knobs = escalate(knobs)
    }
    exact.unpersist()
    (run(queries, knobs), knobs)
  }
}
