package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `rand(seed)`-based sampling is NOT reproducible across engines, runs,
  * or even repartitionings (the per-partition generator reseeds by
  * partition index), which breaks the two things a data pipeline needs
  * from a sample: the same subset on every rerun of an experiment, and
  * the ability to recompute the subset membership of one row without the
  * rest of the corpus. Keying the decision on a standard content hash of
  * a stable column gives both — any engine that can md5 a string draws
  * the identical subset.
  */
object Sampling {

  /** Keep a row iff the first 4 hex chars of `md5(key)` sort below the
    * quantized threshold — a map-only, shuffle-free filter; the md5
    * prefix is uniform over [0, 16^4), so the keep rate is
    * `round(fraction * 65536) / 65536` (fraction quantizes to 1/65536
    * steps). Deterministic in the KEY alone: reruns, repartitionings,
    * and other engines (the DuckDB oracle states the same predicate
    * verbatim) select the same rows. */
  def deterministicSample(df: DataFrame, keyCol: String,
                          fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0,
      s"fraction must be in [0,1], got $fraction")
    val buckets = math.round(fraction * 65536.0)
    if (buckets >= 65536L) df
    else df.filter(
      substring(md5(col(keyCol).cast("string")), 1, 4) < lit(f"$buckets%04x"))
  }

  /** Per-stratum deterministic sampling: each stratum value draws its
    * own fraction (missing strata keep `defaultFraction`). Same md5
    * predicate as [[deterministicSample]], with the stratum folded into
    * the hash input so the same key can be selected in one stratum and
    * not another. Map-only; the fractions ride a broadcast CASE
    * expression, not a join. */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 0.0): DataFrame = {
    (fractions.values.toSeq :+ defaultFraction).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fraction must be in [0,1], got $f"))
    def thr(fr: Double) = f"${math.min(65536L, math.round(fr * 65536.0))}%05x"
    val cutoff = fractions.foldLeft(lit(thr(defaultFraction))) {
      case (acc, (k, fr)) =>
        when(col(strataCol).cast("string") === k, lit(thr(fr))).otherwise(acc)
    }
    df.filter(concat(lit("0"),
      substring(md5(concat_ws("#", col(strataCol).cast("string"),
        col(keyCol).cast("string"))), 1, 4)) < cutoff)
  }

  /** Per-stratum CAP sampling — the mixture builder's other half:
    * where [[stratifiedSample]] draws a FRACTION per stratum, this
    * takes EXACTLY `min(n, |stratum|)` rows per stratum ("10k docs per
    * domain"), selected in deterministic md5 order (same
    * `md5(stratum#key)` input as the fraction path, so both sampling
    * modes agree on what "the first rows of a stratum" means; md5
    * ties — practically impossible — break by key).
    *
    * Scale shape: NO per-stratum single-task window, and no
    * partition-sized buffers either. Phase 1 streams each partition
    * through per-stratum BOUNDED max-heaps (memory O(strata·n) — one
    * of the rare genuinely per-partition imperative computations, like
    * [[graft.llm.Packing.withTokenOffsets]]); phase 2 merges ≤ n·P
    * rows per stratum — so a billion-row hot stratum never serializes
    * through one task (a bare `ROW_NUMBER() OVER (PARTITION BY
    * stratum)` would) and never sits in one aggregation buffer (a
    * `collect_list` partial would).
    *
    * Output: (strataCol AS STRING — the engine-wide cast contract,
    * keyCol, `rank` 1..n) — semi-join back on the key for full rows. */
  def capSample(df: DataFrame, keyCol: String, strataCol: String,
                n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    capSampleImpl(df, keyCol, strataCol, _ => n, lit(n))
  }

  /** [[capSample]] with a PER-STRATUM cap — the mixture executor:
    * stratum `s` keeps exactly `min(quotas(s), |s|)` rows in the same
    * deterministic md5 order (identical hash input, so a stratum's
    * selection under quota q is a PREFIX of its selection under any
    * q' > q — quota changes never reshuffle what was already picked).
    * Strata absent from `quotas` are dropped (filtered before hashing
    * — excluded strata never heap); an EMPTY quota map (a
    * corpus-derived quota table over an empty corpus) admits no
    * stratum and yields the empty
    * result, not an error. Same bounded-heap two-phase shape
    * as [[capSample]]; the quota map rides the closure and a literal
    * CASE, never a join. */
  def capSampleQuotas(df: DataFrame, keyCol: String, strataCol: String,
                      quotas: Map[String, Int]): DataFrame = {
    if (quotas.isEmpty)
      return df.select(col(strataCol).cast("string").as(strataCol),
        col(keyCol), lit(1).cast("int").as("rank")).limit(0)
    quotas.foreach { case (s, q) =>
      require(q >= 0, s"quota for stratum '$s' must be >= 0, got $q") }
    val lenExpr = quotas.foldLeft(lit(0)) { case (acc, (s, q)) =>
      when(col("_s") === s, lit(q)).otherwise(acc) }
    capSampleImpl(
      df.filter(col(strataCol).cast("string")
        .isin(quotas.keys.toSeq.map(_.asInstanceOf[Any]): _*)),
      keyCol, strataCol, s => quotas.getOrElse(s, 0), lenExpr)
  }

  private def capSampleImpl(df: DataFrame, keyCol: String,
                            strataCol: String, nFor: String => Int,
                            lenExpr: org.apache.spark.sql.Column)
      : DataFrame = {
    val spark = df.sparkSession
    // phase 1: per-partition BOUNDED heaps (one n-entry max-heap per
    // stratum seen in the partition) — streaming, memory O(strata·n).
    // A collect_list partial here would instead buffer a hot stratum's
    // whole partition slice in one aggregation buffer before sorting.
    val hashed = df.select(
      col(strataCol).cast("string").as("_s"),
      md5(concat_ws("#", col(strataCol).cast("string"),
        col(keyCol).cast("string"))).as("_h"),
      col(keyCol).as("_k"))
    val keyField = hashed.schema("_k")
    // the heap's eviction order must MATCH phase 2's (hash, key) sort
    // (array_sort on struct(h, k)) — on a hash tie at the cut boundary
    // a hash-only heap could evict the row phase 2 keeps. Numeric keys
    // compare numerically (exact via BigDecimal), like the struct sort.
    val keyOrd: Ordering[Any] = {
      val base: Ordering[Any] = keyField.dataType match {
        // Float/Double must NOT go through BigDecimal(toString): NaN and
        // Infinity throw NumberFormatException, and -0.0 has no BigDecimal
        // form. java.lang.Double.compare matches Spark's sort semantics
        // (NaN largest, -0.0 < 0.0 — same as the phase-2 struct sort).
        case org.apache.spark.sql.types.DoubleType =>
          (a: Any, b: Any) => java.lang.Double.compare(
            a.asInstanceOf[Double], b.asInstanceOf[Double])
        case org.apache.spark.sql.types.FloatType =>
          (a: Any, b: Any) => java.lang.Float.compare(
            a.asInstanceOf[Float], b.asInstanceOf[Float])
        case _: org.apache.spark.sql.types.NumericType =>
          Ordering.by[Any, BigDecimal](v => BigDecimal(v.toString))
        case _ => Ordering.by[Any, String](_.toString)
      }
      (a: Any, b: Any) =>
        if (a == null && b == null) 0
        else if (a == null) -1 // nulls smallest, matching struct sort
        else if (b == null) 1
        else base.compare(a, b)
    }
    val pruned = hashed.rdd.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.PriorityQueue[(String, Any)]]
      implicit val ord: Ordering[(String, Any)] = // max-heap on (hash, key)
        Ordering.Tuple2(Ordering.String, keyOrd)
      it.foreach { r =>
        val h = heaps.getOrElseUpdate(r.getString(0),
          scala.collection.mutable.PriorityQueue.empty[(String, Any)])
        h.enqueue((r.getString(1), r.get(2)))
        if (h.size > nFor(r.getString(0))) h.dequeue() // drop largest hash
      }
      heaps.iterator.flatMap { case (s, h) =>
        h.iterator.map { case (hash, k) =>
          org.apache.spark.sql.Row(s, hash, k)
        }
      }
    }
    val prunedDf = spark.createDataFrame(pruned,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_s",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("_h",
          org.apache.spark.sql.types.StringType, nullable = false),
        keyField)))
    // phase 2: ≤ n·P rows per stratum — exact global order + cut
    prunedDf
      .groupBy(col("_s"))
      .agg(slice(array_sort(collect_list(struct(col("_h").as("h"),
        col("_k").as("k")))), lit(1), first(lenExpr)).as("_top"))
      .select(col("_s"), posexplode(col("_top")).as(Seq("_pos", "_e")))
      .select(col("_s").as(strataCol), col("_e.k").as(keyCol),
        (col("_pos") + 1).cast("int").as("rank"))
  }

  /** Leakage-safe train/validation split — the dedup-aware evaluation
    * guard (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", measure train→eval leakage through
    * near-duplicates): every member of a near-duplicate CLUSTER lands
    * on the SAME side, so a validation document can never have a
    * near-copy in train. The split key is the cluster representative —
    * `coalesce(cluster_id, id)` (singletons, which never enter a pair
    * frame, split by their own id) — drawn through the same quantized
    * md5 predicate as [[deterministicSample]]: deterministic in the
    * representative alone, reproducible across engines, runs, and
    * repartitionings.
    *
    * `clusters` is a [[Dedup.duplicateClusters]]-shaped frame
    * (memberCol, clusterCol). Scale shape: ONE left equi-join on the
    * id (the cluster frame holds only ids that appear in some
    * duplicate pair — typically a small fraction of the corpus; AQE
    * broadcasts it when it fits, shuffle-joins otherwise) plus a
    * map-side hash predicate — no window, no global sort.
    *
    * Output: (idCol, `cluster_rep`, `split` ∈ {'train','valid'}),
    * valid rate ≈ `round(validFraction · 65536) / 65536` of CLUSTERS
    * (not rows — a big cluster moves as one block, the semantics the
    * guard exists for). */
  def leakageSafeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
                       memberCol: String, clusterCol: String,
                       validFraction: Double): DataFrame = {
    require(validFraction >= 0.0 && validFraction <= 1.0,
      s"validFraction must be in [0,1], got $validFraction")
    val buckets = math.round(validFraction * 65536.0)
    val cl = clusters.select(col(memberCol).as("_m"),
      col(clusterCol).as("_cl"))
    val split =
      if (buckets >= 65536L) lit("valid")
      else if (buckets <= 0L) lit("train")
      else when(
        substring(md5(col("cluster_rep").cast("string")), 1, 4)
          < lit(f"$buckets%04x"), "valid").otherwise("train")
    df.join(cl, col(idCol) === col("_m"), "left")
      .select(col(idCol), coalesce(col("_cl"), col(idCol))
        .as("cluster_rep"))
      .withColumn("split", split)
  }

  /** Temperature-rebalanced mixture quotas (the multilingual-pretraining
    * rebalancing rule — sample stratum s with probability ∝ n_s^alpha,
    * alpha < 1 upweights small strata; public practice after Conneau
    * 2019 (XLM-R) and Raffel 2020 (mT5)): per-stratum row budgets
    * summing to ≤ `budget`, assigned by largest-remainder rounding of
    * the ideal shares (deterministic — remainder ties break by stratum
    * asc) and then capped at the stratum size (a capped stratum's
    * unused budget is NOT redistributed — one pass, documented,
    * deterministic). Driver-pure: the float `pow` folds into the
    * returned integer quotas exactly like [[TextStats.unigramLm]]'s
    * `ln` — nothing float ever reaches an executor. */
  def temperatureQuotas(counts: Map[String, Long], alpha: Double,
                        budget: Long): Map[String, Int] = {
    require(alpha >= 0.0 && alpha <= 1.0,
      s"alpha must be in [0,1], got $alpha")
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    val present = counts.filter(_._2 > 0L)
    if (present.isEmpty || budget == 0L)
      return counts.map { case (s, _) => s -> 0 }
    val w = present.map { case (s, n) => s -> math.pow(n.toDouble, alpha) }
    val total = w.valuesIterator.sum
    val ideal = w.map { case (s, ws) => s -> budget * ws / total }
    val base = ideal.map { case (s, x) => s -> math.floor(x).toLong }
    var left = budget - base.valuesIterator.sum
    val byRemainder = ideal.toSeq
      .map { case (s, x) => (s, x - math.floor(x)) }
      .sortBy { case (s, r) => (-r, s) }
    val bumped = scala.collection.mutable.Map(base.toSeq: _*)
    byRemainder.foreach { case (s, _) =>
      if (left > 0) { bumped(s) += 1; left -= 1 } }
    counts.map { case (s, n) =>
      s -> math.min(bumped.getOrElse(s, 0L), n).toInt }
  }

  /** Temperature rebalancing END TO END: count strata (ONE hash
    * aggregation folded to |strata| rows — the bounded-cardinality
    * assumption every per-stratum CASE in this file already makes),
    * fold quotas on the driver, execute via [[capSampleQuotas]].
    * Returns the selection and the quota table (the audit artifact).
    *
    * Output frame: (strataCol AS STRING, keyCol, `rank` 1..quota). */
  def temperatureRebalance(df: DataFrame, keyCol: String,
                           strataCol: String, alpha: Double,
                           budget: Long): (DataFrame, Map[String, Int]) = {
    val counts = df.groupBy(col(strataCol).cast("string").as("_s"))
      .agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val quotas = temperatureQuotas(counts, alpha, budget)
    (capSampleQuotas(df, keyCol, strataCol, quotas), quotas)
  }

  /** DuckDB replay of [[capSampleQuotas]] from the SAME quota literals
    * (the learned-literal oracle move): per-stratum md5-ordered
    * ROW_NUMBER cut against a VALUES quota table — verbatim the q60
    * predicate, with the cap read from the join. */
  def capSampleQuotasOracleSql(table: String, keyCol: String,
                               strataCol: String,
                               quotas: Map[String, Int]): String = {
    require(quotas.nonEmpty, "quotas must be non-empty")
    val values = quotas.toSeq.sortBy(_._1).map { case (s, n) =>
      s"(CAST('${s.replace("'", "''")}' AS VARCHAR), $n)"
    }.mkString(", ")
    s"""WITH q(s, n) AS (VALUES $values)
      | SELECT $strataCol, $keyCol,
      |   CAST(ROW_NUMBER() OVER (PARTITION BY $strataCol
      |     ORDER BY md5($strataCol || '#' || CAST($keyCol AS VARCHAR)),
      |       $keyCol) AS INTEGER) AS rank
      | FROM $table JOIN q ON q.s = CAST($strataCol AS VARCHAR)
      | QUALIFY rank <= q.n""".stripMargin.replace("\n", " ")
  }

  /** Systematic PPS sampling — exactly `k` draws with probability
    * proportional to an integer weight (token count: "sample 1M
    * training sequences weighted by length"), fully deterministic and
    * float-free: lay the documents end to end on the weighted number
    * line in id order (the q37 prefix sum — ONE range shuffle, never
    * a single-task window), drop the k-point grid g_i = ⌊i·W/k⌋ onto
    * it, and each document's draw count is the number of grid points
    * its [offset, offset+w) interval contains — the closed form
    * C(offset+w) − C(offset) with C(x) = ⌈x·k/W⌉, which TELESCOPES to
    * exactly k over the corpus. A document with w > W/k can be drawn
    * multiple times (the PPS-with-replacement convention for
    * oversized units); zero-weight documents are never drawn — and a
    * corpus whose TOTAL weight is zero (empty, or all-zero weights)
    * draws nothing: the empty frame, not an error, exactly what the
    * oracle's grid join produces on the same input (a
    * pruned-to-empty partition must sample as zero rows).
    * All arithmetic BIGINT (bound: W·k < 9.2e18), so any engine
    * replays the identical draw.
    *
    * Output: (idCol, `weight`, `n_picks` >= 1) — drawn rows only. */
  def systematicPps(df: DataFrame, idCol: String,
                    weightOf: org.apache.spark.sql.Column,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = weightOf.cast("long")
    val off = Packing.withTokenOffsets(
      df.select(col(idCol),
        when(w >= 0, w).otherwise(raise_error(concat(
          lit("systematicPps: negative weight at "),
          col(idCol).cast("string")))).as("_w")),
      idCol, "_w")
    // total weight 0 (or NULL: empty corpus) leaves the 1-row total
    // frame empty, and the cross join below with an empty build side
    // yields the empty result — zero draws, no error
    val tot = off.agg(sum(col("_w")).as("_wraw"))
      .filter(col("_wraw") > 0)
      .select(col("_wraw").as("_wtot"))
    off.crossJoin(broadcast(tot))
      .withColumn("n_picks",
        expr(s"((tok_offset + _w) * $k + _wtot - 1) div _wtot - " +
          s"(tok_offset * $k + _wtot - 1) div _wtot"))
      .filter(col("n_picks") > 0)
      .select(col(idCol), col("_w").as("weight"), col("n_picks"))
  }
}
