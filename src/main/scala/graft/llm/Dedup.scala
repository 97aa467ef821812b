package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** Deduplication operators for training-data pipelines.
  *
  * Strategies (all shuffle only keys/signatures, never document bodies,
  * and verify candidates exactly before reporting a pair):
  *
  *   - [[Dedup.exactDuplicates]] — hash-groupBy on a content digest: one
  *     shuffle of (digest, id), keep-min policy.
  *   - [[Dedup.nearDuplicates]] — MinHash-LSH over character shingles:
  *     shingle → 64 minhashes → `bands` banded keys; candidate pairs
  *     share a band bucket (equi-self-join on the band key — the classic
  *     banding scheme, no all-pairs product); candidates are verified with
  *     EXACT shingle-set Jaccard, so false positives cost only the verify
  *     join and the output is exactly "pairs with J >= threshold that
  *     collide in some band". With bands=16 × rows=4 the collision curve
  *     puts recall ≈ 1 above J≈0.75 and candidate rate < 1% at J≈0.15.
  *   - [[Dedup.simhash64]] + [[Dedup.simhashNearDuplicates]] — 64-bit
  *     SimHash over tokens; near-pairs = Hamming distance <= k, found by
  *     banding the fingerprint into k+1 chunks (pigeonhole: any pair
  *     within distance k shares at least one exact chunk).
  *   - embedding-cosine near-dup — [[RandomHyperplaneLsh.nearPairs]].
  */
object Dedup {

  /** Cleanups for frames persisted by llm operators (the prefix index
    * of [[jaccardPairsExact]]; the q117 gram census persisted in
    * `SparkEntry`). Tracked so callers can release EXACTLY these —
    * `spark.catalog.clearCache()` would evict unrelated caches too. */
  private val cacheCleanups =
    scala.collection.mutable.ListBuffer.empty[() => Unit]

  private[graft] def registerCleanup(f: () => Unit): Unit =
    synchronized { cacheCleanups += f }

  /** Unpersist every intermediate frame a Dedup operator cached in this
    * session. Safe to call once results are materialized (collected or
    * written); a frame still mid-computation merely recomputes. NOTE:
    * session-GLOBAL — with several dedup jobs in flight it releases all
    * of their indexes; a job that wants to release only its own should
    * use [[jaccardPairsExactReleasable]] and invoke the returned
    * cleanup instead. */
  def releaseCaches(): Unit = synchronized {
    cacheCleanups.foreach(_.apply())
    cacheCleanups.clear()
  }

  /** Exact duplicates via content digest: groups with >1 copy, keep-min
    * id policy. Only (digest, id) shuffles. The `ids` roster is CAPPED
    * at `maxIds` (smallest ids kept — deterministic and exact: min-k
    * selection distributes over the merge, so the two-level cap below
    * returns the same `maxIds` smallest ids a global sort would).
    *
    * Buffer bounding: a single `collect_list` per digest would
    * accumulate a pathological duplicate cluster — 10M copies of one
    * boilerplate page — into ONE aggregation buffer before any slice.
    * Instead the ids aggregate in two stages: per `(digest, input
    * partition)` first, sliced to `maxIds`, then the ≤ `maxIds`·P
    * partial winners merge per digest. NOTE the bound this buys is the
    * input SPLIT size, not `maxIds`: `slice` runs after each stage's
    * list is fully collected, so a stage-1 buffer still holds that
    * partition's whole share of the cluster (≤ one split, e.g. 128 MB
    * of ids at parquet defaults) and a stage-2 buffer ≤ `maxIds`·P
    * entries. A hard `maxIds` buffer bound would need a custom
    * TypedImperativeAggregate (bounded min-k heap); the split-size
    * bound has been sufficient in practice because no split holds 10M
    * ids. `copies` still counts the full cluster. */
  def exactDuplicates(df: DataFrame, idCol: String,
                      textCol: String, maxIds: Int = 100): DataFrame = {
    require(maxIds >= 1, s"maxIds must be >= 1, got $maxIds")
    val partial = df
      .groupBy(md5(col(textCol)).as("digest"),
        spark_partition_id().as("_p"))
      .agg(min(col(idCol)).as("_keep"), count(lit(1)).as("_n"),
        slice(sort_array(collect_list(col(idCol))), 1, maxIds).as("_ids"))
    partial
      .groupBy(col("digest"))
      .agg(min(col("_keep")).as("keep_id"), sum(col("_n")).as("copies"),
        slice(sort_array(flatten(collect_list(col("_ids")))), 1, maxIds)
          .as("ids"))
      .filter(col("copies") > 1)
  }

  /** Distinct character n-gram shingles of a text column (codegen'd —
    * sequence/transform built-ins, no UDF). */
  def shingles(textCol: String, n: Int): Column =
    shinglesOf(col(textCol), n)

  /** Distinct `n`-char shingles of a string column, O(length·n):
    * the string splits to a char array ONCE and shingles assemble by
    * element-wise concat of `n` shifted slices — NEVER a per-position
    * `substr`, whose UTF8String implementation scans from the string
    * START to find the char offset (O(position) per call, O(L²) per
    * document — invisible on 300-char gate fixtures, fatal on real
    * 100k-char documents; the long-doc soak is what caught it).
    * Char = code point on BMP text; the test corpora are ASCII (the
    * [[Bpe.encodeOracleSql]] caveat). */
  def shinglesOf(c: Column, n: Int): Column =
    array_distinct(
      when(length(c) >= n, {
        val cs = split(c, "")
        val g = length(c) - (n - 1)
        (1 until n).foldLeft(slice(cs, lit(1), g)) { (acc, o) =>
          zip_with(acc, slice(cs, lit(o + 1), g),
            (a, b) => concat(a, b))
        }
      }).otherwise(array().cast("array<string>")))

  /** Exact Jaccard of two array columns. NULL when either side is a
    * null array under EVERY config — plain `size(NULL)` reads −1 with
    * the legacy flag ANSI-off implies, which would turn a null side
    * into a garbage finite value ([[TextStats.sizeOrNull]]). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = TextStats.sizeOrNull(array_intersect(a, b)).cast("double")
    val uni = TextStats.sizeOrNull(a) + TextStats.sizeOrNull(b) -
      TextStats.sizeOrNull(array_intersect(a, b))
    when(uni === 0, lit(0.0)).otherwise(inter / uni.cast("double"))
  }

  /** splitmix64 finalizer — a full-avalanche 64-bit mix, so each slot's
    * hash family is independent (a plain `h1 + i*h2` progression is NOT:
    * the i-term is far smaller than the h1 spread, one shingle wins every
    * min slot and the signature degenerates to min-shingle identity). */
  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Shared kernel: one-permutation-hashing minhash bins over a stream of
    * shingle hashes (Li, Owen, Zhang 2012 — each shingle hashed ONCE into
    * one of `bands*rows` bins, per-bin minimum kept), rotation
    * densification for empty bins (Shrivastava & Li 2014), then `bands`
    * band keys of `rows` slots each. O(|shingles|) per document — k times
    * fewer hash ops than k independent permutations, same banding
    * statistics. Band index is encoded into the key so bands never
    * cross-match. */
  private def bandKeysFromHashes(hashes: Iterator[Long], bands: Int,
                                 rows: Int): Array[Long] = {
    val k = bands * rows
    val mins = Array.fill(k)(Long.MaxValue)
    hashes.foreach { h0 =>
      val h = mix64(h0)
      val bin = ((h >>> 1) % k).toInt
      val v = mix64(h)
      if (v < mins(bin)) mins(bin) = v
    }
    var i = 0
    while (i < k) {
      if (mins(i) == Long.MaxValue) {
        var d = 1
        while (d < k && mins((i + d) % k) == Long.MaxValue) d += 1
        if (d < k) mins(i) = mix64(mins((i + d) % k) + d)
      }
      i += 1
    }
    Array.tabulate(bands) { b =>
      var acc = b.toLong * 0x9e3779b97f4a7c15L
      var r = 0
      while (r < rows) {
        acc = mix64(acc ^ mins(b * rows + r))
        r += 1
      }
      acc
    }
  }

  private[llm] def hashOf(s: String, seed: Int): Long = {
    val h1 = MurmurHash3.stringHash(s, seed)
    val h2 = MurmurHash3.stringHash(s, seed ^ 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** MurmurHash3.stringHash replayed over the `n`-char window of
    * `text` starting at `start` — BIT-IDENTICAL to
    * `stringHash(text.substring(start, start+n), seed)` without the
    * substring allocation (the scala-library algorithm: chars mixed
    * pairwise, odd tail via mixLast, finalized with the length). The
    * hot-path kernel of every shingling pass: at corpus scale the
    * per-window `substring` + HashSet-of-String dedup + re-hash was
    * 3-4 O(n) passes per window; this is one. */
  private def murmurWindow(text: String, start: Int, n: Int,
                           seed: Int): Int = {
    import scala.util.hashing.{MurmurHash3 => MH}
    var h = seed
    var i = 0
    while (i + 1 < n) {
      val data = (text.charAt(start + i) << 16) + text.charAt(start + i + 1)
      h = MH.mix(h, data)
      i += 2
    }
    if (i < n) h = MH.mixLast(h, text.charAt(start + i).toInt)
    MH.finalizeHash(h, n)
  }

  /** 64-bit window hash — bit-identical to
    * `hashOf(text.substring(start, start+n), seed)`. */
  private[llm] def windowHash64(text: String, start: Int, n: Int,
                                seed: Int): Long = {
    val h1 = murmurWindow(text, start, n, seed)
    val h2 = murmurWindow(text, start, n, seed ^ 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Sorted, hash-deduped 64-bit shingle hashes of a text, one
    * allocation-free pass — exactly the values
    * `shingleSet(text, n).map(hashOf(_, seed))` yields (two distinct
    * window STRINGS colliding to one hash dedup here rather than in
    * the consumer; every consumer already dedups or is min-fold
    * insensitive to duplicates). Null/short text = empty array. */
  private[llm] def windowHashes(text: String, n: Int,
                                seed: Int): Array[Long] = {
    if (text == null || text.length < n) return Array.emptyLongArray
    val m = text.length - n + 1
    val raw = new Array[Long](m)
    var i = 0
    while (i < m) { raw(i) = windowHash64(text, i, n, seed); i += 1 }
    java.util.Arrays.sort(raw)
    var k = 0
    var j = 0
    while (j < m) { // in-place dedup of the sorted run
      if (k == 0 || raw(k - 1) != raw(j)) { raw(k) = raw(j); k += 1 }
      j += 1
    }
    if (k == m) raw else java.util.Arrays.copyOf(raw, k)
  }

  /** Distinct shingle set of a text, built in one linear pass (the SQL
    * `substr`-expression form re-scans codepoints per shingle — quadratic
    * per document and measurably slow at scale). A null text is an
    * empty set: Spark invokes String-typed Scala UDFs WITH the null
    * (no null-safe wrapping for reference types), so without this
    * guard one null-text document kills the whole job — and the SQL
    * oracles agree (substring of NULL yields no shingles). */
  private[graft] def shingleSet(text: String, n: Int): java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    if (text == null) return set
    var i = 0
    while (i + n <= text.length) {
      set.add(text.substring(i, i + n))
      i += 1
    }
    set
  }

  /** Banded MinHash keys for a pre-computed shingle array. A null or
    * empty array keys to NO bands (same as [[textBandKeys]]'s empty
    * branch — without the guard every shingle-less doc derives the
    * same all-MaxValue signature and they ALL co-bucket). */
  def minhashBandKeys(bands: Int, rows: Int, seed: Int = 42)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (sh: Seq[String]) =>
      if (sh == null || sh.isEmpty) Array.empty[Long]
      else bandKeysFromHashes(sh.iterator.map(hashOf(_, seed)), bands, rows)
    }

  /** Banded MinHash keys straight from the text (shingling inlined,
    * allocation-free via [[windowHashes]] — bit-identical band keys:
    * the one-permutation bins fold min-per-bin, which neither hash
    * order nor duplicate occurrences can move). */
  def textBandKeys(shingleLen: Int, bands: Int, rows: Int, seed: Int = 42)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      val hs = windowHashes(text, shingleLen, seed)
      if (hs.isEmpty) Array.empty[Long]
      else bandKeysFromHashes(hs.iterator, bands, rows)
    }

  /** Exact shingle-set Jaccard of two texts (single pass each). */
  def textJaccard(shingleLen: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: String, b: String) =>
      val sa = shingleSet(a, shingleLen)
      val sb = shingleSet(b, shingleLen)
      if (sa.isEmpty || sb.isEmpty) 0.0
      else {
        var inter = 0
        val it = sa.iterator()
        while (it.hasNext) if (sb.contains(it.next())) inter += 1
        inter.toDouble / (sa.size + sb.size - inter)
      }
    }

  /** The exact-verify tail every Jaccard family ends in: join the
    * candidate `(id_a, id_b)` pairs back to the raw TEXT of both sides
    * (far lighter to shuffle than shingle arrays), shingle only the
    * candidate rows in one linear pass per text, and keep
    * `(id_a, id_b, jaccard)` with J >= threshold. A self-join passes
    * the same frame as `left` and `right`. */
  private def verifyExact(candidates: DataFrame, left: DataFrame,
                          right: DataFrame, idCol: String,
                          textCol: String, shingleLen: Int,
                          threshold: Double): DataFrame =
    candidates
      .join(left.select(col(idCol).as("id_a"), col(textCol).as("_txt_a")),
        "id_a")
      .join(right.select(col(idCol).as("id_b"), col(textCol).as("_txt_b")),
        "id_b")
      .withColumn("jaccard",
        textJaccard(shingleLen)(col("_txt_a"), col("_txt_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** MinHash-LSH near-duplicate pairs with exact Jaccard verification.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, J >= threshold.
    * Band buckets larger than `maxBucket` (boilerplate clusters) are
    * capped via [[Banding.guardedPairs]] — star-linked to the bucket
    * representative with a logged audit, never a silent B²/2 blow-up.
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     shingleLen: Int = 8, bands: Int = 16, rows: Int = 4,
                     threshold: Double = 0.6, seed: Int = 42,
                     maxBucket: Int = 1024): DataFrame = {
    val banded = df.select(col(idCol).as("_id"),
      explode(textBandKeys(shingleLen, bands, rows, seed)(col(textCol)))
        .as("_band"))
    val candidates = Banding.guardedPairs(banded, maxBucket)
    verifyExact(candidates, df, df, idCol, textCol, shingleLen, threshold)
  }

  /** CROSS-corpus MinHash near-join — the LSH-approximate sibling of
    * [[jaccardJoinExact]] for decontamination at scales where even the
    * prefix-filtered exact join is too heavy: both corpora band with
    * the SAME MinHash keys (same seed/bands/rows — collision
    * probabilities identical to [[nearDuplicates]]), candidates come
    * from [[Banding.guardedCrossPairs]] (left×right buckets only,
    * per-side hot-bucket caps, audited), and survivors verify with
    * EXACT shingle Jaccard — so false positives never escape; only
    * recall is probabilistic, governed by the (bands, rows) collision
    * curve. Output: (id_a from left, id_b from right, jaccard) with
    * J >= threshold; an identical document on both sides self-pairs
    * at J=1. */
  def nearDuplicateJoin(left: DataFrame, right: DataFrame,
                        idCol: String, textCol: String,
                        shingleLen: Int = 8, bands: Int = 16,
                        rows: Int = 4, threshold: Double = 0.6,
                        seed: Int = 42,
                        maxBucket: Int = 1024): DataFrame = {
    val keys = textBandKeys(shingleLen, bands, rows, seed)
    def banded(df: DataFrame): DataFrame =
      df.select(col(idCol).as("_id"),
        explode(keys(col(textCol))).as("_band"))
    val candidates =
      Banding.guardedCrossPairs(banded(left), banded(right), maxBucket)
    verifyExact(candidates, left, right, idCol, textCol, shingleLen,
      threshold)
  }

  /** EXACT n-gram Jaccard pairs via a prefix-filtered set-similarity
    * join (the AllPairs family, Bayardo/Ma/Srikant 2007) — the exact
    * counterpart of [[nearDuplicates]]: no hashing, no recall loss, yet
    * never an all-pairs product.
    *
    * Filters, in order of how much they prune:
    *   - '''prefix filter''': under a global shingle order (rarest
    *     first — ascending document frequency), two sets with
    *     J >= t MUST share a shingle within each one's first
    *     `|S| - ceil(t*|S|) + 1` shingles; only those prefix entries
    *     enter the candidate join, so ubiquitous shingles (the hot keys
    *     that blow up a naive inverted-index join) land OUTSIDE most
    *     prefixes and never key a candidate.
    *   - '''length filter''': J(A,B) >= t implies
    *     t*|A| <= |B| <= |A|/t — applied inside the join condition.
    *   - exact verify: candidates join back to the raw text and compute
    *     true shingle Jaccard in one linear pass per doc.
    *
    * Shuffles carry only (shingle-hash, id, size) prefix entries — the
    * candidate stage runs entirely in 64-bit hash space (see the
    * in-body proof that every hash-space filter stays conservative) —
    * and the candidate id pairs; never shingle strings, arrays, or
    * texts (texts join back only onto surviving candidates).
    * Output: (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
    *
    * Scale knobs (output-invariant — they shape the PLAN, never the
    * result set):
    *   - `censusSampleFraction` — the frequency census that seeds the
    *     prefix order can run on a row sample. The order is a pruning
    *     heuristic; ANY shared total order is lossless. Measured at
    *     sf0.1 the full census pays for itself (sampling at 0.1 made
    *     the query 60% SLOWER — mis-ranked mid-frequency shingles leak
    *     into prefixes and inflate the candidate join), so the default
    *     is 1.0; at corpus sizes where two full text scans dominate,
    *     dial it down and the extra candidates are absorbed by the
    *     exact verify. The census runs over 64-bit shingle HASHES, not
    *     the shingle strings — an 8-byte shuffle key instead of a
    *     16-char one, and a hash collision merely merges two shingles'
    *     counts (the order stays a shared total order — lossless).
    *   - `saltBlock`/`maxSalts` — hot-key skew mitigation in the
    *     candidate self-join. A shingle shared by p prefixes enumerates
    *     p²/2 probe pairs inside ONE sort-merge task (the positional and
    *     length filters cut the join's OUTPUT, not its per-key
    *     enumeration — exactness forbids capping the bucket the way
    *     [[Banding.guardedPairs]] does for the LSH families). Keys whose
    *     census estimate exceeds `saltBlock` are split across
    *     `min(maxSalts, 1 + df/saltBlock)` salts: the left side lands on
    *     ONE salt by id hash, the right side replicates to every salt,
    *     so each pair meets exactly once and a p-entry hot key fans out
    *     over ~p/saltBlock tasks instead of one.
    *
    * CACHING: this overload persists a prefix index and registers it
    * with the session-global [[releaseCaches]] — the persist lives
    * until that is called. Long-lived sessions running several dedup
    * jobs should call [[jaccardPairsExactReleasable]] instead and
    * invoke its returned cleanup when done, releasing ONLY that job's
    * index.
    */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 8,
                        threshold: Double = 0.5,
                        commonShingleCap: Int = 100000,
                        censusSampleFraction: Double = 1.0,
                        saltBlock: Int = 2048,
                        maxSalts: Int = 64): DataFrame = {
    val (out, cleanup) = jaccardPairsExactReleasable(df, idCol, textCol,
      shingleLen, threshold, commonShingleCap, censusSampleFraction,
      saltBlock, maxSalts)
    registerCleanup(cleanup)
    out
  }

  /** As [[jaccardPairsExact]], additionally returning a cleanup that
    * unpersists ONLY this call's prefix index — for long-lived sessions
    * with several dedup jobs in flight, where the session-global
    * [[releaseCaches]] would evict another job's index mid-computation
    * (forcing the double recompute the persist exists to prevent).
    * Invoke the cleanup once this call's results are materialized. */
  def jaccardPairsExactReleasable(df: DataFrame, idCol: String,
                                  textCol: String,
                                  shingleLen: Int = 8,
                                  threshold: Double = 0.5,
                                  commonShingleCap: Int = 100000,
                                  censusSampleFraction: Double = 1.0,
                                  saltBlock: Int = 2048,
                                  maxSalts: Int = 64)
      : (DataFrame, () => Unit) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    require(censusSampleFraction > 0.0 && censusSampleFraction <= 1.0,
      s"censusSampleFraction must be in (0,1], got $censusSampleFraction")
    require(saltBlock >= 1 && maxSalts >= 1,
      s"need saltBlock >= 1 and maxSalts >= 1")
    // The whole candidate stage runs in 64-BIT HASH SPACE: prefix
    // entries carry shingle hashes, never shingle strings. Lossless by
    // a containment argument: two docs' shared string shingles hash to
    // shared keys, so hash-set intersection >= string-set intersection
    // and hash-set union <= string-set union — J_hash >= J_string. Every
    // hash-space filter (prefix, length, positional — computed over
    // hash-DEDUPED sets and their sizes) is therefore conservative for
    // J_string >= t, and the verify step recomputes exact string
    // Jaccard. A collision can only ADD a candidate the verify rejects.
    // The payoff: 8-byte join/shuffle keys, per-doc prefix sorts compare
    // longs not 16-char strings, and nothing is ever re-hashed.
    val (prefix, cleanup) = censusPrefixIndex(df, idCol, textCol,
      shingleLen, threshold, commonShingleCap, censusSampleFraction,
      saltBlock, maxSalts)
    val candidates = selfJoinCandidates(prefix, threshold)
    (verifyExact(candidates, df, df, idCol, textCol, shingleLen, threshold),
      cleanup)
  }

  /** The candidate stage's input: the census, its broadcast lookup and
    * the persisted prefix index built over them, plus a cleanup that
    * unpersists ONLY that index. [[jaccardPairsExactReleasable]] runs
    * exactly this stage; the hot-key soak reads the index's
    * per-(key, salt) loads off it. */
  private[graft] def censusPrefixIndex(df: DataFrame, idCol: String,
                                       textCol: String, shingleLen: Int,
                                       threshold: Double,
                                       commonShingleCap: Int,
                                       censusSampleFraction: Double,
                                       saltBlock: Int, maxSalts: Int)
      : (DataFrame, () => Unit) = {
    // Global order for the prefix filter. Correctness needs only a
    // TOTAL order shared by every document; frequency-accuracy is a
    // pruning heuristic. So: SAMPLED document frequencies for the top
    // `commonShingleCap` repeated shingles (sample → shingle →
    // map-side-combined aggregate → TakeOrdered → broadcast map — no
    // full-corpus second shingling, no shuffle JOIN, no per-doc
    // window), every unseen shingle at df=1 tie-broken by its text.
    // Boilerplate shingles rank last and fall OUT of prefixes, which is
    // all the heuristic must achieve; the estimates also size the salt
    // fan-out below.
    val dfMap = censusDfMap(df, textCol, shingleLen, commonShingleCap,
      censusSampleFraction)
    val dfB = df.sparkSession.sparkContext.broadcast(censusLookup(dfMap))
    // The candidate stage self-joins the prefix index; without a persist
    // the whole shingle→sort→posexplode subtree executes TWICE (once per
    // join side — Spark reuses no mid-plan scan across differently
    // projected branches). The index is the small artifact of this
    // operator (ids + prefix entries — ~20% of the shingle volume, no
    // texts, no arrays), so one MEMORY_AND_DISK materialization is the
    // classic AllPairs inverted-index build. It stays cached for the
    // returned frame's lifetime; released per-call via the returned
    // cleanup, or session-wide via [[releaseCaches]] (a blanket
    // clearCache() would evict unrelated caches).
    val prefix = prefixIndex(df, idCol, textCol, shingleLen, threshold,
      dfB, saltBlock, maxSalts)
    (prefix, () => { prefix.unpersist(false); () })
  }

  /** The salted prefix-index self-join producing distinct candidate
    * (id_a, id_b) pairs, id_a < id_b — the stage between the index
    * build and the exact verify. */
  private[graft] def selfJoinCandidates(prefix: DataFrame, t: Double)
      : DataFrame =
    prefixJoinCandidates(prefix, prefix, t, col("id_a") < col("id_b"))

  /** Distinct candidate (id_a from `left`, id_b from `right`) pairs of
    * two prefix indexes built over the SAME census, with `pairFilter`
    * (the self-join's id order) beside the length and positional
    * filters. Hot-key salting: entry → (key, salt); left picks one
    * salt by id hash, right replicates to all of the key's salts —
    * both sides derive `_ns` from the same census, so every pair meets
    * in exactly one (key, salt) group. */
  private def prefixJoinCandidates(left: DataFrame, right: DataFrame,
                                   t: Double, pairFilter: Column)
      : DataFrame = {
    val a = left.select(col("_g").as("_ga"), col("_id").as("id_a"),
      col("_sz").as("_sza"), (col("_pos0") + 1).as("_pa"),
      pmod(xxhash64(col("_id")), col("_ns")).cast("int").as("_salt_a"))
    val b = right.select(col("_g").as("_gb"), col("_id").as("id_b"),
      col("_sz").as("_szb"), (col("_pos0") + 1).as("_pb"),
      explode(sequence(lit(0), col("_ns") - 1)).as("_salt_b"))
    val alpha = ceil(lit(t) * (col("_sza") + col("_szb")) / (1.0 + t))
    a.join(b,
        col("_ga") === col("_gb") && col("_salt_a") === col("_salt_b") &&
          pairFilter &&
          col("_szb") >= lit(t) * col("_sza") &&
          col("_sza") >= lit(t) * col("_szb") &&
          lit(1) + least(col("_sza") - col("_pa"),
            col("_szb") - col("_pb")) >= alpha)
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Persisted prefix index of one corpus: (_id, _sz, _pos0, _g, _ns)
    * rows — doc id, hash-deduped shingle-set size, the entry's rank in
    * the doc's rarest-first prefix, the 64-bit shingle hash, and the
    * key's salt fan-out. ONE pass from text to entries: shingle, hash,
    * hash-dedup, sort rarest-first by the broadcast census, keep the
    * first |S| - ceil(t|S|) + 1 — no intermediate shingle-array
    * column, no second hashing of any shingle. The UDF returns the
    * READY-TO-EXPLODE array of (set size, prefix hash) structs so the
    * generator is its only consumer: feeding a struct-of-(sz, array)
    * into separate `_sp._1` / posexplode(`_sp._2`) / isNotNull
    * consumers lets ProjectCollapse inline the UDF into EACH of them —
    * three evaluations per row (measured 13x slower than the scan on
    * the bench corpus). posexplode of null/empty drops the row, which
    * is exactly the empty-shingle-set filter.
    *
    * posexplode keeps each prefix entry's rank in the global order —
    * the POSITIONAL filter (PPJoin, Xiao et al. 2008) needs it: a pair
    * with J >= t has overlap >= ceil(t(|A|+|B|)/(1+t)), and its FIRST
    * shared shingle g at positions (pa, pb) bounds the overlap by
    * 1 + min(|A|-pa, |B|-pb); entries violating that bound cannot be
    * the first shared shingle of a qualifying pair, so the join drops
    * them without losing any true pair. On low-diversity corpora
    * (small shingle vocabulary — everything is "common") this is the
    * filter that still bites after the frequency heuristic stops
    * helping.
    *
    * Caller owns the persist — unpersist when the consuming frame is
    * materialized. */
  private def prefixIndex(df: DataFrame, idCol: String, textCol: String,
                          shingleLen: Int, t: Double,
                          dfB: org.apache.spark.broadcast.Broadcast[CensusLookup],
                          saltBlock: Int, maxSalts: Int): DataFrame = {
    val prefixUdf = udf { (text: String) =>
      val hs = windowHashes(text, shingleLen, 42)
      val n = hs.length
      if (n == 0) null
      else {
        val dfm = dfB.value
        val plen = n - math.ceil(t * n).toInt + 1
        // rarest-first pick, primitive end to end: df per hash via
        // binary search, tandem sort by (df, h), first plen kept —
        // identical order to the former boxed sortBy
        val dfs = new Array[Long](n)
        var i = 0
        while (i < n) { dfs(i) = dfm.dfOf(hs(i)); i += 1 }
        sortByDfThenHash(dfs, hs, n)
        Array.tabulate(math.min(plen, n))(j => (n, hs(j)))
      }
    }
    val nSaltsUdf = udf { (h: Long) =>
      math.min(maxSalts.toLong,
        1L + dfB.value.dfOf(h) / saltBlock).toInt
    }
    df.select(col(idCol).as("_id"),
        posexplode(prefixUdf(col(textCol))).as(Seq("_pos0", "_e")))
      .select(col("_id"), col("_e._1").as("_sz"), col("_pos0"),
        col("_e._2").as("_g"))
      .withColumn("_ns", nSaltsUdf(col("_g")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** EXACT cross-corpus n-gram Jaccard JOIN — the train/test
    * DECONTAMINATION operator: every `(left, right)` document pair
    * with shingle-set Jaccard >= `threshold`, e.g. training documents
    * contaminated by benchmark/eval documents. Same machinery as
    * [[jaccardPairsExact]] (shared rarest-first census over BOTH
    * corpora, per-side prefix indexes in 64-bit hash space, length +
    * positional filters, census-sized hot-key salting, exact string
    * verify) but the candidate join pairs LEFT prefixes against RIGHT
    * prefixes only — within-corpus pairs are never enumerated, which
    * at decontamination scale (huge train side, small benchmark side)
    * is nearly the whole saving.
    *
    * Output: (id_a from `left`, id_b from `right`, jaccard) — a
    * document present in both corpora pairs with itself (J=1), which
    * is exactly what contamination screening wants to surface.
    * Returns the result frame and a cleanup releasing the two prefix
    * indexes (also registered session-wide for [[releaseCaches]] via
    * the non-releasable overload). */
  def jaccardJoinExact(left: DataFrame, right: DataFrame,
                       idCol: String, textCol: String,
                       shingleLen: Int = 8,
                       threshold: Double = 0.5,
                       commonShingleCap: Int = 100000,
                       censusSampleFraction: Double = 1.0,
                       saltBlock: Int = 2048,
                       maxSalts: Int = 64): DataFrame = {
    val (out, cleanup) = jaccardJoinExactReleasable(left, right, idCol,
      textCol, shingleLen, threshold, commonShingleCap,
      censusSampleFraction, saltBlock, maxSalts)
    registerCleanup(cleanup)
    out
  }

  /** As [[jaccardJoinExact]], returning the targeted cleanup (see
    * [[jaccardPairsExactReleasable]] for why). */
  def jaccardJoinExactReleasable(left: DataFrame, right: DataFrame,
                                 idCol: String, textCol: String,
                                 shingleLen: Int = 8,
                                 threshold: Double = 0.5,
                                 commonShingleCap: Int = 100000,
                                 censusSampleFraction: Double = 1.0,
                                 saltBlock: Int = 2048,
                                 maxSalts: Int = 64)
      : (DataFrame, () => Unit) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    require(censusSampleFraction > 0.0 && censusSampleFraction <= 1.0,
      s"censusSampleFraction must be in (0,1], got $censusSampleFraction")
    require(saltBlock >= 1 && maxSalts >= 1,
      s"need saltBlock >= 1 and maxSalts >= 1")
    // ONE census over both corpora: the prefix filter needs a total
    // order SHARED by every document on either side (two per-side
    // orders would break the shared-prefix-shingle theorem), and the
    // union df estimates also size the salt fan-out of keys hot on
    // either side.
    val both = left.select(col(textCol))
      .unionByName(right.select(col(textCol)))
    val dfMap = censusDfMap(both, textCol, shingleLen, commonShingleCap,
      censusSampleFraction)
    val dfB = left.sparkSession.sparkContext.broadcast(censusLookup(dfMap))
    val t = threshold
    val lIdx = prefixIndex(left, idCol, textCol, shingleLen, t, dfB,
      saltBlock, maxSalts)
    val rIdx = prefixIndex(right, idCol, textCol, shingleLen, t, dfB,
      saltBlock, maxSalts)
    // left entries land on ONE salt by id hash; right entries replicate
    // to every salt of their key (both sides derive `_ns` from the SAME
    // broadcast census, so the salt spaces agree and each cross pair
    // meets exactly once per shared prefix key)
    val candidates = prefixJoinCandidates(lIdx, rIdx, t, lit(true))
    (verifyExact(candidates, left, right, idCol, textCol, shingleLen,
        threshold),
      () => { lIdx.unpersist(false); rIdx.unpersist(false); () })
  }

  /** TOKEN-WINDOW collision decontamination join — the n-gram-overlap
    * screen of the GPT-3 appendix (Brown et al. 2020, "13-gram
    * dedup"): report every `(left, right)` document pair sharing at
    * least `minShared` DISTINCT windows of `windowTokens` consecutive
    * whitespace tokens. Complements [[jaccardJoinExact]]: Jaccard
    * measures whole-document set overlap and misses a verbatim
    * paragraph pasted into an otherwise-unrelated document; a token
    * window catches exactly that contiguous-span contamination.
    *
    * Scale shape:
    *   - each document explodes into its DISTINCT windows (≤ one per
    *     token position — rows ∝ corpus tokens, the same bound as any
    *     shingle pass), carrying an 8-byte `xxhash64` join key; the
    *     join shuffles on the hash, and candidate pairs exact-verify
    *     window-string equality after it (a 64-bit collision costs a
    *     discarded candidate, never a wrong count).
    *   - boilerplate guard: windows whose COMBINED document frequency
    *     (both corpora) exceeds `commonWindowDocFreqCap` are dropped
    *     from matching by per-side anti-joins BEFORE the cross join —
    *     a license header in D_l train and D_r benchmark docs would
    *     otherwise enumerate D_l·D_r pairs inside one join key. This
    *     mirrors the standard practice of ignoring ubiquitous n-grams
    *     in decontamination runs; the cap is on the join's INPUT, so
    *     reported `n_shared` counts are exact over the kept windows.
    *   - within-corpus pairs are never enumerated (left×right only —
    *     the dominant saving when train ≫ benchmark).
    *
    * Output: (id_a from `left`, id_b from `right`, n_shared) with
    * `n_shared` = distinct shared windows surviving the cap. */
  def ngramOverlapJoin(left: DataFrame, right: DataFrame,
                       idCol: String, textCol: String,
                       windowTokens: Int = 13,
                       minShared: Int = 1,
                       commonWindowDocFreqCap: Int = 1000): DataFrame = {
    require(windowTokens >= 1,
      s"windowTokens must be >= 1, got $windowTokens")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(commonWindowDocFreqCap >= 1,
      s"commonWindowDocFreqCap must be >= 1, got $commonWindowDocFreqCap")
    def windows(df: DataFrame, idAs: String, winAs: String): DataFrame = {
      val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
      df.select(col(idCol).as(idAs), toks.as("_t"))
        .filter(size(col("_t")) >= windowTokens)
        .select(col(idAs),
          explode(array_distinct(transform(
            sequence(lit(0), size(col("_t")) - windowTokens),
            i => concat_ws(" ",
              slice(col("_t"), i + 1, lit(windowTokens))))))
            .as(winAs))
        .withColumn("_h", xxhash64(col(winAs)))
    }
    val wl = windows(left, "id_a", "_win_a")
    val wr = windows(right, "id_b", "_win_b")
    // combined doc-frequency census on the hash only (windows are
    // distinct per doc, so count(*) == doc frequency); kept as a frame
    // and anti-joined — no driver-side collect, no size assumption
    val hot = wl.select(col("_h")).unionAll(wr.select(col("_h")))
      .groupBy("_h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > commonWindowDocFreqCap)
      .select("_h")
    wl.join(hot, Seq("_h"), "left_anti")
      .join(wr.join(hot, Seq("_h"), "left_anti"), "_h")
      .filter(col("_win_a") === col("_win_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Broadcast-side census as two primitive parallel arrays (hashes
    * sorted, dfs aligned) — the prefix/salt closures do one binary
    * search per window hash instead of a boxed `Map[Long, Long]`
    * lookup (a java.lang.Long allocation per probe, at one probe per
    * window per document — a real term at corpus scale). */
  private[llm] final class CensusLookup(keys: Array[Long],
                                        dfs: Array[Long])
      extends Serializable {
    def dfOf(h: Long): Long = {
      val i = java.util.Arrays.binarySearch(keys, h)
      if (i >= 0) dfs(i) else 1L
    }
  }

  private[llm] def censusLookup(m: Map[Long, Long]): CensusLookup = {
    val keys = m.keysIterator.toArray
    java.util.Arrays.sort(keys)
    val dfs = new Array[Long](keys.length)
    var i = 0
    while (i < keys.length) { dfs(i) = m(keys(i)); i += 1 }
    new CensusLookup(keys, dfs)
  }

  /** Tandem quicksort of parallel primitive arrays by (df asc, h asc)
    * over [0, n) — the prefix pick's rarest-first order without the
    * per-window tuple boxing `sortBy` pays (pairs are unique: h is
    * deduped, so no stability concern). Insertion sort below 16,
    * middle-of-range pivot (h arrives pre-sorted, so a first-element
    * pivot would go quadratic). */
  private def sortByDfThenHash(df: Array[Long], h: Array[Long],
                               n: Int): Unit = {
    def less(i: Int, j: Int): Boolean =
      df(i) < df(j) || (df(i) == df(j) && h(i) < h(j))
    def lessV(dv: Long, hv: Long, j: Int): Boolean =
      dv < df(j) || (dv == df(j) && hv < h(j))
    def swap(i: Int, j: Int): Unit = {
      val td = df(i); df(i) = df(j); df(j) = td
      val th = h(i); h(i) = h(j); h(j) = th
    }
    def insertion(lo: Int, hi: Int): Unit = {
      var i = lo + 1
      while (i <= hi) {
        val dv = df(i); val hv = h(i)
        var j = i - 1
        while (j >= lo && lessV(dv, hv, j)) {
          df(j + 1) = df(j); h(j + 1) = h(j); j -= 1
        }
        df(j + 1) = dv; h(j + 1) = hv
        i += 1
      }
    }
    // explicit stack, larger side deferred — bounded depth
    var stack = List((0, n - 1))
    while (stack.nonEmpty) {
      val (lo, hi) = stack.head
      stack = stack.tail
      if (hi - lo < 16) { if (lo < hi) insertion(lo, hi) }
      else {
        val mid = lo + (hi - lo) / 2
        // median-of-three pivot to mid
        if (less(mid, lo)) swap(lo, mid)
        if (less(hi, lo)) swap(lo, hi)
        if (less(hi, mid)) swap(mid, hi)
        swap(mid, hi - 1)
        val p = hi - 1
        var i = lo
        var j = p
        var done = false
        while (!done) {
          i += 1
          while (less(i, p)) i += 1
          j -= 1
          while (less(p, j)) j -= 1
          if (i >= j) done = true else swap(i, j)
        }
        swap(i, p)
        stack = (lo, i - 1) :: (i + 1, hi) :: stack
      }
    }
  }

  /** Sampled document-frequency census over 64-bit shingle hashes —
    * seeds [[jaccardPairsExact]]'s prefix order and salt sizing.
    * Returns scaled df estimates for the top `commonShingleCap` hashes.
    * df=1 rows are dropped only on a FULL census (there they carry no
    * signal — unseen and once-seen shingles rank identically). Under
    * sampling a hot shingle may surface just once, and dropping it
    * would both mis-rank it into prefixes and silently disable its
    * salt fan-out — exactly the keys the census exists to protect — so
    * every sampled sighting is kept and scaled by 1/fraction. */
  private[graft] def censusDfMap(df: DataFrame, textCol: String,
                                 shingleLen: Int, commonShingleCap: Int,
                                 censusSampleFraction: Double)
      : Map[Long, Long] = {
    val censusRows =
      if (censusSampleFraction >= 1.0) df
      else df.sample(withReplacement = false, censusSampleFraction, 42L)
    val scale = 1.0 / censusSampleFraction
    val minRawDf = if (censusSampleFraction >= 1.0) 1L else 0L
    censusRows
      .select(explode(shingleHashesUdf(shingleLen)(col(textCol))).as("_g"))
      .groupBy("_g").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > minRawDf)
      .orderBy(col("_df").desc, col("_g"))
      .limit(commonShingleCap)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1) * scale).toLong).toMap
  }

  /** Distinct shingle array straight from text, one linear pass (UDF —
    * see [[shingleSet]] note on the quadratic SQL-expression form). */
  def shinglesUdf(shingleLen: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      import scala.jdk.CollectionConverters._
      shingleSet(text, shingleLen).iterator().asScala.toArray
    }

  /** Distinct 64-bit shingle hashes straight from text — the census
    * input of [[jaccardPairsExact]]: 8-byte shuffle keys instead of
    * n-char strings, no string array ever materialized. */
  private[llm] def shingleHashesUdf(shingleLen: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) => windowHashes(text, shingleLen, 42) }

  /** Duplicate-CLUSTER assignment from a near/exact-duplicate pair
    * frame: connected components with the component's minimum id as the
    * cluster label — the step a real dedup pipeline needs after any
    * pairwise operator here, because duplicates are transitive (A~B,
    * B~C puts A and C in one cluster even when the pairwise test never
    * compared them) and "keep one per cluster" is the actionable
    * output.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris, Lattanzi,
    * Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
    * MapReduce and Beyond", SoCC 2014) — each round is two
    * groupBy+join shuffles over the EDGE set only (ids, never
    * payloads), and the edge set converges to a star per component in
    * O(log n) rounds, unlike naive min-label propagation whose round
    * count is the graph DIAMETER (a 10M-doc duplicate chain would need
    * 10M shuffles; this needs ~24). Each round's frame is eagerly
    * `localCheckpoint`ed: iterative DataFrame loops otherwise stack an
    * exponentially deepening plan no executor can compile. (Local
    * checkpoints truncate lineage WITHOUT durable storage: losing an
    * executor mid-run fails the operator, which then reruns whole —
    * acceptable because the edge frame is the pipeline's small
    * artifact and the operator is deterministic. For a run that must
    * survive executor churn — hours-long clustering on a real fleet —
    * pass `reliableCheckpoint = true` after
    * `sparkContext.setCheckpointDir(...)`: each round then writes its
    * edge frame to the checkpoint dir and a lost executor recomputes
    * from there instead of failing the operator.)
    *
    * Termination: the loop stops once the checkpointed edge set is a
    * STAR FOREST (no node is the src of two edges or both a src and a
    * dst), tested on the initial edges and after every round. A
    * distinct, strictly oriented star forest is a fixpoint of
    * large-star/small-star and IS the output contract (one edge per
    * member, to its component minimum), so no round confirms it.
    *
    * Output: (<aCol>, cluster_id) — one row per id that appears in at
    * least one pair (singletons never enter a pair frame), cluster_id =
    * min id of its component. Works for any orderable id type.
    *
    * @param maxIter hard stop — an unconverged run throws. The default
    *                (64) clears the 2 log2(n) + 8 worst-case round
    *                bound for any component up to ~2^28 nodes; raise it
    *                only for genuinely larger single components.
    * @param reliableCheckpoint use durable `checkpoint` instead of
    *                `localCheckpoint` for each round's edge frame —
    *                requires `sparkContext.setCheckpointDir` first
    *                (enforced); slower per round (one HDFS/object-store
    *                write) but the run survives executor loss. */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String,
                        maxIter: Int = 64,
                        reliableCheckpoint: Boolean = false): DataFrame =
    duplicateClustersWithRounds(pairs, aCol, bCol, maxIter,
      reliableCheckpoint)._1

  /** [[duplicateClusters]] plus the number of large-star/small-star
    * rounds run before the edge set was a star forest (exact: each
    * round ends in the driver-side star-forest test; a star-forest
    * input reports 0). O(log n) rounds is the scale guarantee; the
    * `dedup` soak tier ([[graft.tools.DedupSoak.run]]) reports it as
    * the corpus grows. */
  def duplicateClustersWithRounds(pairs: DataFrame, aCol: String,
                                  bCol: String, maxIter: Int = 64,
                                  reliableCheckpoint: Boolean = false)
      : (DataFrame, Int) = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    if (reliableCheckpoint) require(
      pairs.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliableCheckpoint = true requires " +
        "sparkContext.setCheckpointDir(...) before the call")
    def cp(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint(true)
      else df.localCheckpoint(true)
    // LOOP INVARIANT: `edges` is distinct and strictly ORIENTED
    // (src > dst). The symmetric neighbor list each large-star needs is
    // then a plain union with the reversed frame — the two orientations
    // are disjoint by construction, so the union needs no distinct
    // shuffle (the small-star output already satisfies the invariant).
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("src"),
        least(col(aCol), col(bCol)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    edges = cp(edges)
    // the star-forest test: one aggregation over (node, is_src, is_dst)
    def starForest(e: DataFrame): Boolean =
      e.select(col("src").as("_v"), lit(1).as("_s"), lit(0).as("_d"))
        .union(e.select(col("dst").as("_v"), lit(0).as("_s"),
          lit(1).as("_d")))
        .groupBy("_v").agg(sum(col("_s")).as("_s"), max(col("_d")).as("_d"))
        .agg(count(when(col("_s") > 1 || (col("_s") > 0 &&
          col("_d") > 0), 1)))
        .collect()(0).getLong(0) == 0L
    var converged = starForest(edges)
    var iter = 0
    while (!converged && iter < maxIter) {
      // LARGE-STAR: every neighbor v > u links to m = min(N(u) ∪ {u}).
      // Output rows are (v, m) with v > u >= m — already oriented, so
      // the small-star below consumes `large` directly.
      val sym = edges
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val lmins = sym.groupBy("src").agg(min(col("dst")).as("_mn"))
        .select(col("src"), least(col("src"), col("_mn")).as("_m"))
      val large = sym.join(lmins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("_m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // SMALL-STAR over the (big, small)-oriented frame: all of u's
      // smaller neighbors and u itself link to m = min(N(u) ∪ {u}).
      // Output rows are (v, m_u) / (u, m_u) with m_u <= every dst — the
      // equality filter restores strict orientation for the invariant.
      val smins = large.groupBy("src").agg(min(col("dst")).as("_m"))
      edges = cp(large.join(smins, "src")
        .select(col("dst").as("src"), col("_m").as("dst"))
        .union(smins.select(col("src"), col("_m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct())
      converged = starForest(edges)
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIter rounds")
    // stars: every edge is (member, root); add the roots themselves
    (edges.select(col("src").as(aCol), col("dst").as("cluster_id"))
      .union(edges.select(col("dst").as(aCol), col("dst").as("cluster_id")))
      .distinct(), iter)
  }

  /** Repeated-span REMOVAL — the excision counterpart of
    * [[ngramOverlapJoin]]'s detection (the RefinedWeb/Falcon-style
    * boilerplate strip): every `windowTokens`-token window whose
    * distinct-document frequency exceeds `docFreqCap` is cut from
    * every document containing it (all covered token positions go),
    * and each document is rebuilt from its surviving tokens in order.
    *
    * Scale shape: window rows ∝ corpus tokens (one row per window
    * start, the q43 shape); the hot-window cut is one aggregation
    * with map-side partials; covered positions explode only for
    * windows that ARE hot (rare by construction — that's what the cap
    * means); the rebuild is pure map-side array arithmetic
    * (`transform` + `filter` + `concat_ws`, codegen'd — no UDF).
    * Everything is integer positions and exact strings, so the q55
    * oracle replays the whole pipeline in SQL.
    *
    * Output: (id, `text_clean`, `n_tokens_removed`) — one row per
    * input document (a fully-boilerplate document comes back as the
    * empty string, not a dropped row). */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          windowTokens: Int = 8,
                          docFreqCap: Int = 2): DataFrame = {
    require(windowTokens >= 1,
      s"windowTokens must be >= 1, got $windowTokens")
    require(docFreqCap >= 1, s"docFreqCap must be >= 1, got $docFreqCap")
    val k = windowTokens
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val base = df.select(col(idCol), toks.as("_ts"))
    val wins = base
      .select(col(idCol), explode(
        when(size(col("_ts")) >= k,
          expr(s"transform(sequence(0, size(_ts) - $k), " +
            s"i -> struct(i AS s, concat_ws(' ', slice(_ts, i + 1, $k)) AS w))"))
          .otherwise(expr(
            "CAST(array() AS array<struct<s:int,w:string>>)")))
        .as("_win"))
      .select(col(idCol), col("_win.s").as("_s"), col("_win.w").as("_w"))
    val hot = wins.groupBy("_w")
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") > docFreqCap).select("_w")
    val covered = wins.join(hot, "_w")
      .select(col(idCol),
        explode(expr(s"sequence(_s, _s + $k - 1)")).as("_p"))
      .distinct()
      .groupBy(col(idCol)).agg(collect_set(col("_p")).as("_cov"))
    // kept indices via ONE hash-set array_except (O(L + |cov|)) —
    // an array_contains(_cov, i) inside the rebuild lambda would be
    // O(L·|cov|), quadratic on a boilerplate-heavy long document
    // (the scrubRefSpans lesson)
    val keptIdx = array_except(
      sequence(lit(0), size(col("_ts")) - 1),
      coalesce(col("_cov"), array().cast("array<int>")))
    base.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        when(size(col("_ts")) > 0,
          concat_ws(" ", transform(keptIdx,
            j => element_at(col("_ts"), j + 1))))
          .otherwise(lit("")).as("text_clean"),
        // sizeOrNull: a join-miss _cov is NULL, and legacy size(NULL)
        // = -1 would slip through the coalesce as a -1 count
        coalesce(TextStats.sizeOrNull(col("_cov")), lit(0))
          .as("n_tokens_removed"))
  }

  /** The shared span-occurrence frame of the character-shingle
    * family: one row per (doc, 1-based char position) with the
    * `shingleLen`-char shingle starting there. Map-side (explode +
    * substr) — cheap to re-derive; the expensive per-GRAM statistics
    * over it are what [[spanCensus]] stores. */
  private def spanOcc(df: DataFrame, idCol: String, textCol: String,
                      L: Int): DataFrame =
    // chars projected ONCE below the explode (the Generate boundary
    // stops projection collapse, and codegen carries the array by
    // reference); the shingle is then one O(L) slice per position —
    // a per-position substr would SCAN to the char offset, O(len)
    // per call and O(len²) per doc (see [[shinglesOf]])
    df.filter(col(idCol).isNotNull)
      .select(col(idCol), split(col(textCol), "").as("_cs"),
        length(col(textCol)).as("_len"))
      .select(col(idCol), col("_cs"),
        explode(when(col("_len") >= L,
          sequence(lit(1), col("_len") - (L - 1)))
          .otherwise(array())).as("_i"))
      .select(col(idCol), col("_i").cast("long").as("_i"),
        concat_ws("", slice(col("_cs"), col("_i"), lit(L))).as("_g"))

  /** Corpus-duplicated shingle CENSUS — THE stored artifact of the
    * span family ([[dupSpanCoverage]] reports and
    * [[dedupSpansKeepFirst]] surgery both hang off it, via their
    * `FromCensus` variants): one row per `shingleLen`-char shingle
    * occurring ≥ 2× in the corpus, with its occurrence count and the
    * canonical first copy (lexicographically least (doc, offset) —
    * `min(struct)` with map-side partials, never a per-gram window).
    * Duplication is RARE relative to corpus chars, so this frame is
    * vocabulary-scale where the occurrence frame is char-scale — at
    * 100 TB a pipeline writes it once and every span screen reads it
    * (the [[graft.llm.TextStats.gramCensus]] pattern at character
    * level).
    *
    * Output: (`gram`, `n_occ`, `keep_id`, `keep_pos`). */
  def spanCensus(df: DataFrame, idCol: String, textCol: String,
                 shingleLen: Int): DataFrame = {
    require(shingleLen >= 1, s"shingleLen must be >= 1, got $shingleLen")
    spanOcc(df, idCol, textCol, shingleLen)
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col(idCol), col("_i"))).as("_c"))
      .filter(col("n_occ") >= 2)
      .select(col("_g").as("gram"), col("n_occ"),
        col("_c").getField(idCol).as("keep_id"),
        col("_c").getField("_i").as("keep_pos"))
  }

  /** [[dedupSpansKeepFirst]] served from a STORED [[spanCensus]] —
    * identical output, zero per-gram aggregation: the occurrence
    * frame re-derives map-side and joins the (vocabulary-scale)
    * census, so the corpus' char-scale rows cross one join instead
    * of an aggregation AND a join. */
  def dedupSpansKeepFirstFromCensus(df: DataFrame, census: DataFrame,
                                    idCol: String, textCol: String,
                                    shingleLen: Int): DataFrame = {
    require(shingleLen >= 1, s"shingleLen must be >= 1, got $shingleLen")
    import org.apache.spark.sql.expressions.Window
    val L = shingleLen
    val occ = spanOcc(df, idCol, textCol, L)
    val stats = census.select(col("gram").as("_g"),
      col("keep_id").as("_cid"), col("keep_pos").as("_ci"))
    val rem = occ.join(stats, "_g")
      .filter(!(col(idCol) === col("_cid") && col("_i") === col("_ci")))
      .select(col(idCol), col("_i"))
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("_i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col(idCol)).orderBy(col("_i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ivs = rem
      .withColumn("_prevEnd",
        coalesce(max(col("_i") + (L - 1)).over(wPrev), lit(0L)))
      .withColumn("_brk",
        when(col("_i") > col("_prevEnd") + 1, lit(1L)).otherwise(lit(0L)))
      .withColumn("_gid", sum(col("_brk")).over(wRun))
      .groupBy(col(idCol), col("_gid"))
      .agg(min(col("_i")).as("_s"), (max(col("_i")) + (L - 1)).as("_e"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("_s"), col("_e"))))
        .as("_ivs"),
        sum(col("_e") - col("_s") + 1).as("_nrm"))
    val txt = col(textCol)
    // Rebuild = the kept CHAR-slice before each removed interval +
    // the tail after the last, flattened and joined by ONE
    // concat_ws. Two defects this shape avoids on long docs: an
    // accumulator fold that concats the growing prefix per interval
    // re-copies O(L) per step (O(L·k)/doc, k ∝ L when duplication
    // is dense), and per-segment `substr` scans to the char offset
    // (O(Σ starts) = O(L·k) again — see [[shinglesOf]]); array
    // slices index in O(segment). _cs and _ivs are ATTRIBUTES, so
    // the lambda's element_at/slice cannot be inflated by
    // projection collapse.
    val segs = concat(
      transform(col("_ivs"), (iv, j) => {
        val ks = when(j === 0, lit(1L))
          .otherwise(element_at(col("_ivs"), j).getField("_e") + 1L)
        slice(col("_cs"), ks.cast("int"),
          (iv.getField("_s") - ks).cast("int"))
      }),
      array(slice(col("_cs"),
        (element_at(col("_ivs"), -1).getField("_e") + 1L).cast("int"),
        (length(txt) -
          element_at(col("_ivs"), -1).getField("_e")).cast("int"))))
    val stitched = concat_ws("", flatten(segs))
    df.filter(col(idCol).isNotNull)
      .withColumn("_cs", split(txt, ""))
      .join(ivs, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_ivs").isNull, txt).otherwise(stitched)
          .as("text_clean"),
        coalesce(col("_nrm"), lit(0L)).as("n_chars_removed"))
  }

  /** ONE-COPY span dedup — the "remove all but one occurrence of
    * duplicated training text" policy (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") as an exact,
    * deterministic operator: every occurrence of a corpus-duplicated
    * `shingleLen`-char shingle EXCEPT its canonical first copy (the
    * lexicographically least (doc, offset)) marks its characters for
    * removal; each document is rebuilt from the surviving character
    * ranges. Contrast [[removeRepeatedSpans]], which strips a hot
    * span from EVERY document (boilerplate has no copy worth
    * keeping) — here exactly one copy of each duplicated shingle
    * survives at its canonical site. The per-shingle guarantee is the
    * honest contract: a canonical occurrence's characters can still
    * be excised when a DIFFERENT shingle's non-canonical interval
    * overlaps them (overlapping shingles interact the same way in
    * the suffix-array formulation) — what is exact is the removal
    * set's definition, identical in both engines.
    *
    * Scale shape: occurrences ∝ corpus chars (the q95 frame); gram
    * stats are ONE hash aggregation with map-side partials —
    * `min(struct(id, i))` is the canonical pick, so no per-gram
    * window ever sorts a census-scale shingle's occurrence list; the
    * interval merge runs under per-DOCUMENT windows only; the
    * rebuild is one `aggregate` fold over each doc's bounded merged
    * interval list.
    *
    * Output: (id, `text_clean`, `n_chars_removed`) — one row per
    * input document. */
  def dedupSpansKeepFirst(df: DataFrame, idCol: String, textCol: String,
                          shingleLen: Int): DataFrame =
    dedupSpansKeepFirstFromCensus(df,
      spanCensus(df, idCol, textCol, shingleLen),
      idCol, textCol, shingleLen)

  /** Span-level CROSS-corpus decontamination — the surgical sibling
    * of doc-level [[DedupForget]] deletion and within-corpus
    * [[dedupSpansKeepFirst]]: CUT from every `docs` row the token
    * spans covered by an `n`-token gram that appears anywhere in the
    * `ref` corpus (the verbatim-benchmark windows a training run must
    * not memorize), keep everything else. Deleting the whole doc
    * (q66's screen) throws away clean text; this removes exactly the
    * contaminated windows.
    *
    * Shape: ONE ref pass builds the distinct gram set (≤1 row per
    * join key — the [[graft.llm.TextStats.refGramOverlap]] no-fan-out
    * argument); train grams join it positionally and each hit covers
    * token indices [pos, pos+n-1]; the covered-index set folds
    * per-doc into ONE bounded array (≤ doc length — the per-doc
    * buffer convention); the text surgery is then MAP-SIDE: kept
    * indices come from ONE hash-set `array_except` over the position
    * range (O(L + |cov|), never a per-token membership scan — an
    * `array_contains(_cov, i)` inside the filter lambda is
    * O(L·|cov|), quadratic on a heavily-contaminated long doc) and
    * map back to tokens by position — the corpus text is never
    * shuffled, only (doc, hit) rows move. Docs with no hit pass
    * through verbatim on a left join. Token-level cutting on the
    * single-space tokenizer every other operator uses, so the output
    * re-joins with single spaces (canonical-whitespace corpora round-
    * trip exactly).
    *
    * Output: (idCol, `n_tokens`, `n_removed`, `text_clean`) — one row
    * per input document. */
  def scrubRefSpans(docs: DataFrame, ref: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ts = docs.filter(col(idCol).isNotNull)
      .select(col(idCol), filter(TextStats.tokens(col(textCol)),
        t => length(t) > 0).as("_ts"))
    val refSet = ref
      .select(filter(TextStats.tokens(col(textCol)),
        t => length(t) > 0).as("_ts"))
      .select(explode(array_distinct(
        TextStats.gramsOf(col("_ts"), n))).as("_g"))
      .distinct()
    val hits = ts
      .select(col(idCol), posexplode(TextStats.gramsOf(col("_ts"), n))
        .as(Seq("_pos0", "_g")))
      .join(refSet, "_g")
      .select(col(idCol),
        explode(sequence(col("_pos0"), col("_pos0") + lit(n - 1)))
          .as("_idx"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("_idx"))).as("_cov"))
    val keptIdx = array_except(
      sequence(lit(0), size(col("_ts")) - 1),
      coalesce(col("_cov"), array().cast("array<int>")))
    ts.join(hits, Seq(idCol), "left")
      .select(col(idCol),
        // sizeOrNull: legacy size(NULL) = -1 would emit -1 counts for
        // a null-token doc / join-miss _cov (ANSI-mode divergence)
        TextStats.sizeOrNull(col("_ts")).cast("long").as("n_tokens"),
        coalesce(TextStats.sizeOrNull(col("_cov")), lit(0))
          .cast("long").as("n_removed"),
        when(size(col("_ts")) > 0,
          array_join(transform(keptIdx,
            j => element_at(col("_ts"), j + 1)), " "))
          .otherwise(lit("")).as("text_clean"))
  }

  /** Quality-aware keeper selection over duplicate clusters — the
    * dedup POLICY knob: instead of [[DedupForget.losers]]' min-id rule,
    * keep the member that maximizes `scoreCol` (ties to the smallest
    * id), e.g. token count (longest = most complete copy) or a
    * [[TextStats.qualityFilter]]-style signal. Aggregation-based
    * argmax — `max` of a `(score, -id)` struct with map-side partials,
    * no per-cluster window, so a pathological million-member cluster
    * never serializes through one task. Feed the non-keepers to
    * [[DedupForget.forgetIds]] via
    * `clusters.join(keepers, "cluster_id").filter(id =!= keeper_id)`.
    *
    * @param clusters (member id, `cluster_id`) frame from
    *                 [[duplicateClusters]] (idCol = its first column)
    * @param scores   per-id scores; `scoreCol` must cast to long (the
    *                 integer-exact contract the q53 oracle relies on).
    *                 EVERY cluster member must be scored: a member with
    *                 no score row (or a null score) fails the job
    *                 loudly rather than being silently dropped — an
    *                 inner join here would undercount `n_members` and
    *                 could vanish a whole cluster from the output,
    *                 silently exempting it from keeper-based deletion
    *                 feeds. The guard is a map-side `raise_error`
    *                 branch, free on the happy path.
    * Output: (`cluster_id`, `keeper_id`, `keeper_score`, `n_members`).
    */
  def qualityKeepers(clusters: DataFrame, idCol: String,
                     scores: DataFrame, scoreCol: String): DataFrame =
    clusters
      .join(scores.select(col(idCol), col(scoreCol)), Seq(idCol), "left")
      .select(col("cluster_id"), col(idCol),
        when(col(scoreCol).isNotNull, col(scoreCol))
          .otherwise(raise_error(concat(
            lit(s"qualityKeepers: no score for $idCol="),
            col(idCol).cast("string")))).as(scoreCol))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col(scoreCol).cast("long").as("_s"),
          (-col(idCol)).cast("long").as("_nid"))).as("_b"))
      .select(col("cluster_id"), (-col("_b._nid")).as("keeper_id"),
        col("_b._s").as("keeper_score"), col("n_members"))

  /** Token splitter shared VERBATIM between [[simhash64]]'s Java
    * `String.split` and the q48 oracle's DuckDB `regexp_split_to_array`
    * — spelled with escapes valid in both Java regex and RE2 (`\s`
    * itself differs between the engines: Java's includes `\x0B`, RE2's
    * does not). */
  val SimhashTokenRe: String = "[ \\t\\n\\x0B\\f\\r]+"

  /** Lowercase MD5 hex of `seed:token` — the per-token hash behind
    * [[simhash64]]. MD5 (not Murmur) deliberately: both engines of the
    * correctness gate compute it bit-identically (`md5()` exists in
    * DuckDB and every warehouse SQL), so the q48 oracle replays the
    * WHOLE fingerprint in plain SQL — the q42 parity-by-construction
    * trick applied to a hash instead of a regex. Uniformity is all
    * SimHash needs from the hash; MD5's extra cost is irrelevant next
    * to the banded join it feeds. */
  private[llm] def tokenMd5Hex(seed: Int, tok: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = md.digest((seed + ":" + tok).getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    digest.foreach { b => sb.append("0123456789abcdef".charAt((b >> 4) & 0xf))
      .append("0123456789abcdef".charAt(b & 0xf)) }
    sb.toString
  }

  /** 64-bit SimHash over whitespace tokens. Bit `b` of the fingerprint
    * is the majority vote over token occurrences (duplicates counted)
    * of bit `b` of the token's MD5, where bit `b` is read from hex
    * char `b/4` as `(nibble >> (b%4)) & 1` — exactly the arithmetic
    * the q48 oracle SQL spells out, so Spark and DuckDB fingerprints
    * agree bit-for-bit. */
  def simhash64(seed: Int = 42)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      val counts = new Array[Int](64)
      // null ≡ empty text: zero token votes, the same deterministic
      // all-ties fingerprint an empty string already produces (the
      // UDF is called WITH the null — no null-safe wrapping)
      val safe = if (text == null) "" else text
      safe.split(SimhashTokenRe).foreach { tok =>
        if (tok.nonEmpty) {
          val hex = tokenMd5Hex(seed, tok)
          var b = 0
          while (b < 64) {
            val nib = Character.digit(hex.charAt(b >> 2), 16)
            if (((nib >> (b & 3)) & 1) == 1) counts(b) += 1
            else counts(b) -= 1
            b += 1
          }
        }
      }
      var fp = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) fp |= (1L << b); b += 1 }
      fp
    }

  /** Pigeonhole chunk-banding of a 64-bit fingerprint column `_fp`:
    * one `(chunk index, chunk value)` band per `maxDistance+1` chunk —
    * any pair within Hamming distance `maxDistance` shares at least
    * one exact chunk. */
  private def simhashBands(fp: DataFrame, maxDistance: Int): DataFrame = {
    val chunks = maxDistance + 1
    val width = 64 / chunks
    // 1L << 64 wraps to 1 (shifts are mod 64): a full-width chunk needs
    // an explicit all-ones mask or every fingerprint lands in bucket 0
    // and the join degenerates to the full cross product
    val mask = if (width == 64) -1L else (1L << width) - 1L
    fp.select(col("_id"),
      explode(array((0 until chunks).map { c =>
        // chunk value tagged with its index so chunks never cross-match
        struct(lit(c).as("c"),
          shiftrightunsigned(col("_fp"), c * width)
            .bitwiseAND(lit(mask)).as("v"))
      }: _*)).as("_band"))
  }

  /** Near-pairs at Hamming distance <= `maxDistance` over ANY 64-bit
    * fingerprint column — the banded engine behind
    * [[simhashNearDuplicates]], exposed for other fingerprint
    * domains (an image dHash, an audio fingerprint): pigeonhole
    * banding into maxDistance+1 chunks (any pair within distance d
    * agrees on ≥ 1 chunk — no candidate is ever missed), hot chunk
    * buckets capped via [[Banding.guardedPairs]], exact `bit_count`
    * verification. Output: (`id_a`, `id_b`, `hamming`). */
  def fingerprintNearPairs(df: DataFrame, idCol: String, fpCol: String,
                           maxDistance: Int,
                           maxBucket: Int = 1024): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 16,
      s"maxDistance must be in [0,16], got $maxDistance")
    val fp = df.select(col(idCol).as("_id"),
      col(fpCol).cast("long").as("_fp"))
    Banding.guardedPairs(simhashBands(fp, maxDistance), maxBucket)
      .join(fp.select(col("_id").as("id_a"), col("_fp").as("_fa")), "id_a")
      .join(fp.select(col("_id").as("id_b"), col("_fp").as("_fb")), "id_b")
      .withColumn("hamming",
        bit_count(col("_fa").bitwiseXOR(col("_fb"))))
      .filter(col("hamming") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** SimHash near-pairs at Hamming distance <= maxDistance, via the
    * pigeonhole banding of the fingerprint into maxDistance+1 chunks.
    * Hot chunk buckets are capped via [[Banding.guardedPairs]]. */
  def simhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                            maxDistance: Int = 3, seed: Int = 42,
                            maxBucket: Int = 1024): DataFrame =
    fingerprintNearPairs(
      df.select(col(idCol), simhash64(seed)(col(textCol)).as("_sfp")),
      idCol, "_sfp", maxDistance, maxBucket)

  /** CROSS-corpus SimHash near-join — the fingerprint-level
    * decontamination screen completing the modality triple
    * ([[jaccardJoinExact]] for text, [[RandomHyperplaneLsh.nearJoin]]
    * for embeddings): every `(left, right)` pair within Hamming
    * distance `maxDistance`, found by banding BOTH corpora's
    * fingerprints with the same seed and pairing left buckets against
    * right buckets only ([[Banding.guardedCrossPairs]] — within-corpus
    * pairs never enumerated, per-side hot-bucket caps audited).
    * Output: (id_a from left, id_b from right, hamming); an identical
    * document on both sides self-pairs at distance 0. */
  def simhashNearJoin(left: DataFrame, right: DataFrame,
                      idCol: String, textCol: String,
                      maxDistance: Int = 3, seed: Int = 42,
                      maxBucket: Int = 1024): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 16,
      s"maxDistance must be in [0,16], got $maxDistance")
    val lfp = left.select(col(idCol).as("_id"),
      simhash64(seed)(col(textCol)).as("_fp"))
    val rfp = right.select(col(idCol).as("_id"),
      simhash64(seed)(col(textCol)).as("_fp"))
    Banding.guardedCrossPairs(simhashBands(lfp, maxDistance),
        simhashBands(rfp, maxDistance), maxBucket)
      .join(lfp.select(col("_id").as("id_a"), col("_fp").as("_fa")), "id_a")
      .join(rfp.select(col("_id").as("id_b"), col("_fp").as("_fb")), "id_b")
      .withColumn("hamming",
        bit_count(col("_fa").bitwiseXOR(col("_fb"))))
      .filter(col("hamming") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Cross-corpus duplicated-span COVERAGE audit — the "what fraction
    * of each document is duplicated text" metric the substring-dedup
    * literature reports (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", measure repeated ≥-L-char spans;
    * public statement of the metric, not their suffix-array
    * construction): per document, the EXACT number of characters
    * covered by at least one corpus-duplicated length-`shingleLen`
    * character shingle, via interval union. A shingle is "duplicated"
    * when it occurs ≥ 2 times in the corpus — across documents or
    * twice inside one (internal repetition is duplicated text too; the
    * intra-doc-only view is [[repeatedSpans]]' domain). Every span of
    * length ≥ shingleLen shared anywhere is covered end to end
    * (each of its windows is duplicated), so `dup_chars` is exactly
    * the union length of all shared-span occurrences — the
    * winnowing screen (q62/q63) SAMPLES this signal at ~2/(w+1)
    * storage; this operator pays one full shingle aggregation for the
    * exact number.
    *
    * Scale shape: one (len−L+1)-per-doc shingle explode feeding ONE
    * hash aggregation on the gram (map-side partials) + one equi-join
    * of occurrences against the duplicated grams + a PER-DOCUMENT
    * window (partitioned by id — never global) for the interval
    * union + one (id) hash aggregation. All-integer arithmetic end to
    * end; `dup_micro` divides in micro-units (`div`, truncation toward
    * zero) so any engine agrees bit for bit.
    *
    * Output: (idCol, `n_chars`, `dup_chars`, `dup_micro`) — one row
    * per input document (dup-free and sub-L docs report 0). */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                      shingleLen: Int): DataFrame =
    dupSpanCoverageFromCensus(df,
      spanCensus(df, idCol, textCol, shingleLen),
      idCol, textCol, shingleLen)

  /** [[dupSpanCoverage]] served from a STORED [[spanCensus]] — the
    * coverage report with the per-gram aggregation replaced by one
    * join of the map-side occurrence frame against the
    * vocabulary-scale census (only its gram set is used). */
  def dupSpanCoverageFromCensus(df: DataFrame, census: DataFrame,
                                idCol: String, textCol: String,
                                shingleLen: Int): DataFrame = {
    require(shingleLen >= 1, s"shingleLen must be >= 1, got $shingleLen")
    import org.apache.spark.sql.expressions.Window
    val L = shingleLen
    val occ = spanOcc(df, idCol, textCol, L)
    val dupGrams = census.select(col("gram").as("_g"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("_i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = occ.join(dupGrams, "_g")
      .select(col(idCol), col("_i"),
        coalesce(max(col("_i") + (L - 1)).over(w), lit(0L)).as("_prevEnd"))
      .select(col(idCol),
        greatest(lit(0L), (col("_i") + (L - 1)) -
          greatest(col("_i") - 1, col("_prevEnd"))).as("_c"))
      .groupBy(col(idCol))
      .agg(sum(col("_c")).as("dup_chars"))
    df.filter(col(idCol).isNotNull)
      .select(col(idCol), length(col(textCol)).cast("long").as("n_chars"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_chars"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .withColumn("dup_micro",
        when(col("n_chars") > 0,
          expr("dup_chars * 1000000 div n_chars")).otherwise(lit(0L)))
  }
}
