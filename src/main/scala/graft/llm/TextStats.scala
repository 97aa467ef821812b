package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, stopword/marker-word language ID, and document
  * fingerprinting. Every operator is a codegen'd `Column` expression (no
  * UDFs) so the whole family runs inside one WholeStageCodegen span over
  * the scan — the shape that holds at 100 TB (pure map-side, no shuffle).
  */
object TextStats {

  /** Whitespace tokens (single-space-joined corpora split exactly). */
  def tokens(text: Column): Column = split(text, " ")

  /** `size` that reads NULL for a null array under EVERY config:
    * plain `size(NULL)` is −1 when `spark.sql.legacy.sizeOfNull` is
    * on (which `spark.sql.ansi.enabled=false` implies), and that −1
    * poisons every count/ratio/score built on it — a null-text doc
    * would carry qualityScore −1.408 on an ANSI-off cluster and NULL
    * on an ANSI-on one (the bug class AnsiParitySpec pins batch-side).
    * `array_size`, not a `when(arr.isNull)` wrapper: ArraySize hard-codes the non-legacy
    * null-in-null-out semantics in ONE branch-free expression — the
    * when-form references the (often expensive, split/filter-derived)
    * array twice, once unconditionally and once inside a CaseWhen
    * branch, a shape codegen's common-subexpression elimination is
    * not guaranteed to merge (same-machine A/B read no difference at
    * gate scale, but array_size is strictly the simpler plan). */
  private[llm] def sizeOrNull(arr: Column): Column = array_size(arr)

  def tokenCount(text: Column): Column = sizeOrNull(tokens(text))

  /** BPE-ish subword proxy: alphabetic runs, digit runs, and single
    * non-alphanumeric marks — a deterministic stand-in for a real BPE
    * vocabulary (same regex class semantics in Spark and DuckDB). */
  def subwordCount(text: Column): Column =
    sizeOrNull(regexp_extract_all(text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))

  def distinctTokenRatio(text: Column): Column =
    sizeOrNull(array_distinct(tokens(text))).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  def avgTokenLength(text: Column): Column =
    (length(text) - (tokenCount(text) - 1)).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Small fixed stopword list drawn from common English function words. */
  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

  def stopwordRatio(text: Column,
                    stopwords: Seq[String] = EnglishStopwords): Column = {
    val hits = sizeOrNull(filter(tokens(text),
      t => t.isin(stopwords.map(_.asInstanceOf[Any]): _*)))
    hits.cast("double") / greatest(tokenCount(text), lit(1)).cast("double")
  }

  /** Heuristic quality score in [0,1]: rewards mid-length docs, lexical
    * diversity and a sane stopword rate — the usual cheap pre-filter
    * before expensive pipeline stages. Unrounded: the formula is exact
    * double arithmetic, reproducible across engines. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 50.0, lit(1.0))
    val divScore = distinctTokenRatio(text)
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    lenScore * 0.4 + divScore * 0.4 + stopScore * 0.2
  }

  /** Marker-word sets per language for the language-ID heuristic. */
  val LanguageMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "de" -> Seq("der", "und", "das", "ist", "mit"),
    "fr" -> Seq("le", "et", "les", "est", "avec"),
    "es" -> Seq("el", "y", "los", "es", "con"))

  /** Argmax of marker-word hit counts; zero hits → 'und' (undetermined);
    * ties resolve to the FIRST language in [[LanguageMarkers]] order (the
    * q25 oracle encodes the same first-wins CASE chain). Deterministic
    * and SQL-replicable. */
  def languageId(text: Column): Column = {
    val toks = array_distinct(tokens(lower(text)))
    val scores = LanguageMarkers.map { case (lang, markers) =>
      lang -> size(array_intersect(toks,
        array(markers.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Content fingerprint: md5 of the case-folded, space-normalized text
    * (the cheap canonical form used for audit trails and exact dedup). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** Corpus vocabulary: the `k` most frequent whitespace tokens with
    * their counts, ties broken by token ascending (a total order — two
    * engines cut the same top-k boundary). The plan is the scale shape
    * for a frequency cut: explode → map-side-combined count →
    * `TakeOrderedAndProject` (per-partition partial top-k, k·P merge on
    * the driver) — no global sort of the full vocabulary. Output:
    * (token, freq). */
  def topTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
                k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(explode(split(col(textCol), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)
  }

  /** Intra-document repetition stats — the Gopher repetition filters
    * (Rae et al. 2021 §A1.1: "duplicate n-gram fraction" and "top
    * n-gram fraction"): per document over its n-token windows,
    *
    *   - `dup_frac`  = (occurrences − distinct) / occurrences — how
    *     much of the document is repeated phrasing;
    *   - `top_frac`  = most-frequent window's occurrences / occurrences
    *     — how much one phrase dominates (boilerplate/spam skews high).
    *
    * Scale shape: the per-doc window MODE needs a frequency table, so
    * the windows explode and aggregate twice — (id, gram) with map-side
    * partial counts, then per-id fold. Both stages hash-partition; rows
    * ∝ corpus tokens, never pairs. The fractions divide exactly-agreed
    * ints (0.0 for docs shorter than one window) — bit-identical across
    * engines.
    *
    * Output: (<idCol>, n_grams, n_distinct, dup_frac, top_frac). */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val grams = df.select(col(idCol), toks.as("_t"))
      .filter(size(col("_t")) >= n)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("_t")) - n),
          i => concat_ws(" ", slice(col("_t"), i + 1, lit(n)))))
          .as("_g"))
    val st = grams
      .groupBy(col(idCol), col("_g")).agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol))
      .agg(sum(col("_c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("_c")).as("_top"))
    df.select(col(idCol)).join(st, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise((col("n_grams") - col("n_distinct")).cast("double") /
            col("n_grams").cast("double")).as("dup_frac"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("_top").cast("double") /
            col("n_grams").cast("double")).as("top_frac"))
  }

  /** Common-word ratio — the classic cheap quality/filter signal (a
    * Gopher-style repetitiousness proxy): per document, the fraction of
    * its whitespace tokens that belong to the corpus's top-`k`
    * vocabulary. Natural text sits in a predictable band; boilerplate
    * and spam skew high, gibberish and non-text skew low.
    *
    * Scale shape: pass 1 is [[topTokens]] (explode → map-side-combined
    * count → TakeOrderedAndProject); its `k` winners — a bounded,
    * driver-safe handful like the IVF centroid sample — come back as a
    * LITERAL array, so pass 2 is a pure map over the scan
    * (`filter`/`array_contains` higher-order functions, codegen'd): the
    * per-doc ratio never shuffles exploded tokens, the shape that holds
    * when the corpus is 100 TB but the vocabulary cut is 100 entries.
    * Ratio is m/n of two exactly-agreed ints (0.0 for empty docs) —
    * bit-identical across engines, no rounding epsilon needed.
    *
    * Output: (<idCol>, n_tokens, n_common, common_ratio). */
  def commonWordRatio(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val vocab = topTokens(df, textCol, k)
      .collect().map(_.getString(0)).toSeq
    val vocabArr = array(vocab.map(lit): _*)
    // same tokenizer as pass 1 (\s+ with empties dropped), so the ratio
    // denominates exactly the tokens the vocabulary was counted over
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val n = size(toks).cast("long")
    val m = size(filter(toks, t => array_contains(vocabArr, t))).cast("long")
    df.select(col(idCol), n.as("n_tokens"), m.as("n_common"),
      when(n === 0, lit(0.0))
        .otherwise(m.cast("double") / n.cast("double")).as("common_ratio"))
  }

  /** The quality-filter PIPELINE stage (the decision, not just the
    * signals): Gopher/C4-shape keep/drop per doc with a flag per rule,
    * so the drop REASONS are auditable downstream (Rae et al. 2021
    * §A1.1 applies rules exactly this way — each with its own
    * accounting). Three rules over the per-doc token counts:
    * length window (`minTokens <= n <= maxTokens`), repetition proxy
    * (distinct-token fraction >= `minDistinctPct`%), and C4's
    * has-stopwords rule (stopword fraction >= `minStopPermille`‰).
    * Thresholds compare as INTEGER cross-products (`nd*100 >= n*pct`)
    * — no float division anywhere, so the q49 oracle agrees
    * bit-exactly by arithmetic, not by epsilon. Flags emit as 0/1
    * ints. Map-side only: one codegen'd projection, no shuffle (the
    * 100 TB filter pass is scan-shaped by construction). */
  def qualityFilter(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String,
                    minTokens: Int = 30, maxTokens: Int = 400,
                    minDistinctPct: Int = 40,
                    minStopPermille: Int = 20)
      : org.apache.spark.sql.DataFrame = {
    val txt = col(textCol)
    val n = size(tokens(txt))
    val nd = size(array_distinct(tokens(txt)))
    val ns = size(filter(tokens(txt),
      t => t.isin(EnglishStopwords.map(_.asInstanceOf[Any]): _*)))
    val okLen = n >= minTokens && n <= maxTokens
    val okDist = nd * 100 >= n * minDistinctPct
    val okStop = ns * 1000 >= n * minStopPermille
    df.select(col(idCol),
      n.as("n_tokens"), nd.as("n_distinct"), ns.as("n_stop"),
      okLen.cast("int").as("ok_length"),
      okDist.cast("int").as("ok_distinct"),
      okStop.cast("int").as("ok_stopwords"),
      (okLen && okDist && okStop).cast("int").as("keep"))
  }

  /** [[qualityFilter]]'s keep decision as a single boolean COLUMN —
    * for composing the gate INLINE into a wider pipeline (a
    * `df.filter(qualityKeep(col(text)))` rides the existing scan;
    * joining against the [[qualityFilter]] frame would scan the
    * corpus twice). Identical thresholds and integer arithmetic. */
  def qualityKeep(text: Column,
                  minTokens: Int = 30, maxTokens: Int = 400,
                  minDistinctPct: Int = 40,
                  minStopPermille: Int = 20): Column = {
    val n = sizeOrNull(tokens(text))
    val nd = sizeOrNull(array_distinct(tokens(text)))
    val ns = sizeOrNull(filter(tokens(text),
      t => t.isin(EnglishStopwords.map(_.asInstanceOf[Any]): _*)))
    n >= minTokens && n <= maxTokens &&
      nd * 100 >= n * minDistinctPct &&
      ns * 1000 >= n * minStopPermille
  }

  /** Winnowing document fingerprints (the MOSS scheme, Schleimer et
    * al. 2003): hash every `k`-token gram, slide a `w`-gram window,
    * and keep each window's MINIMUM hash — any two documents sharing
    * a run of ≥ `w + k - 1` tokens are GUARANTEED to share a selected
    * fingerprint (the winnowing coverage theorem), at ~2/(w+1) the
    * storage of the full gram set. The practical overlap-detection
    * form: per doc, the DISTINCT selected hashes.
    *
    * Engine shape: entirely map-side — token split, gram
    * construction, per-window `array_min`, `array_distinct`, one
    * `explode` — codegen'd, shuffle-free (plan-asserted), so it
    * composes with a scan at any scale. The hash is the md5 hex of
    * the gram text (engine-portable; lexicographic min over the hex
    * strings is the same total order in any engine — the same reason
    * the sampling family keys on md5).
    *
    * Output: (idCol, `fp` — one row per distinct selected hash).
    * Documents with fewer than `k` tokens emit no rows (no gram), and
    * with fewer than `k + w - 1` tokens emit the min over their single
    * short window. */
  def winnow(df: org.apache.spark.sql.DataFrame, idCol: String,
             textCol: String, k: Int, w: Int)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    val toks = filter(tokens(col(textCol)), t => length(t) > 0)
    df.select(col(idCol), toks.as("_ts"))
      // explicit short-doc guard: Spark's sequence(1, 0) is the
      // DESCENDING [1, 0], not empty
      .filter(size(col("_ts")) >= k)
      .select(col(idCol),
        expr(s"transform(sequence(1, size(_ts) - ${k - 1})," +
          s" i -> md5(concat_ws(' ', slice(_ts, i, $k))))").as("_gh"))
      .select(col(idCol),
        explode(array_distinct(
          expr(s"transform(sequence(1, greatest(size(_gh) - ${w - 1}, 1))," +
            s" j -> array_min(slice(_gh, j, $w)))"))).as("fp"))
  }

  /** Cross-corpus overlap screen over WINNOWED fingerprints — the
    * sparse, scalable cousin of [[Dedup.ngramOverlapJoin]]'s
    * full-window screen: (left, right) pairs sharing ≥ `minShared`
    * selected fingerprints. The winnowing guarantee carries over —
    * a shared run of ≥ `w + k - 1` tokens always shares a selected
    * fingerprint — at ~2/(w+1) of the full screen's join rows, which
    * is the difference between shuffling every window and shuffling a
    * sparse sample of them at 100 TB. (The full screen remains the
    * exact-count tool; this is the cheap first pass.)
    *
    * Output: (`id_l`, `id_r`, `n_shared` — DISTINCT shared selected
    * fingerprints). One fingerprint-key equi-join, counts aggregated
    * with map-side partials. */
  def winnowOverlapJoin(left: org.apache.spark.sql.DataFrame,
                        right: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String,
                        k: Int, w: Int, minShared: Int)
      : org.apache.spark.sql.DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val l = winnow(left, idCol, textCol, k, w)
      .select(col(idCol).as("id_l"), col("fp"))
    val r = winnow(right, idCol, textCol, k, w)
      .select(col(idCol).as("id_r"), col("fp"))
    l.join(r, "fp")
      .groupBy(col("id_l"), col("id_r"))
      .agg(count(lit(1)).as("n_shared")) // winnow emits DISTINCT fps
      .filter(col("n_shared") >= minShared)
  }

  /** Inverted-index build — the retrieval-side structure (posting
    * lists): one row per qualifying token with its SORTED distinct
    * document list and document frequency. `minDf` drops the long
    * tail (hapax tokens dominate a web vocabulary; a retrieval index
    * usually keeps df ≥ 2 terms), `maxDf` drops stopword-like terms
    * whose posting lists are corpus-sized — the two knobs that bound
    * every posting list.
    *
    * Shape: explode → per-(token, doc) distinct → the shared build
    * [[IndexMaintain.invertedRows]] (one token aggregation,
    * `collect_list` + `sort_array` — deterministic postings for any
    * partitioning). Posting-list memory per aggregation buffer is
    * capped by `maxDf` BY CONSTRUCTION: the df computation itself is
    * counts, so the build counts first, filters, then collects only
    * surviving tokens' lists.
    *
    * Output: (`token`, `df`, `postings` sorted array). */
  def invertedIndex(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, minDf: Long = 2,
                    maxDf: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame =
    IndexMaintain.invertedRows(IndexMaintain.docTokens(df, idCol, textCol),
      idCol, minDf, maxDf, overflow = false)

  /** POSITIONAL inverted index — [[invertedIndex]] extended with
    * within-document token positions (1-based over the same
    * empty-filtered token stream every operator tokenizes), the
    * structure phrase and proximity queries need. One row per
    * qualifying (token, document) pair — the 100 TB-friendly posting
    * shape: each aggregation buffer holds ONE document's positions
    * (bounded by document length), never a term's corpus-wide list,
    * so even a stopword-scale term streams through as df rows. The
    * df window is therefore query-side selectivity here, not buffer
    * safety — default unbounded, unlike [[invertedIndex]] whose
    * per-term postings list makes `maxDf` a memory guard.
    *
    * Output: (`token`, `df`, idCol, `positions` sorted 1-based). */
  def positionalIndex(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, minDf: Long = 1,
                      maxDf: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame =
    IndexMaintain.positionalRows(
      IndexMaintain.tokenPositions(df, idCol, textCol), idCol, minDf,
      maxDf, overflow = false)

  /** Arbitrary-phrase search over a [[positionalIndex]] frame —
    * posting intersection + position adjacency, the standard
    * positional-index query plan (and what q77's gram scan cannot do
    * without rebuilding a gram table per phrase length): documents
    * where `phrase(0)` occurs at some position p and every
    * `phrase(o)` at p + o. One bounded frame per phrase offset (≤
    * that term's df rows — the index IS the bound), `k−1` equi-joins
    * on the document id, and the occurrence count is a pure array
    * expression over the joined position lists — no corpus scan, no
    * re-tokenization. Overlapping occurrences count (same as
    * [[phraseCount]]); repeated phrase terms join the same posting
    * frame once per offset. A term outside the index's df window
    * cannot match — the index is the search surface; build with the
    * default unbounded window when the vocabulary must be complete.
    * The index frame is referenced once per phrase offset: persist it
    * (or read it from storage — at scale the index IS the stored
    * artifact, like the PQ codes) when issuing several queries.
    *
    * Output: (idCol, `n_occurrences` > 0). */
  def phraseSearchIndexed(index: org.apache.spark.sql.DataFrame,
                          idCol: String, phrase: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val frames = phrase.zipWithIndex.map { case (w, o) =>
      index.filter(col("token") === lit(w))
        .select(col(idCol), col("positions").as(s"_p$o"))
    }
    val joined = frames.reduce(_.join(_, idCol))
    // hash-based intersection of the anchor list with each term's
    // back-shifted list: O(Σ|positions|) per doc, where the previous
    // per-anchor array_contains scan was O(|p0|·Σ|p_o|) — quadratic
    // on a document that repeats a phrase term heavily. Positions are
    // distinct, so the intersection size IS the occurrence count.
    val occ = size(phrase.indices.drop(1).foldLeft(col("_p0")) {
      (acc, o) =>
        array_intersect(acc, transform(col(s"_p$o"), p => p - lit(o)))
    })
    joined.select(col(idCol), occ.cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
  }

  /** Proximity search over a [[positionalIndex]] frame — the relaxed
    * cousin of [[phraseSearchIndexed]]: documents where some
    * occurrence of `terms(0)` (the ANCHOR) has EVERY other term
    * occurring within `window` token positions of it, counted per
    * anchor occurrence. Anchor-window semantics — exact and
    * order-free within the window. Same plan shape as phrase search:
    * one bounded posting frame per term, k−1 equi-joins on the
    * document id, zero corpus scans.
    *
    * Per-doc shape: an interval-stabbing SWEEP, not a per-anchor
    * membership scan (that is O(|p0|·Σ|p_o|), quadratic on a doc
    * that repeats a query term heavily): each non-anchor occurrence
    * q contributes a [q−window, q+window] interval as (start, end)
    * events, anchors are probe events, one `array_sort` orders them
    * and ONE `aggregate` fold sweeps with a per-term live-interval
    * depth counter — k is known at plan time, so the state struct
    * carries one depth field per term, all inside the fold's O(1)
    * per-event work. O(E log E) per document, E = |p0| + 2·Σ|p_o|;
    * no derived array is referenced from inside a lambda.
    *
    * Output: (idCol, `n_anchors` > 0). */
  def proximitySearch(index: org.apache.spark.sql.DataFrame,
                      idCol: String, terms: Seq[String], window: Int)
      : org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(window >= 1, s"window must be >= 1, got $window")
    val frames = terms.zipWithIndex.map { case (w, o) =>
      index.filter(col("token") === lit(w))
        .select(col(idCol), col("positions").as(s"_p$o"))
    }
    val joined = frames.reduce(_.join(_, idCol))
    val others = terms.indices.drop(1)
    // event kinds sort (pos, kind): 0 = interval start, 1 = anchor
    // probe, 2 = interval end — a start at p admits an anchor at p,
    // an end at q+window still covers an anchor there (closed
    // intervals on both sides)
    val events = concat(
      transform(col("_p0"), p =>
        struct(p.as("pos"), lit(1).as("kind"), lit(0).as("term"))) +:
      others.map(o => concat(
        transform(col(s"_p$o"), q => struct((q - window).as("pos"),
          lit(0).as("kind"), lit(o).as("term"))),
        transform(col(s"_p$o"), q => struct((q + window).as("pos"),
          lit(2).as("kind"), lit(o).as("term"))))): _*)
    def zeroState = struct((lit(0L).as("m") +:
      others.map(o => lit(0).as(s"d$o"))): _*)
    val anchors = aggregate(array_sort(events), zeroState,
      (acc, e) => {
        val live = others.map(o => acc(s"d$o") > 0)
          .reduceOption(_ && _).getOrElse(lit(true))
        val m = (acc("m") + when(e("kind") === 1 && live, 1L)
          .otherwise(0L)).as("m")
        val ds = others.map { o =>
          (acc(s"d$o") + when(e("term") === o,
            when(e("kind") === 0, 1)
              .when(e("kind") === 2, -1).otherwise(0))
            .otherwise(0)).as(s"d$o")
        }
        struct((m +: ds): _*)
      },
      acc => acc("m"))
    joined.select(col(idCol), anchors.cast("long").as("n_anchors"))
      .filter(col("n_anchors") > 0)
  }

  /** Conjunctive (AND) search over an [[invertedIndex]] frame: the
    * documents containing ALL of the `nTerms` highest-df in-window
    * terms (df desc, token asc — a deterministic pick for any data).
    * Posting-list intersection as ONE aggregation: explode the k
    * selected lists, count per doc, keep count == k. Postings are
    * distinct by construction, so the count IS the number of matched
    * terms; k lists are each ≤ maxDf docs, so the exploded frame is
    * ≤ k·maxDf rows no matter the corpus size.
    *
    * Output: (`doc_id`, `n_matched` == nTerms). */
  def conjunctiveSearch(index: org.apache.spark.sql.DataFrame,
                        nTerms: Int)
      : org.apache.spark.sql.DataFrame = {
    require(nTerms >= 1, s"nTerms must be >= 1, got $nTerms")
    val terms = index.orderBy(col("df").desc, col("token"))
      .limit(nTerms).select("token")
    index.join(terms, "token")
      .select(explode(col("postings")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === nTerms)
  }

  /** Shared BM25 plumbing: token occurrences, per-doc length, and the
    * single-row (total token count L, corpus size N) frame. L is
    * derived as sum(dl) — the same integer as count(toks), but the
    * identical dl subtree lets ReuseExchange serve both the length
    * join and the L scalar from ONE tokenization pass (N's count
    * reads no columns at all), so the corpus text is tokenized twice
    * total (tf + dl), not three times. */
  private def bm25Frames(docs: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String) = {
    // the explicit null-id filter (a join would inject it on its own
    // branch anyway) keeps BOTH dl consumers' subtrees canonically
    // equal — without it the L branch lacks the join's isnotnull and
    // ReuseExchange can't unify them
    val toks = docs.filter(col(idCol).isNotNull)
      .select(col(idCol), explode(filter(
        tokens(col(textCol)), t => length(t) > 0)).as("_t"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("_dl"))
    // coalesce: a corpus (or insert BATCH — bm25StatsInsert adds this
    // scalar to the maintained _L) with zero tokens must yield L = 0,
    // not NULL; sum() over no rows is NULL and NULL would silently
    // poison every downstream score
    val nl = dl.agg(coalesce(sum(col("_dl")), lit(0L)).as("_L"))
      .crossJoin(docs.agg(count(lit(1)).as("_N")))
    (toks, dl, nl)
  }

  /** BM25-scored top-k retrieval (Robertson/Sparck Jones; the Lucene
    * `log1p` idf, which is positive for every df) — the library API:
    * DOUBLE scores, arbitrary `k1`/`b`. Docs matching ≥ 1 query term
    * are scored disjunctively, ranked (score desc, id asc), cut to k.
    *
    * Shape: the query-term filter is an `isin` over a literal list —
    * pushed to the scan — so `tf` aggregates only matching (doc,
    * term) pairs; per-doc length joins against those docs only; the
    * (L, N) scalars broadcast as a 1-row frame. No corpus-sized
    * shuffle beyond the one `dl` aggregation BM25's length
    * normalization inherently needs.
    *
    * Output: (idCol, `n_matched`, `score` double, `rank` 1..k). */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, queryTerms: Seq[String],
               k1: Double = 1.2, b: Double = 0.75, k: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty && k >= 1, "need query terms and k >= 1")
    val (toks, dl, nl) = bm25Frames(docs, idCol, textCol)
    val tf = toks.filter(col("_t").isin(queryTerms: _*))
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    val idf = log1p((col("_N") - col("_df") + lit(0.5)) /
      (col("_df") + lit(0.5)))
    val sat = (col("_tf") * lit(k1 + 1)) / (col("_tf") +
      lit(k1) * (lit(1 - b) + lit(b) * col("_dl") * col("_N") / col("_L")))
    val scored = tf.join(dfreq, "_t").join(dl, idCol)
      .crossJoin(broadcast(nl))
      .withColumn("_s", idf * sat)
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched"), sum(col("_s")).as("score"))
    rankTop(agg, idCol, col("score"), k)
  }

  /** BM25 top-k under the hash-gate contract — NO floats anywhere:
    * `terms` carries each query term's idf pre-scaled to integer
    * MICRO units (round(idf·1e6), computed once where the terms are
    * picked), and the tf-saturation factor is an EXACT rational in
    * BIGINTs. With k1 = 6/5 and b = 3/4 (the standard 1.2/0.75 —
    * exactly representable):
    *
    *   tf(k1+1) / (tf + k1(1−b + b·dl/avgdl))      with avgdl = L/N
    *     = 44·tf·L / (20·L·tf + 6·L + 18·dl·N)     (×20·L·N/5 top+bottom)
    *
    * so the per-term score is one integer `div` — truncation toward
    * zero in both Spark and DuckDB, and every operand is positive —
    * and the doc score is a SUM of exact integers: bit-identical in
    * any engine (score_micro/1e6 recovers the float to < |terms|/1e6).
    * Operand bound: idf_micro·44·tf·L < 9.2e18 holds to ~1e9 total
    * corpus tokens; past that, pre-divide L/N or use [[bm25TopK]].
    *
    * Output: (idCol, `n_matched`, `score_micro` long, `rank` 1..k). */
  def bm25TopKMicro(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, terms: Seq[(String, Long)], k: Int)
      : org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && k >= 1, "need (term, idfMicro) and k >= 1")
    val (toks, dl, nl) = bm25Frames(docs, idCol, textCol)
    // the isin pushes to the scan BEFORE tf aggregates — only query
    // terms' occurrences shuffle (filter commutes with the groupBy,
    // so this equals scoring the full stored tf table)
    val tf = toks.filter(col("_t").isin(terms.map(_._1): _*))
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_tf"))
    bm25ScoreFromStats(tf, dl, nl, idCol, terms, k)
  }

  /** The BM25 STATS ARTIFACTS — what a serving deployment stores so
    * queries never re-tokenize the corpus: the full per-(doc, term)
    * tf table, the per-doc length table, and the one-row (L, N)
    * scalars. All three are FORGET-MAINTAINABLE without touching the
    * surviving corpus ([[bm25StatsForget]]): tf and dl are per-row
    * artifacts ([[IndexMaintain.forgetRows]] anti-join), (L, N) are
    * linear counters (subtract the batch's, derived from the stored
    * dl — the [[Sketch.cmsSubtract]] move on two registers); df for
    * idf refresh comes from the q99-maintained index. Returns
    * (tf(idCol, `_t`, `_tf`), dl(idCol, `_dl`), nl(`_L`, `_N`)). */
  def bm25Stats(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val (toks, dl, nl) = bm25Frames(docs, idCol, textCol)
    val tf = toks.groupBy(col(idCol), col("_t"))
      .agg(count(lit(1)).as("_tf"))
    (tf, dl, nl)
  }

  /** [[bm25TopKMicro]] served from STORED stats ([[bm25Stats]] shape)
    * — identical scoring arithmetic, zero corpus scans: the tf read
    * filters to the query terms (a pushed equi-filter on the stored
    * table), joins the doc-length artifact, and broadcasts the
    * scalars. */
  def bm25TopKFromStats(tf: org.apache.spark.sql.DataFrame,
                        dl: org.apache.spark.sql.DataFrame,
                        nl: org.apache.spark.sql.DataFrame,
                        idCol: String, terms: Seq[(String, Long)],
                        k: Int): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && k >= 1, "need (term, idfMicro) and k >= 1")
    bm25ScoreFromStats(
      tf.filter(col("_t").isin(terms.map(_._1): _*)), dl, nl,
      idCol, terms, k)
  }

  /** Maintain the [[bm25Stats]] artifacts under a forget batch —
    * exactly the stats of the remaining corpus, derived WITHOUT
    * scanning it: per-row tables prune by anti-join; the (L, N)
    * scalars subtract the batch's token-sum (from the stored dl —
    * token-less forgotten docs correctly contribute 0 there) and the
    * batch's doc count (from the id frame, which token-less docs DO
    * appear in — N counts every doc). `forgottenIds` must be ids
    * actually in the corpus (the [[IndexMaintain]] contract). */
  def bm25StatsForget(tf: org.apache.spark.sql.DataFrame,
                      dl: org.apache.spark.sql.DataFrame,
                      nl: org.apache.spark.sql.DataFrame,
                      forgottenIds: org.apache.spark.sql.DataFrame,
                      idCol: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val fids = forgottenIds.select(col(idCol)).distinct()
    val batch = dl.join(fids, Seq(idCol), "left_semi")
      .agg(coalesce(sum(col("_dl")), lit(0L)).as("_lB"))
      .crossJoin(fids.agg(count(lit(1)).as("_nB")))
    val nl2 = nl.crossJoin(batch)
      .select((col("_L") - col("_lB")).as("_L"),
        (col("_N") - col("_nB")).as("_N"))
    (IndexMaintain.forgetRows(tf, fids, idCol),
      IndexMaintain.forgetRows(dl, fids, idCol), nl2)
  }

  /** Maintain the [[bm25Stats]] artifacts under an INSERT batch — the
    * ingestion half of [[bm25StatsForget]]: the stats of the grown
    * corpus derived from ONE pass over the BATCH alone. tf and dl are
    * per-row tables, so new documents' rows simply union in (the
    * batch must be NEW ids — the [[IndexMaintain.insertIntoIndex]]
    * contract; a duplicate id would double its tf/dl rows); the
    * (L, N) scalars add the batch's token-sum and doc count.
    * Token-less inserted docs contribute 0 to L and no dl row but DO
    * count in N — exactly the base artifact's convention. */
  def bm25StatsInsert(tf: org.apache.spark.sql.DataFrame,
                      dl: org.apache.spark.sql.DataFrame,
                      nl: org.apache.spark.sql.DataFrame,
                      inserted: org.apache.spark.sql.DataFrame,
                      idCol: String, textCol: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val (btf, bdl, bnl) = bm25Stats(inserted, idCol, textCol)
    val nl2 = nl.crossJoin(bnl
        .select(col("_L").as("_lB"), col("_N").as("_nB")))
      .select((col("_L") + col("_lB")).as("_L"),
        (col("_N") + col("_nB")).as("_N"))
    (tf.unionByName(btf), dl.unionByName(bdl), nl2)
  }

  /** Shared scoring tail: exact BIGINT saturation rational + integer
    * idf, summed per doc, two-phase top-k. `tf` must already be
    * restricted to (or filterable to exactly) the query terms. */
  private def bm25ScoreFromStats(tf: org.apache.spark.sql.DataFrame,
                                 dl: org.apache.spark.sql.DataFrame,
                                 nl: org.apache.spark.sql.DataFrame,
                                 idCol: String,
                                 terms: Seq[(String, Long)], k: Int)
      : org.apache.spark.sql.DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val termDf = terms.toDF("_qt", "_idf_micro")
    val scored = tf
      .join(broadcast(termDf), col("_t") === col("_qt"))
      .join(dl, idCol)
      .crossJoin(broadcast(nl))
      .withColumn("_s", expr("(_idf_micro * 44 * _tf * _L) div " +
        "(20 * _L * _tf + 6 * _L + 18 * _dl * _N)"))
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched"),
        sum(col("_s")).as("score_micro"))
    rankTop(agg, idCol, col("score_micro"), k)
  }

  /** The document's n-gram array: space-joined runs of `n` consecutive
    * tokens (empty tokens dropped first, so the grams match the
    * tokenizer every other operator uses). Documents shorter than `n`
    * tokens yield an empty array — `sequence` must never see a
    * descending range. Pure `Column` expression: codegen'd, map-side. */
  def ngrams(text: Column, n: Int): Column =
    gramsOf(filter(tokens(text), t => length(t) > 0), n)

  /** Gram array over an ALREADY-MATERIALIZED token-array column.
    * Callers should project the token array into its own column first
    * (`select(...as("_ts"))`) and gram over that attribute: a Column
    * expression passed here inlines into EVERY reference inside the
    * transform lambda (higher-order lambdas see no subexpression
    * elimination), which re-tokenizes per gram — the A/B at sf0.1
    * measured the projected form at ~2.5× the inlined one, and the
    * cost grows with n (each gram touches n element_at sites): the
    * q114 entry at n = 8 measured ~10× (15.6 → 1.7 s). */
  private[graft] def gramsOf(ts: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - lit(n - 1)),
        i => concat_ws(" ",
          (0 until n).map(o => element_at(ts, i + lit(o))): _*)))
      .otherwise(array())
  }

  /** The empty-filtered whitespace token array every operator
    * tokenizes with. */
  private[graft] def tokenArray(textCol: String): Column =
    filter(tokens(col(textCol)), t => length(t) > 0)

  /** Corpus-wide top-k n-gram frequency table — the n-gram-level
    * counterpart of the token vocabulary cut (q33): one explode + one
    * hash aggregation with map-side partials, ranked (freq desc, gram
    * asc — deterministic) via TakeOrderedAndProject, never a global
    * sort of the n-gram vocabulary.
    *
    * Output: (`ngram`, `freq`) — the k most frequent. */
  def topNgrams(df: org.apache.spark.sql.DataFrame,
                textCol: String, n: Int, k: Int)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(tokenArray(textCol).as("_ts"))
      .select(explode(gramsOf(col("_ts"), n)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("ngram")).limit(k)
  }

  /** EXACT heavy hitters WITHOUT a full-vocabulary shuffle — the
    * two-phase pigeonhole pattern for "every token with corpus
    * frequency ≥ threshold" when the vocabulary itself is too big to
    * shuffle: phase 1 counts WITHIN each partition (a per-partition
    * hash map — the same working set Spark's own partial aggregation
    * holds; the one deliberate `mapPartitions` in this file, used
    * precisely because the point is that nothing vocabulary-sized
    * ever reaches an exchange) and emits only tokens whose LOCAL
    * count reaches ceil(threshold / numPartitions) — a PROVABLE
    * superset of the answer: a token with global count ≥ T spread
    * over P partitions has ≥ ceil(T/P) in at least one of them
    * (pigeonhole), so no true heavy hitter can be missed. Phase 2
    * recounts EXACTLY, but only rows whose token is a candidate (a
    * semi-join keyed on the token — the shuffle moves candidate
    * occurrences only). Output provably equals the plain exact
    * GROUP BY ≥ T query — the oracle IS that query.
    *
    * Output: (`token`, `freq`) exact, freq ≥ threshold, ordered
    * (freq desc, token). */
  def exactHeavyHitters(df: org.apache.spark.sql.DataFrame,
                        textCol: String, threshold: Long)
      : org.apache.spark.sql.DataFrame = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(explode(tokenArray(textCol)).as("w"))
      .as[String]
    // ONE physical RDD serves both the partition count and the
    // candidate pass: the pigeonhole bound localT = ceil(T/P) is only
    // valid if the pass executes over exactly P partitions, so P must
    // come from the same RDD the pass runs on (deriving it from a
    // separate .rdd materialization would desynchronize if a future
    // AQE/exchange change re-planned the second execution).
    val tokRdd = toks.rdd
    val p = tokRdd.getNumPartitions.toLong.max(1L)
    val localT = (threshold + p - 1) / p
    val cands = spark.createDataset(tokRdd.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(w => m.update(w, m.getOrElse(w, 0L) + 1L))
      m.iterator.filter(_._2 >= localT).map(_._1)
    }).toDF("w").distinct()
    toks.toDF("w")
      .join(cands, Seq("w"), "left_semi")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= threshold)
      .select(col("w").as("token"), col("freq"))
      .orderBy(col("freq").desc, col("token"))
  }

  /** Per-GROUP top-k token table — the q33 vocabulary cut keyed by a
    * group column (the per-language / per-source reporting shape):
    * exact (freq desc, token asc) top-k within every group via the
    * two-phase partial-top-k pattern ([[keywords]]' shape) —
    * per-partition sorted-slice partials merge per group, so a hot
    * group never funnels its whole vocabulary through one sort and
    * there is NO window anywhere (the oracle's keyed ROW_NUMBER is
    * the luxury the engine deliberately avoids, the q60 rule).
    *
    * Output: (groupCol, `token`, `freq`, `rank` 1..k). */
  def topTokensByGroup(df: org.apache.spark.sql.DataFrame,
                       groupCol: String, textCol: String, k: Int)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = df
      .select(col(groupCol), explode(tokenArray(textCol)).as("_t"))
      .groupBy(col(groupCol), col("_t")).agg(count(lit(1)).as("freq"))
    val entry = struct((-col("freq")).as("nf"), col("_t").as("t"),
      col("freq"))
    val partial = tf
      .groupBy(col(groupCol), spark_partition_id().as("_p"))
      .agg(slice(array_sort(collect_list(entry)), 1, k).as("_top"))
    partial
      .groupBy(col(groupCol))
      .agg(slice(array_sort(flatten(collect_list(col("_top")))), 1, k)
        .as("_top"))
      .select(col(groupCol), posexplode(col("_top")).as(Seq("_pos", "_e")))
      .select(col(groupCol), col("_e.t").as("token"),
        col("_e.freq").as("freq"),
        (col("_pos") + 1).cast("int").as("rank"))
  }

  /** Top-k COLLOCATIONS: adjacent word pairs ranked by exact integer
    * LIFT — `lift_micro = (c12 · T · scale) div (c1 · c2)` where `c12`
    * is the pair's corpus frequency, `c1`/`c2` the member tokens'
    * unigram frequencies, and `T` the corpus token total. Lift is a
    * strictly monotone transform of pointwise mutual information
    * (PMI = ln lift up to the shared bigram/unigram normalization
    * constant), so ranking by `lift_micro` IS ranking by PMI — with
    * NO floats anywhere: one integer `div` per candidate, truncation
    * identical across engines for positive operands (the q75 move).
    * `minCount` is the standard collocation noise gate (a
    * one-occurrence pair of two hapaxes would otherwise always win).
    *
    * Shape: the corpus tokenizes twice (unigram explode + pair-gram
    * explode — the q75 `bm25Frames` accounting); everything after the
    * two hash aggregations is VOCABULARY-sized: candidate pairs join
    * the unigram table on each member (plain equi-joins — both sides
    * post-aggregation), the 1-row total broadcasts, and the cut is
    * TakeOrderedAndProject. No corpus-sized join, no window.
    *
    * Overflow bound (documented like q75's): `c12 · T · scale` must
    * stay under 2^63 — with the default micro scale that holds while
    * `c12 · T < 9.2e12` (e.g. a 1e9-token corpus whose hottest pair
    * appears 9e3 times); past that, lower `scale`.
    *
    * Output: (`w1`, `w2`, `pair_count`, `c1`, `c2`, `lift_micro`),
    * ordered (lift_micro desc, w1, w2), top `k`. */
  def collocations(df: org.apache.spark.sql.DataFrame, textCol: String,
                   minCount: Long = 5, k: Int = 20,
                   scale: Long = 1000000L)
      : org.apache.spark.sql.DataFrame = {
    val ts = df.select(tokenArray(textCol).as("_ts"))
    val uni = ts.select(explode(col("_ts")).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("freq"))
    val pairs = ts.select(explode(gramsOf(col("_ts"), 2)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("freq"))
    collocationsFromCounts(uni, pairs, minCount, k, scale)
  }

  /** [[collocations]] served from STORED / MAINTAINED n-gram count
    * tables — `uni` the 1-gram and `pairs` the 2-gram (`ngram`,
    * `freq`) frames (the [[topNgrams]] aggregation shape, and exactly
    * what [[graft.streaming.StreamingIndex.ngramCountsCdc]] keeps over a
    * feed) — so a serving deployment ranks collocations from the
    * persisted artifacts without re-reading the corpus. Identical
    * arithmetic and output contract. */
  def collocationsFromCounts(uni: org.apache.spark.sql.DataFrame,
                             pairs: org.apache.spark.sql.DataFrame,
                             minCount: Long = 5, k: Int = 20,
                             scale: Long = 1000000L)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val u = uni.select(col("ngram").as("_t"), col("freq").as("_c"))
    val tot = u.agg(sum(col("_c")).as("_T"))
    // tokens are space-split, so a token never CONTAINS a space and
    // the gram string splits back into its two members unambiguously
    val pc = pairs.filter(col("freq") >= minCount)
      .select(col("ngram").as("_g"), col("freq").as("pair_count"))
      .withColumn("w1", split(col("_g"), " ").getItem(0))
      .withColumn("w2", split(col("_g"), " ").getItem(1))
    pc
      .join(u.select(col("_t").as("w1"), col("_c").as("c1")), "w1")
      .join(u.select(col("_t").as("w2"), col("_c").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("lift_micro",
        expr(s"(pair_count * _T * $scale) div (c1 * c2)"))
      .select(col("w1"), col("w2"), col("pair_count"), col("c1"),
        col("c2"), col("lift_micro"))
      .orderBy(col("lift_micro").desc, col("w1"), col("w2")).limit(k)
  }

  /** Top-k most similar document PAIRS by tf-idf-WEIGHTED term
    * overlap — the sparse lexical similarity JOIN completing the
    * pair-level triple next to exact n-gram Jaccard (q29,
    * [[Dedup.jaccardPairsExact]]) and embedding cosine (q28): pairs
    * score by the exact integer dot product
    *
    *   `dot_micro(a,b) = Σ_t tf_a(t) · tf_b(t) · (scale div df(t))`
    *
    * — inverse document frequency as an exact integer rational, no
    * floats anywhere (both engines truncate identically for positive
    * operands, the q75/q108 move). Tokens outside the [2, maxDf]
    * document-frequency window contribute nothing: df=1 tokens
    * cannot pair, and the maxDf stopword cut is what every sparse
    * similarity join at scale applies anyway — here it also BOUNDS
    * the candidate fan-out (a token fans into < maxDf² ordered
    * pairs, so the pair frame is ≤ maxDf · Σ_t df(t) rows whatever
    * the corpus).
    *
    * Shape: the AllPairs posting-list self-join (the q29 candidate
    * machinery without the threshold phase) — one tf aggregation,
    * one vocab-sized df aggregation, ONE equi-join on the token, one
    * hash aggregation per surviving pair, TakeOrdered for the cut.
    * No window, no cartesian, nothing driver-side.
    *
    * Terms are `n`-grams (n = 1 → plain tokens): on corpora whose
    * token vocabulary is stopword-dominated, gram terms are what
    * actually discriminate (the q43/q62 observation applied to
    * weighted scoring).
    *
    * Overflow envelope (the [[collocations]] convention): `dot_micro`
    * sums `_tfa · _tfb · _w` longs where `_w ≤ scale/2` (df ≥ 2), so
    * the sum is bounded by `S · max_tf² · scale/2` for S shared terms
    * per pair — with the default scale 1e6 that stays below 2^63 while
    * `S · max_tf² < 1.8e13` (e.g. 10^5 shared terms of tf ≤ 10^4, or
    * 10^9 shared terms of tf ≤ 100 — far beyond any real document
    * pair under the maxDf cut). Callers raising `scale` shrink that
    * budget proportionally; in non-ANSI Spark an overflow would wrap
    * silently and corrupt the top-k ranking, so validate scale against
    * expected tf magnitudes rather than raising it blindly.
    *
    * Output: (`id_a`, `id_b`, `n_terms`, `dot_micro`) with
    * id_a < id_b, ordered (dot_micro desc, id_a, id_b), top `k`. */
  def tfidfDotPairs(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, maxDf: Int, k: Int, n: Int = 1,
                    scale: Long = 1000000L)
      : org.apache.spark.sql.DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    require(k >= 1, s"k must be >= 1, got $k")
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val tf = docs
      .select(col(idCol), tokenArray(textCol).as("_ts"))
      .select(col(idCol), explode(gramsOf(col("_ts"), n)).as("_t"))
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_tf"))
    val w = tf.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxDf)
      .withColumn("_w", expr(s"$scale div _df"))
      .select(col("_t"), col("_w"))
    val posts = tf.join(w, "_t")
    val a = posts.select(col("_t"), col(idCol).as("id_a"),
      col("_tf").as("_tfa"), col("_w"))
    val b = posts.select(col("_t"), col(idCol).as("id_b"),
      col("_tf").as("_tfb"))
    a.join(b, "_t")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("_tfa") * col("_tfb") * col("_w")).as("dot_micro"))
      .orderBy(col("dot_micro").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Per-document n-gram NOVELTY profile — the complement of the
    * duplication-coverage audit (q95) and the cross-corpus overlap
    * screens (q43/q63): for each document, how much of its distinct
    * n-gram set appears NOWHERE else in the corpus. The
    * memorization-risk / contribution metric a curation run reads per
    * document: `novelty_micro = 1e6 · n_unique div n_grams` where
    * `n_grams` counts the doc's DISTINCT grams and `n_unique` those
    * with corpus document-frequency exactly 1.
    *
    * Shape: the (doc, distinct gram) rows (`array_distinct` folds
    * within-doc repeats map-side) are built and shuffled ONCE, into
    * one gram-keyed aggregation of df and `max(id)`: a df=1 gram's
    * max is its one holder, so `n_unique` counts by holder with no
    * join of (doc, gram) rows. `n_grams` sums each row's
    * distinct-gram array size per id, shuffling no gram rows. The
    * generator explodes the gram EXPRESSION over the projected token
    * column ([[gramsOf]]): exploding a projected gram column lets the
    * optimizer push an inferred `size(..) > 0` filter, a second gram
    * evaluation, into the scan. Gram-less documents (shorter than n
    * tokens) keep their row with a 0/0/0 profile.
    *
    * Output: (idCol, `n_grams`, `n_unique`, `novelty_micro`), one row
    * per input document. */
  def gramNovelty(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, n: Int)
      : org.apache.spark.sql.DataFrame = {
    val ts = df.select(col(idCol), tokenArray(textCol).as("_ts"))
    val grams = array_distinct(gramsOf(col("_ts"), n))
    val nuniq = ts.select(col(idCol), explode(grams).as("_g"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_df"), max(col(idCol)).as("_h"))
      .filter(col("_df") === 1)
      .groupBy(col("_h").as(idCol)).agg(count(lit(1)).as("_nu"))
    val total = ts.select(col(idCol), size(grams).as("_n"))
      .groupBy(col(idCol)).agg(sum(col("_n")).as("_ng"))
    df.select(col(idCol))
      .join(total, Seq(idCol), "left")
      .join(nuniq, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_ng"), lit(0L)).as("n_grams"),
        coalesce(col("_nu"), lit(0L)).as("n_unique"))
      .withColumn("novelty_micro",
        expr("CASE WHEN n_grams > 0 THEN (n_unique * 1000000) div " +
          "n_grams ELSE CAST(0 AS BIGINT) END"))
  }

  /** Per-document contamination SHARE against a REFERENCE corpus —
    * the per-doc report a decontamination run actually thresholds on
    * (q43's pair-level screen tells you WHICH bench doc was hit; this
    * tells you HOW MUCH of each train doc is bench material): for
    * each `docs` row, the fraction of its distinct n-grams that
    * appear anywhere in `ref`, as `overlap_micro = 1e6 · n_shared
    * div n_grams`.
    *
    * Shape: the [[gramNovelty]] machinery pointed at a reference —
    * one distinct (doc, gram) frame per side, the ref side collapsed
    * to a DISTINCT gram set (at most ONE row per join key, so the
    * gram join can't fan out however hot the gram is on the train
    * side), one count per doc, gram-less docs kept at 0/0/0.
    *
    * Output: (idCol, `n_grams`, `n_shared`, `overlap_micro`). */
  def refGramOverlap(docs: org.apache.spark.sql.DataFrame,
                     ref: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, n: Int)
      : org.apache.spark.sql.DataFrame = {
    val dg = docs.select(col(idCol), tokenArray(textCol).as("_ts"))
      .select(col(idCol),
        explode(array_distinct(gramsOf(col("_ts"), n))).as("_g"))
    val refSet = ref.select(tokenArray(textCol).as("_ts"))
      .select(explode(array_distinct(gramsOf(col("_ts"), n))).as("_g"))
      .distinct()
    val total = dg.groupBy(col(idCol)).agg(count(lit(1)).as("_ng"))
    val shared = dg.join(refSet, "_g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("_ns"))
    docs.select(col(idCol))
      .join(total, Seq(idCol), "left")
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_ng"), lit(0L)).as("n_grams"),
        coalesce(col("_ns"), lit(0L)).as("n_shared"))
      .withColumn("overlap_micro",
        expr("CASE WHEN n_grams > 0 THEN (n_shared * 1000000) div " +
          "n_grams ELSE CAST(0 AS BIGINT) END"))
  }

  /** INTRA-document repetition signals (Rae et al. 2021 "Gopher"
    * §A1.1, token-level): the quality screens that catch the
    * boilerplate/spam failure mode [[qualityKeep]]'s length/distinct/
    * stopword gates miss — a document stuffed with one repeated
    * phrase passes all three. Integer MICRO shares:
    *
    *   - `top2_share_micro` / `top3_share_micro`: tokens claimed by
    *     the single most frequent 2-/3-gram (count × n) per token —
    *     Gopher's "fraction within the most frequent n-gram";
    *   - `dup4_token_share_micro`: fraction of token POSITIONS
    *     covered by ANY 4-gram occurring ≥ 2× within the doc —
    *     Gopher's "fraction within all duplicate n-grams" (coverage,
    *     not a sum, so overlapping repeats never double-count).
    *
    * Shape: pure MAP-SIDE `Column` arithmetic over the projected
    * token array — O(L log L) per document. Top-gram counts are the
    * max RUN LENGTH of the sorted gram array (one `array_sort` + one
    * linear `aggregate` fold); dup-4-gram coverage sorts (gram, start)
    * pairs, marks runs of length ≥ 2 via shifted-array equality
    * (`zip_with` against a slice — NEVER a lookup into a derived
    * array from inside a lambda, which CollapseProject is free to
    * inline and re-evaluate PER ELEMENT — a superquadratic plan),
    * restores start order, and folds the fixed-width interval union
    * in one linear pass. NO explode, NO shuffle, NO per-doc
    * aggregation state (plan-audited shuffle-free). Higher-order-function lambdas are interpreted
    * (not codegen'd) — each does O(1) work per element, so the
    * interpretation overhead is a constant factor, not a complexity
    * term. Docs with fewer than n tokens score 0 on that signal.
    *
    * Output: (idCol, `n_tokens`, `top2_share_micro`,
    * `top3_share_micro`, `dup4_token_share_micro`). */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    // max run length of equal adjacent elements in a SORTED array —
    // the occurrence count of the most frequent gram. Single linear
    // fold; the lambda touches only (accumulator, element).
    def maxRun(sorted: Column): Column =
      aggregate(sorted,
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(acc("run") > 0 && x === acc("prev"),
            acc("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc("best"), run).as("best"))
        },
        acc => acc("best"))
    def topCnt(n: Int): Column =
      maxRun(array_sort(col(s"_g$n"))).cast("long")
    // Token position p is covered iff some 4-gram START in
    // [p-3, p] ∩ [0, G-1] occurs >= 2x in the doc, i.e. the union of
    // intervals [s, s+3] over duplicated starts s. All derived arrays
    // below are referenced ONLY at top level (as HOF inputs /
    // slice targets) — worst case the optimizer duplicates an O(L)
    // expression a constant number of times, never per-element.
    val covered4 = {
      val g = size(col("_sz4"))
      // _sz4[j] equals its sorted predecessor? (sentinel at j = 0)
      val eqPrev = zip_with(col("_sz4"),
        concat(array(struct(lit(null).cast("string").as("g"),
            lit(-1).as("i"))),
          slice(col("_sz4"), lit(1), greatest(g - 1, lit(0)))),
        (a, b) => coalesce(a("g") === b("g"), lit(false)))
      // duplicated iff it equals the sorted predecessor OR successor
      val dupFlag = zip_with(eqPrev,
        concat(slice(eqPrev, lit(2), greatest(g - 1, lit(0))),
          array(lit(false))),
        (a, b) => a || b)
      // back to start order: struct(i, f) sorts on the unique i
      val byStart = array_sort(
        zip_with(col("_sz4"), dupFlag,
          (e, f) => struct(e("i").as("i"), f.as("f"))))
      // linear interval union: ends are monotone (s+3 grows with s),
      // so each duplicated start adds min(4, s + 3 - prevEnd) tokens
      val cov = aggregate(byStart,
        struct(lit(-1000000).as("end"), lit(0L).as("cov")),
        (acc, x) => when(x("f"),
            struct((x("i") + 3).as("end"),
              (acc("cov") + least(lit(4L),
                (x("i") + 3 - acc("end")).cast("long"))).as("cov")))
          .otherwise(acc),
        acc => acc("cov"))
      when(g > 0, cov).otherwise(lit(0L))
    }
    df.select(col(idCol), tokenArray(textCol).as("_ts"))
      .withColumn("n_tokens", size(col("_ts")).cast("long"))
      .withColumn("_g2", gramsOf(col("_ts"), 2))
      .withColumn("_g3", gramsOf(col("_ts"), 3))
      .withColumn("_g4", gramsOf(col("_ts"), 4))
      // (gram, start) pairs sorted gram-major, start-minor — the one
      // O(L log L) artifact the coverage pass hangs off
      .withColumn("_sz4", array_sort(
        transform(col("_g4"), (gm, i) =>
          struct(gm.as("g"), i.cast("int").as("i")))))
      .withColumn("_t2", topCnt(2))
      .withColumn("_t3", topCnt(3))
      .withColumn("_cov4", covered4)
      .select(col(idCol), col("n_tokens"),
        expr("CASE WHEN n_tokens > 0 THEN (_t2 * 2 * 1000000) div " +
          "n_tokens ELSE CAST(0 AS BIGINT) END")
          .as("top2_share_micro"),
        expr("CASE WHEN n_tokens > 0 THEN (_t3 * 3 * 1000000) div " +
          "n_tokens ELSE CAST(0 AS BIGINT) END")
          .as("top3_share_micro"),
        expr("CASE WHEN n_tokens > 0 THEN (_cov4 * 1000000) div " +
          "n_tokens ELSE CAST(0 AS BIGINT) END")
          .as("dup4_token_share_micro"))
  }

  /** Distinct (doc, n-gram) census — THE shared artifact of the
    * curation screens ([[gramNovelty]], [[refGramOverlap]], and the
    * fused [[gramScreensFromCensus]]): one row per (document,
    * distinct n-gram), `array_distinct` folding within-doc repeats
    * map-side BEFORE anything shuffles. At 100 TB this frame is what
    * a pipeline WRITES once (parquet, partitioned by gram hash) and
    * every screen reads — the [[collocationsFromCounts]] /
    * [[bm25TopKFromStats]] stored-artifact pattern applied to grams.
    *
    * Output: (idCol, `gram`). */
  def gramCensus(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, n: Int)
      : org.apache.spark.sql.DataFrame =
    df.select(col(idCol), tokenArray(textCol).as("_ts"))
      .select(col(idCol),
        explode(array_distinct(gramsOf(col("_ts"), n))).as("gram"))

  /** Novelty AND contamination profiles served from ONE stored
    * [[gramCensus]] — the fused per-doc report curation v2 (q117)
    * thresholds on, replacing separate [[gramNovelty]] +
    * [[refGramOverlap]] invocations that would each re-tokenize the
    * corpus. `ids` is the full document roster (gram-less docs keep
    * their 0/0/0/0 row — identical contract to the standalone
    * screens); `census` the corpus census; `refCensus` the reference
    * corpus census (only its distinct gram set is used).
    *
    * Shape: BOTH censuses union behind ONE `repartition(gram)`
    * exchange, and every consumer hangs off that identical subtree,
    * so ReuseExchange (the [[bm25TopKFromStats]] `bm25Frames` trick)
    * materializes the tokenizations ONCE as shuffle output — no
    * cache write, no second corpus pass. From the exchanged rows:
    * per-gram train-df and ref-membership fold in one gram-local
    * aggregation (no further exchange — partitioning is satisfied);
    * uniqueness needs NO join at all, because a df=1 gram's single
    * holder rides the aggregation as `max(case side=0 → id)` and a
    * doc's n_unique is then a count over that gram-sized frame;
    * contamination is ONE co-partitioned join (census side and
    * ref-gram side both derive from the same exchange — zero
    * additional shuffles of census rows, ≤1 row per key on the ref
    * side so no fan-out); per-doc totals re-aggregate the exchanged
    * rows with map-side partials (≤ |docs| rows per partition reach
    * the doc-keyed exchange). Callers may equally pass censuses read
    * from a written artifact — the repartition then costs one
    * exchange of the stored rows.
    *
    * Output: (idCol, `n_grams`, `n_unique`, `novelty_micro`,
    * `n_shared`, `overlap_micro`) — each column bit-identical to its
    * standalone-screen counterpart. */
  def gramScreensFromCensus(ids: org.apache.spark.sql.DataFrame,
                            census: org.apache.spark.sql.DataFrame,
                            refCensus: org.apache.spark.sql.DataFrame,
                            idCol: String)
      : org.apache.spark.sql.DataFrame = {
    val u = census.select(col(idCol), col("gram"), lit(0).as("_side"))
      .unionByName(refCensus.select(lit(null).cast(
        census.schema(idCol).dataType).as(idCol), col("gram"),
        lit(1).as("_side")))
      .repartition(col("gram"))
    val dg = u.filter(col("_side") === 0)
    val perGram = u.groupBy(col("gram")).agg(
      sum(when(col("_side") === 0, 1L).otherwise(0L)).as("_df"),
      max(col("_side")).as("_inref"),
      max(when(col("_side") === 0, col(idCol))).as("_holder"))
    val total = dg.groupBy(col(idCol)).agg(count(lit(1)).as("_ng"))
    val nuniq = perGram.filter(col("_df") === 1)
      .select(col("_holder").as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("_nu"))
    val nshared = dg.join(
        perGram.filter(col("_inref") === 1 && col("_df") > 0)
          .select(col("gram")), "gram")
      .groupBy(col(idCol)).agg(count(lit(1)).as("_ns"))
    ids.select(col(idCol))
      .join(total, Seq(idCol), "left")
      .join(nuniq, Seq(idCol), "left")
      .join(nshared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_ng"), lit(0L)).as("n_grams"),
        coalesce(col("_nu"), lit(0L)).as("n_unique"),
        coalesce(col("_ns"), lit(0L)).as("n_shared"))
      .withColumn("novelty_micro",
        expr("CASE WHEN n_grams > 0 THEN (n_unique * 1000000) div " +
          "n_grams ELSE CAST(0 AS BIGINT) END"))
      .withColumn("overlap_micro",
        expr("CASE WHEN n_grams > 0 THEN (n_shared * 1000000) div " +
          "n_grams ELSE CAST(0 AS BIGINT) END"))
      .select(col(idCol), col("n_grams"), col("n_unique"),
        col("novelty_micro"), col("n_shared"), col("overlap_micro"))
  }

  /** Maintain a stored (`ngram`, `freq`) count table (the
    * [[topNgrams]] / [[collocationsFromCounts]] artifact) under a
    * FORGET batch — the [[Sketch.cmsSubtract]] linearity applied to
    * exact gram counts: subtract the batch's own gram counts, drop
    * grams reaching zero, raise on negative (the batch was not a
    * corpus subset — clamping would silently inflate every lift
    * downstream). Costs one gram pass over the BATCH, never the
    * corpus. */
  def ngramCountsForget(counts: org.apache.spark.sql.DataFrame,
                        forgotten: org.apache.spark.sql.DataFrame,
                        textCol: String, n: Int)
      : org.apache.spark.sql.DataFrame = {
    val removed = forgotten.select(tokenArray(textCol).as("_ts"))
      .select(explode(gramsOf(col("_ts"), n)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("freq"))
    counts
      .unionByName(removed.select(col("ngram"), (-col("freq")).as("freq")))
      .groupBy(col("ngram")).agg(sum(col("freq")).as("freq"))
      .withColumn("freq",
        when(col("freq") < 0, raise_error(concat(
          lit("ngramCountsForget: negative count for gram '"),
          col("ngram"),
          lit("' — forgotten rows were not a subset of the corpus"))))
          .otherwise(col("freq")))
      .filter(col("freq") > 0)
  }

  /** Insert side of the stored-count-table linearity (the
    * [[Sketch.cmsMerge]] direction for exact gram counts): add the
    * batch's own gram counts — one gram pass over the BATCH, never
    * the corpus. No sign check needed (counts only grow); the pair
    * with [[ngramCountsForget]] closes both maintenance directions
    * for the (`ngram`, `freq`) artifact. */
  def ngramCountsInsert(counts: org.apache.spark.sql.DataFrame,
                        inserted: org.apache.spark.sql.DataFrame,
                        textCol: String, n: Int)
      : org.apache.spark.sql.DataFrame = {
    val added = inserted.select(tokenArray(textCol).as("_ts"))
      .select(explode(gramsOf(col("_ts"), n)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("freq"))
    counts.unionByName(added)
      .groupBy(col("ngram")).agg(sum(col("freq")).as("freq"))
  }

  /** Exact-phrase occurrence count per document: how many times the
    * tokens of `phrase` appear CONSECUTIVELY (the adjacency query an
    * inverted index alone cannot answer). Docs with zero occurrences
    * are dropped.
    *
    * Shape: pure map — the per-doc n-gram array is filtered against
    * one literal, no shuffle, no join, full codegen. The 100 TB cost
    * is exactly one corpus scan.
    *
    * Output: (idCol, `n_occurrences`). */
  def phraseCount(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, phrase: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val n = phrase.length
    // count by POSITION-WISE token equality, not by materializing the
    // gram-string array and filtering it: higher-order lambdas run
    // interpreted (no codegen), so per-position work must be a few
    // cheap comparisons, not n string concats — and Catalyst pushes
    // the >0 filter below the project, evaluating the expression
    // twice, which doubles whatever it costs (A/B at sf0.1: ~4× off
    // the gram-string form)
    val ts = col("_ts")
    val hits = filter(sequence(lit(1), size(ts) - lit(n - 1)),
      i => phrase.zipWithIndex.map { case (w, o) =>
        element_at(ts, i + lit(o)) === lit(w)
      }.reduce(_ && _))
    df.select(col(idCol), tokenArray(textCol).as("_ts"))
      .select(col(idCol),
        when(size(ts) >= n, size(hits))
          .otherwise(lit(0)).cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
  }

  /** The CTE chain shared by [[bm25OracleSql]] and [[rrfOracleSql]]:
    * tokenization through the per-doc `agg(doc_id, n_matched,
    * score_micro)` frame, every step BIGINT. */
  private def bm25AggCtes(terms: Seq[(String, Long)]): String = {
    require(terms.nonEmpty, "need (term, idfMicro)")
    val esc = terms.map { case (t, m) => (t.replace("'", "''"), m) }
    val values = esc.map { case (t, m) =>
      s"(CAST('$t' AS VARCHAR), CAST($m AS BIGINT))" }.mkString(", ")
    val inList = esc.map { case (t, _) => s"'$t'" }.mkString(", ")
    s"""tok AS (SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(list_filter(
      |      string_split(text, ' '), x -> x <> '')) AS t
      |    FROM documents WHERE doc_id IS NOT NULL) u(doc_id, t)),
      | terms(token, idf_micro) AS (VALUES $values),
      | nl AS (SELECT CAST((SELECT count(*) FROM tok) AS BIGINT) AS l,
      |   CAST((SELECT count(*) FROM documents) AS BIGINT) AS n),
      | dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      |   FROM tok GROUP BY 1),
      | tf AS (SELECT doc_id, t AS token, CAST(count(*) AS BIGINT) AS tf
      |   FROM tok WHERE t IN ($inList) GROUP BY 1, 2),
      | s AS (SELECT tf.doc_id, (terms.idf_micro * 44 * tf.tf * nl.l) //
      |     (20 * nl.l * tf.tf + 6 * nl.l + 18 * dl.dl * nl.n) AS s
      |   FROM tf JOIN terms USING (token) JOIN dl USING (doc_id)
      |   CROSS JOIN nl),
      | agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
      |     CAST(sum(s) AS BIGINT) AS score_micro FROM s GROUP BY 1)"""
      .stripMargin
  }

  /** DuckDB replay of [[bm25TopKMicro]] from the SAME (term,
    * idf_micro) literals the entry used — every arithmetic step is
    * BIGINT (`//` and `div` both truncate toward zero; all operands
    * positive), so the replay is exact by construction. */
  def bm25OracleSql(terms: Seq[(String, Long)], k: Int): String = {
    require(terms.nonEmpty && k >= 1, "need (term, idfMicro) and k >= 1")
    s"""WITH ${bm25AggCtes(terms)}
      | SELECT doc_id, n_matched, score_micro,
      |   CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
      |     AS INTEGER) AS rank
      | FROM agg ORDER BY score_micro DESC, doc_id LIMIT $k"""
      .stripMargin.replace("\n", " ")
  }

  /** Reciprocal-rank fusion over ranked retrieval outputs — the
    * standard hybrid-search combiner (Cormack/Clarke/Büttcher 2009):
    * each system contributes 1/(kRrf + rank) for every id it ranked,
    * fused ids order by the summed contribution. Under the gate
    * contract the contribution is the INTEGER `scale div (kRrf +
    * rank)` — truncating division of positive operands, identical in
    * any engine — so the fused score is a sum of exact integers (with
    * scale = 1e9 and kRrf = 60, contributions are ~16M-scale and
    * distinct per rank through rank ≈ 31k: far past any top-k list).
    *
    * Scale shape: each input is already a top-k frame (queries×k
    * rows) — the corpus-sized work happened inside the upstream
    * retrieval operators — so the fusion is a union of tiny frames,
    * one hash aggregation, and the shared two-phase top-k cut. At
    * 100 TB the inputs are the stored ranked shards; fusing them
    * never re-reads the corpus.
    *
    * Inputs must each expose (idCol, `rank`); ids may repeat across
    * systems but not within one (a ranked top-k is id-distinct by
    * construction). Output: (idCol, `n_systems`, `rrf_micro`,
    * `rank` 1..k). */
  def rrfFuse(rankings: Seq[org.apache.spark.sql.DataFrame],
              idCol: String, kRrf: Int = 60,
              scale: Long = 1000000000L, k: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    require(rankings.nonEmpty, "need at least one ranked input")
    require(kRrf >= 1 && scale >= 1 && k >= 1,
      s"need kRrf, scale, k >= 1; got $kRrf, $scale, $k")
    val contrib = rankings
      .map(_.select(col(idCol), col("rank").cast("long").as("_r")))
      .reduce(_ unionAll _)
      .withColumn("_c", expr(s"CAST($scale AS BIGINT) div " +
        s"(CAST($kRrf AS BIGINT) + _r)"))
    val agg = contrib.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_systems"), sum(col("_c")).as("rrf_micro"))
    rankTop(agg, idCol, col("rrf_micro"), k)
  }

  /** DuckDB replay of the q98 hybrid: BM25-micro ranking (the
    * [[bm25AggCtes]] chain from the SAME idf literals) fused with the
    * exact-cosine ranking for query vector `qVecId` via integer RRF —
    * rank arithmetic is BIGINT `//` on positive operands, so the
    * fused scores hash-match [[rrfFuse]] bit-for-bit. */
  def rrfOracleSql(terms: Seq[(String, Long)], qVecId: Long,
                   kText: Int, kVec: Int, kRrf: Int, scale: Long,
                   k: Int): String = {
    require(kText >= 1 && kVec >= 1 && kRrf >= 1 && scale >= 1 && k >= 1,
      "all knobs must be >= 1")
    s"""WITH ${bm25AggCtes(terms)},
      | txt AS (SELECT doc_id,
      |     CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
      |       AS BIGINT) AS r
      |   FROM agg QUALIFY r <= $kText),
      | vec AS (SELECT e.vec_id AS doc_id,
      |     CAST(ROW_NUMBER() OVER (ORDER BY
      |       list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                              CAST(e.embedding AS DOUBLE[])) DESC,
      |       e.vec_id) AS BIGINT) AS r
      |   FROM embeddings q, embeddings e
      |   WHERE q.vec_id = $qVecId AND e.vec_id <> $qVecId
      |   QUALIFY r <= $kVec),
      | u AS (SELECT doc_id, CAST($scale AS BIGINT) // ($kRrf + r) AS c
      |     FROM txt
      |   UNION ALL
      |   SELECT doc_id, CAST($scale AS BIGINT) // ($kRrf + r) FROM vec),
      | fused AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_systems,
      |     CAST(sum(c) AS BIGINT) AS rrf_micro FROM u GROUP BY 1)
      | SELECT doc_id, n_systems, rrf_micro,
      |   CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
      |     AS INTEGER) AS rank
      | FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT $k"""
      .stripMargin.replace("\n", " ")
  }

  /** (score desc, id asc) top-k with a 1..k rank: TakeOrderedAndProject
    * does the global cut, then the k survivors (a handful of rows)
    * rank in one trivial window. */
  private def rankTop(agg: org.apache.spark.sql.DataFrame, idCol: String,
                      score: Column, k: Int) =
    agg.orderBy(score.desc, col(idCol)).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(score.desc, col(idCol))).cast("int"))

  /** Unigram language model over the corpus — the backbone of a
    * CCNet-style perplexity quality filter: the top-`vocabSize` tokens
    * by (freq desc, token asc) with their surprisal −ln(freq/T)
    * pre-scaled to integer MICRO-nats, plus the single
    * out-of-vocabulary bucket cost −ln(oovMass/T). Every OOV token is
    * priced at the bucket's AGGREGATE mass — the bounded-vocab trade
    * that keeps the model literal-sized (it under-penalizes individual
    * rare tokens relative to a full-vocabulary LM; vocabSize is the
    * knob). The one float op (`ln`) folds driver-side into the shared
    * literals — the q75-idf parity-by-construction move — so engine
    * and oracle replay identical integers. T counts every token; an
    * all-in-vocab corpus prices the empty bucket at a single token's
    * mass (cost ln T, the maximum a token can cost — never a division
    * by zero).
    *
    * Learning cost: one token hash aggregation (map-side partials)
    * feeding a total-sum and a TakeOrdered collect bounded by
    * vocabSize — the q33 vocab-cut shape; model state is vocabSize+1
    * longs however large the corpus.
    *
    * Returns (vocab (token, costMicro), oovCostMicro). */
  def unigramLm(df: org.apache.spark.sql.DataFrame, textCol: String,
                vocabSize: Int): (Seq[(String, Long)], Long) = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val freqs = df.select(explode(tokenArray(textCol)).as("_t"))
      .groupBy(col("_t")).agg(count(lit(1)).as("_f"))
    val totalRow = freqs.agg(sum(col("_f")).as("_T")).collect()(0)
    require(!totalRow.isNullAt(0) && totalRow.getLong(0) > 0,
      "corpus has no tokens — cannot fit a unigram LM")
    val total = totalRow.getLong(0)
    val top = freqs.orderBy(col("_f").desc, col("_t")).limit(vocabSize)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def costMicro(mass: Long): Long =
      math.round(math.log(total.toDouble / mass) * 1e6)
    (top.map { case (t, f) => (t, costMicro(f)) },
      costMicro(math.max(total - top.map(_._2).sum, 1L)))
  }

  /** Mean token surprisal per document in integer micro-nats under a
    * [[unigramLm]] model — the perplexity filter's score (perplexity =
    * exp(mean surprisal)) without ever computing the float: exp is
    * monotone, so thresholding/ranking in micro-nats IS thresholding
    * in perplexity, and the integer `div` (truncation toward zero,
    * every operand positive) hash-replays in any engine. Overflow
    * bound: per-token cost ≤ ln(T)·1e6 < 45e6 even at 1e19 corpus
    * tokens, so a doc would need ~2e11 tokens to overflow the sum.
    *
    * Shape: one corpus tokenization + ONE broadcast left join against
    * the vocabSize-row cost table (OOV coalesces to the bucket cost) +
    * one (id) hash aggregation with map-side partials — the BM25 dl
    * shape. Token-less documents emit no rows.
    *
    * Output: (idCol, `n_tokens`, `surprisal_micro`). */
  def unigramSurprisal(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, vocab: Seq[(String, Long)],
                       oovCostMicro: Long)
      : org.apache.spark.sql.DataFrame = {
    require(vocab.nonEmpty, "vocab must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val costs = vocab.toDF("_vt", "_cost")
    df.filter(col(idCol).isNotNull)
      .select(col(idCol), explode(tokenArray(textCol)).as("_t"))
      .join(broadcast(costs), col("_t") === col("_vt"), "left")
      .select(col(idCol),
        coalesce(col("_cost"), lit(oovCostMicro)).as("_c"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_c")).as("_sum"))
      .select(col(idCol), col("n_tokens"),
        expr("_sum div n_tokens").as("surprisal_micro"))
  }

  /** DuckDB replay of [[unigramSurprisal]] from the SAME (token,
    * costMicro) literals the entry used — all-BIGINT arithmetic (`//`
    * and `div` both truncate toward zero; operands positive), exact by
    * construction. */
  def unigramSurprisalOracleSql(vocab: Seq[(String, Long)],
                                oovCostMicro: Long): String = {
    require(vocab.nonEmpty, "vocab must be non-empty")
    val values = vocab.map { case (t, c) =>
      s"(CAST('${t.replace("'", "''")}' AS VARCHAR), CAST($c AS BIGINT))"
    }.mkString(", ")
    s"""WITH tok AS (SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(list_filter(
      |      string_split(text, ' '), x -> x <> '')) AS t
      |    FROM documents WHERE doc_id IS NOT NULL) u(doc_id, t)),
      | v(token, cost_micro) AS (VALUES $values),
      | c AS (SELECT tok.doc_id,
      |     COALESCE(v.cost_micro, CAST($oovCostMicro AS BIGINT)) AS cost
      |   FROM tok LEFT JOIN v ON tok.t = v.token)
      | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |   CAST(sum(cost) AS BIGINT) // CAST(count(*) AS BIGINT)
      |     AS surprisal_micro
      | FROM c GROUP BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** A learned bigram stupid-backoff model (Brants 2007, "Large
    * Language Models in Machine Translation"): the top-`bigrams.size`
    * adjacent pairs with conditional cost −ln(c12/c1) in integer
    * micro-nats, backed off — at the flat, unnormalized stupid-backoff
    * penalty −ln(0.4) — to the [[unigramLm]] vocabulary (itself backed
    * by its OOV bucket). All four pieces are literal-sized; every
    * float op folded driver-side at learn time. */
  final case class BigramModel(vocab: Seq[(String, Long)],
                               oovCostMicro: Long,
                               bigrams: Seq[(String, String, Long)],
                               backoffCostMicro: Long)

  /** −ln(0.4) in micro-nats — stupid backoff's fixed penalty. */
  val StupidBackoffMicro: Long = math.round(-math.log(0.4) * 1e6)

  /** Learn a [[BigramModel]]: the [[unigramLm]] cut plus the
    * top-`bigramSize` adjacent pairs by (freq desc, bigram asc) with
    * conditional surprisal −ln(count(w1 w2)/count(w1)) pre-scaled to
    * integer micro-nats. Conditioning masses are the CORPUS counts of
    * each retained pair's first token (count(w1 w2) ≤ count(w1)
    * structurally, so every conditional cost is ≥ 0; a pair whose w1
    * is always followed by w2 prices at exactly 0).
    *
    * Learning cost: the unigram jobs + one bigram hash aggregation
    * (map-side partials) with a TakeOrdered cut bounded by
    * `bigramSize`, + one freq lookup over the ≤ bigramSize distinct
    * first tokens. A corpus with no 2-token document yields an empty
    * pair table — the model is still total (everything backs off). */
  def bigramLm(df: org.apache.spark.sql.DataFrame, textCol: String,
               vocabSize: Int, bigramSize: Int): BigramModel = {
    require(bigramSize >= 1, s"bigramSize must be >= 1, got $bigramSize")
    val (vocab, oov) = unigramLm(df, textCol, vocabSize)
    val top = df.select(tokenArray(textCol).as("_ts"))
      .select(explode(gramsOf(col("_ts"), 2)).as("_g"))
      .groupBy(col("_g")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_g")).limit(bigramSize)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val w1s = top.map(_._1.split(' ')(0)).distinct
    val w1Freq: Map[String, Long] =
      if (w1s.isEmpty) Map.empty
      else df.select(explode(tokenArray(textCol)).as("_t"))
        .filter(col("_t").isin(w1s: _*))
        .groupBy(col("_t")).agg(count(lit(1)).as("_f"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pairs = top.map { case (g, c12) =>
      val Array(w1, w2) = g.split(' ')
      (w1, w2, math.round(math.log(w1Freq(w1).toDouble / c12) * 1e6))
    }
    BigramModel(vocab, oov, pairs, StupidBackoffMicro)
  }

  /** Mean token surprisal per document under a [[BigramModel]] — the
    * higher-order perplexity filter: position 1 prices at the unigram
    * cost of its token; every later position at the bigram conditional
    * cost when (prev, cur) is in the pair table, else at
    * backoff + unigram(cur) — stupid backoff's score, never
    * renormalized (Brants 2007 §4; the point is that at corpus scale
    * the unnormalized score ranks as well as Kneser-Ney at a fraction
    * of the cost). Integer `div`, positive operands — hash-replayable.
    *
    * Shape: one tokenization producing (prev, cur) rows — the first
    * position carries a NULL prev, which structurally misses the pair
    * join and routes through the when-branch — then TWO broadcast
    * joins (pair table, unigram table) and one (id) hash aggregation
    * with map-side partials. n_tokens = 1 + (n−1) pairs = the doc's
    * token count. Token-less documents emit no rows.
    *
    * Output: (idCol, `n_tokens`, `surprisal_micro`). */
  def bigramSurprisal(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, model: BigramModel)
      : org.apache.spark.sql.DataFrame = {
    require(model.vocab.nonEmpty, "vocab must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val uni = model.vocab.toDF("_vt", "_ucost")
    val bi = model.bigrams.toDF("_b1", "_b2", "_bcost")
    val toks = df.filter(col(idCol).isNotNull)
      .select(col(idCol), tokenArray(textCol).as("_ts"))
      .filter(size(col("_ts")) >= 1)
    val firstTok = toks.select(col(idCol),
      lit(null).cast("string").as("_w1"),
      element_at(col("_ts"), 1).as("_w2"))
    val pairs = toks.filter(size(col("_ts")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(2, size(_ts)), " +
          "i -> struct(_ts[i-2] AS w1, _ts[i-1] AS w2))")).as("_p"))
      .select(col(idCol), col("_p.w1").as("_w1"), col("_p.w2").as("_w2"))
    val uniCost = coalesce(col("_ucost"), lit(model.oovCostMicro))
    firstTok.unionByName(pairs)
      .join(broadcast(bi),
        col("_w1") === col("_b1") && col("_w2") === col("_b2"), "left")
      .join(broadcast(uni), col("_w2") === col("_vt"), "left")
      .select(col(idCol), when(col("_w1").isNull, uniCost)
        .otherwise(coalesce(col("_bcost"),
          lit(model.backoffCostMicro) + uniCost)).as("_c"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_c")).as("_sum"))
      .select(col(idCol), col("n_tokens"),
        expr("_sum div n_tokens").as("surprisal_micro"))
  }

  /** DuckDB replay of [[bigramSurprisal]] from the SAME model
    * literals: the first position as an explicit NULL-prev row, later
    * positions as zipped offset unnests (the q85/q86 idiom), the same
    * two left joins and CASE, all-BIGINT `//`. An empty pair table
    * becomes a WHERE-FALSE frame (VALUES cannot be empty). */
  def bigramSurprisalOracleSql(model: BigramModel): String = {
    require(model.vocab.nonEmpty, "vocab must be non-empty")
    def q(s: String) = s"'${s.replace("'", "''")}'"
    val uniVals = model.vocab.map { case (t, c) =>
      s"(CAST(${q(t)} AS VARCHAR), CAST($c AS BIGINT))"
    }.mkString(", ")
    val biFrame =
      if (model.bigrams.isEmpty)
        """b(w1, w2, cost_micro) AS (SELECT CAST(NULL AS VARCHAR),
          |   CAST(NULL AS VARCHAR), CAST(0 AS BIGINT) WHERE FALSE)"""
          .stripMargin
      else {
        val vals = model.bigrams.map { case (w1, w2, c) =>
          s"(CAST(${q(w1)} AS VARCHAR), CAST(${q(w2)} AS VARCHAR), " +
            s"CAST($c AS BIGINT))"
        }.mkString(", ")
        s"b(w1, w2, cost_micro) AS (VALUES $vals)"
      }
    s"""WITH d AS (SELECT doc_id, list_filter(
      |     string_split(text, ' '), x -> x <> '') AS ts
      |   FROM documents WHERE doc_id IS NOT NULL),
      | u(token, cost_micro) AS (VALUES $uniVals),
      | $biFrame,
      | s AS (
      |   SELECT doc_id, CAST(NULL AS VARCHAR) AS w1, ts[1] AS w2
      |   FROM d WHERE len(ts) >= 1
      |   UNION ALL
      |   SELECT doc_id,
      |     unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
      |     unnest(list_transform(range(1, len(ts)), i -> ts[i+1])) AS w2
      |   FROM d WHERE len(ts) >= 2),
      | c AS (SELECT s.doc_id,
      |     CASE WHEN s.w1 IS NULL
      |       THEN COALESCE(u.cost_micro,
      |         CAST(${model.oovCostMicro} AS BIGINT))
      |       ELSE COALESCE(b.cost_micro,
      |         CAST(${model.backoffCostMicro} AS BIGINT)
      |           + COALESCE(u.cost_micro,
      |               CAST(${model.oovCostMicro} AS BIGINT))) END AS cost
      |   FROM s LEFT JOIN b ON s.w1 = b.w1 AND s.w2 = b.w2
      |     LEFT JOIN u ON s.w2 = u.token)
      | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |   CAST(sum(cost) AS BIGINT) // CAST(count(*) AS BIGINT)
      |     AS surprisal_micro
      | FROM c GROUP BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** Moore–Lewis contrastive data selection (Moore & Lewis 2010,
    * "Intelligent Selection of Language Model Training Data"): score
    * every document by its mean surprisal under an IN-DOMAIN unigram
    * LM minus under a GENERAL LM — low (negative) scores look like the
    * target domain relative to the background, and thresholding the
    * score IS Moore–Lewis selection. Both per-doc means are integer
    * micro-nats ([[unigramSurprisal]] semantics); their difference is
    * exact integer arithmetic, so the whole frame hash-replays.
    *
    * Shape: ONE tokenization + TWO broadcast joins (one per cost
    * table) + one (id) hash aggregation — not two scoring passes
    * joined after the fact. Token-less documents emit no rows.
    *
    * Output: (idCol, `n_tokens`, `in_micro`, `gen_micro`,
    * `ml_score_micro` = in − gen). */
  def lmContrastScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String,
                      inVocab: Seq[(String, Long)], inOovMicro: Long,
                      genVocab: Seq[(String, Long)], genOovMicro: Long)
      : org.apache.spark.sql.DataFrame = {
    require(inVocab.nonEmpty && genVocab.nonEmpty,
      "both vocabularies must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val inC = inVocab.toDF("_it", "_icost")
    val genC = genVocab.toDF("_gt", "_gcost")
    df.filter(col(idCol).isNotNull)
      .select(col(idCol), explode(tokenArray(textCol)).as("_t"))
      .join(broadcast(inC), col("_t") === col("_it"), "left")
      .join(broadcast(genC), col("_t") === col("_gt"), "left")
      .select(col(idCol),
        coalesce(col("_icost"), lit(inOovMicro)).as("_ci"),
        coalesce(col("_gcost"), lit(genOovMicro)).as("_cg"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("_ci")).as("_si"), sum(col("_cg")).as("_sg"))
      .select(col(idCol), col("n_tokens"),
        expr("_si div n_tokens").as("in_micro"),
        expr("_sg div n_tokens").as("gen_micro"))
      .withColumn("ml_score_micro", col("in_micro") - col("gen_micro"))
  }

  /** DuckDB replay of [[lmContrastScore]] from the SAME two literal
    * cost tables — the [[unigramSurprisalOracleSql]] shape doubled,
    * one tokenization, all-BIGINT. */
  def lmContrastOracleSql(inVocab: Seq[(String, Long)], inOovMicro: Long,
                          genVocab: Seq[(String, Long)],
                          genOovMicro: Long): String = {
    require(inVocab.nonEmpty && genVocab.nonEmpty,
      "both vocabularies must be non-empty")
    def vals(v: Seq[(String, Long)]) = v.map { case (t, c) =>
      s"(CAST('${t.replace("'", "''")}' AS VARCHAR), CAST($c AS BIGINT))"
    }.mkString(", ")
    s"""WITH tok AS (SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(list_filter(
      |      string_split(text, ' '), x -> x <> '')) AS t
      |    FROM documents WHERE doc_id IS NOT NULL) u(doc_id, t)),
      | vi(token, cost_micro) AS (VALUES ${vals(inVocab)}),
      | vg(token, cost_micro) AS (VALUES ${vals(genVocab)}),
      | c AS (SELECT tok.doc_id,
      |     COALESCE(vi.cost_micro, CAST($inOovMicro AS BIGINT)) AS ci,
      |     COALESCE(vg.cost_micro, CAST($genOovMicro AS BIGINT)) AS cg
      |   FROM tok LEFT JOIN vi ON tok.t = vi.token
      |     LEFT JOIN vg ON tok.t = vg.token)
      | SELECT doc_id, n_tokens, in_micro, gen_micro,
      |   in_micro - gen_micro AS ml_score_micro
      | FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |     CAST(sum(ci) AS BIGINT) // CAST(count(*) AS BIGINT)
      |       AS in_micro,
      |     CAST(sum(cg) AS BIGINT) // CAST(count(*) AS BIGINT)
      |       AS gen_micro
      |   FROM c GROUP BY doc_id)""".stripMargin.replace("\n", " ")
  }

  /** The DSIR feature bucket of an n-gram (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): the
    * engine-portable md5 arithmetic every sketch uses
    * ([[Sketch.cmsBucket]] — `conv(md5-hex, 16, 10) % buckets`), so the
    * DuckDB oracle computes bit-identical buckets. Hashing is what
    * makes the model state O(buckets) however large the n-gram
    * vocabulary — the paper's point, and the reason this scales where
    * a full bigram table would not. */
  def dsirBucket(gram: Column, buckets: Int): Column =
    conv(substring(md5(gram), 1, 8), 16, 10).cast("long") % buckets

  /** Learn the hashed-bucket unigram distribution DSIR scores against:
    * per-bucket add-one-smoothed log-probability
    * ln((count(b) + 1) / (T + buckets)) in integer MICRO-nats, over the
    * corpus's `n`-gram features. The one float op (`ln`) folds
    * driver-side into the returned literals (the [[unigramLm]] move),
    * so engine and oracle replay identical integers; smoothing keeps
    * every bucket priced even when unseen (an empty corpus prices all
    * buckets at the uniform ln(1/buckets)).
    *
    * Learning cost: one gram hash aggregation folded to ≤ `buckets`
    * rows (map-side partials — the corpus never moves), one bounded
    * collect. Model state: `buckets` longs, whatever the corpus size.
    */
  def dsirBucketLogProbs(df: org.apache.spark.sql.DataFrame,
                         textCol: String, buckets: Int, n: Int = 2)
      : IndexedSeq[Long] = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val counts = df.select(tokenArray(textCol).as("_ts"))
      .select(explode(gramsOf(col("_ts"), n)).as("_g"))
      .select(dsirBucket(col("_g"), buckets).as("_b"))
      .groupBy(col("_b")).agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    dsirLogProbsFromCounts(counts, buckets)
  }

  /** The add-one-smoothed micro-nat fold shared by the batch learner
    * and the streaming rebuild ([[graft.streaming.StreamingMix]]) —
    * one definition, so the two can never drift. */
  def dsirLogProbsFromCounts(counts: Map[Int, Long], buckets: Int)
      : IndexedSeq[Long] = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val total = counts.valuesIterator.sum
    IndexedSeq.tabulate(buckets) { b =>
      math.round(math.log((counts.getOrElse(b, 0L) + 1).toDouble /
        (total + buckets)) * 1e6)
    }
  }

  /** DSIR importance score per document: the log importance weight
    * ln(p_target(doc) / p_raw(doc)) = Σ over the doc's `n`-gram
    * features of (target bucket log-prob − raw bucket log-prob), in
    * integer micro-nats — rank or threshold on it and keep the top
    * slice of the raw corpus (resampling ∝ weight is this score plus
    * the [[Sampling.deterministicSample]] hash draw). Positive =
    * looks more like the target corpus than the background.
    *
    * Shape: scoring is entirely MAP-SIDE — the per-doc gram array is
    * folded against the (2·buckets)-long delta literal (constant-folded
    * by Catalyst, never a join, never an explode, never a shuffle;
    * spec-asserted), so the 100 TB cost is exactly one corpus scan.
    * Compare [[unigramSurprisal]], whose open token vocabulary needs
    * the broadcast-join shape: the hashed feature space is what buys
    * the pure projection here. Documents with fewer than `n` tokens
    * have no features and score the neutral 0 (they stay in the frame
    * — selection falls through to other signals).
    *
    * Output: (idCol, `n_grams`, `dsir_micro`). Overflow bound: per-gram
    * |delta| ≤ ln((T+B)) + ln(B) micro-scaled < 60e6 at 1e19 corpus
    * grams, so a doc would need ~1.5e11 grams to overflow the Long sum.
    */
  def dsirScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, targetLogpMicro: IndexedSeq[Long],
                rawLogpMicro: IndexedSeq[Long], n: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(targetLogpMicro.size == rawLogpMicro.size,
      s"bucket counts differ: target ${targetLogpMicro.size} vs " +
        s"raw ${rawLogpMicro.size}")
    val buckets = targetLogpMicro.size
    val delta = array(targetLogpMicro.indices.map(b =>
      lit(targetLogpMicro(b) - rawLogpMicro(b))): _*)
    df.filter(col(idCol).isNotNull)
      .select(col(idCol), tokenArray(textCol).as("_ts"))
      .select(col(idCol), gramsOf(col("_ts"), n).as("_gs"))
      .select(col(idCol), size(col("_gs")).cast("long").as("n_grams"),
        aggregate(col("_gs"), lit(0L), (acc, g) =>
          acc + element_at(delta,
            (dsirBucket(g, buckets) + 1).cast("int")))
          .as("dsir_micro"))
  }

  /** Per-STRATUM hashed-bucket LMs — the [[dsirBucketLogProbs]]
    * learner keyed by a stratum column (per-language / per-source
    * target distributions): one gram hash aggregation folded to
    * ≤ |strata|·buckets rows (map-side partials, the corpus never
    * moves), one bounded collect, the same add-one micro-nat fold per
    * stratum. Strata with no grams still get a full (uniform)
    * distribution via the smoothing. */
  def dsirBucketLogProbsByStratum(df: org.apache.spark.sql.DataFrame,
                                  textCol: String, stratumCol: String,
                                  buckets: Int, n: Int = 2)
      : Map[String, IndexedSeq[Long]] = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val counts = df
      .select(col(stratumCol).cast("string").as("_s"),
        tokenArray(textCol).as("_ts"))
      .select(col("_s"), explode(gramsOf(col("_ts"), n)).as("_g"))
      .select(col("_s"), dsirBucket(col("_g"), buckets).as("_b"))
      .groupBy(col("_s"), col("_b")).agg(count(lit(1)).as("_c"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (s, rows) =>
        s -> rows.map(r => r.getLong(1).toInt -> r.getLong(2)).toMap
      }
    counts.map { case (s, m) =>
      s -> dsirLogProbsFromCounts(m, buckets)
    }
  }

  /** STRATIFIED DSIR scoring — [[dsirScore]] with a per-stratum
    * TARGET distribution (the q94 mixture-builder observation closed:
    * one shared background, one target LM per language/source, each
    * document priced against ITS stratum's target). The per-stratum
    * delta vectors ride ONE literal CASE over the stratum column —
    * still a pure shuffle-free projection, no join, no explode
    * (spec-asserted), one corpus scan at any scale. Documents whose
    * stratum has no learned target score the neutral 0 (they fall
    * through to other signals — the [[dsirScore]] gramless
    * convention, applied to the stratum axis); an EMPTY target map
    * (no stratum learned a target — e.g. the targets were derived
    * from a pruned-to-empty corpus) scores EVERY document the neutral
    * 0 by the same rule, not an error.
    *
    * Output: (idCol, stratumCol, `n_grams`, `dsir_micro`). */
  def dsirScoreStratified(df: org.apache.spark.sql.DataFrame,
                          idCol: String, textCol: String,
                          stratumCol: String,
                          targetByStratum: Map[String, IndexedSeq[Long]],
                          rawLogpMicro: IndexedSeq[Long], n: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(targetByStratum.values.forall(_.size == rawLogpMicro.size),
      "bucket counts differ between a stratum target and the raw LM")
    val buckets = rawLogpMicro.size
    def deltaLit(t: IndexedSeq[Long]) =
      array(t.indices.map(b => lit(t(b) - rawLogpMicro(b))): _*)
    val zeros = array(rawLogpMicro.indices.map(_ => lit(0L)): _*)
    // deterministic literal CASE (sorted strata) selecting the delta
    val delta = targetByStratum.toSeq.sortBy(_._1)
      .foldRight(zeros: Column) { case ((s, t), other) =>
        when(col(stratumCol).cast("string") === s, deltaLit(t))
          .otherwise(other)
      }
    df.filter(col(idCol).isNotNull)
      .select(col(idCol), col(stratumCol), delta.as("_delta"),
        tokenArray(textCol).as("_ts"))
      .select(col(idCol), col(stratumCol), col("_delta"),
        gramsOf(col("_ts"), n).as("_gs"))
      .select(col(idCol), col(stratumCol),
        size(col("_gs")).cast("long").as("n_grams"),
        aggregate(col("_gs"), lit(0L), (acc, g) =>
          acc + element_at(col("_delta"),
            (dsirBucket(g, buckets) + 1).cast("int")))
          .as("dsir_micro"))
  }

  /** DuckDB replay of [[dsirScoreStratified]] from the SAME per-
    * stratum delta literals — the [[dsirOracleSql]] arithmetic with
    * the delta list chosen by a CASE over the stratum column. */
  def dsirStratifiedOracleSql(stratumCol: String,
                              targetByStratum: Map[String, IndexedSeq[Long]],
                              rawLogpMicro: IndexedSeq[Long],
                              n: Int = 2): String = {
    require(n == 2, s"oracle replay is written for bigram features, got n=$n")
    require(targetByStratum.values.forall(_.size == rawLogpMicro.size),
      "bucket counts differ")
    val buckets = rawLogpMicro.size
    def lst(t: IndexedSeq[Long]) = t.indices.map(b =>
      s"CAST(${t(b) - rawLogpMicro(b)} AS BIGINT)").mkString("[", ", ", "]")
    val zeros = rawLogpMicro.indices.map(_ => "CAST(0 AS BIGINT)")
      .mkString("[", ", ", "]")
    val cases = targetByStratum.toSeq.sortBy(_._1)
      .map { case (s, t) =>
        s"WHEN $stratumCol = '${s.replace("'", "''")}' THEN ${lst(t)}"
      }.mkString(" ")
    s"""WITH d AS (SELECT doc_id, $stratumCol,
      |    CASE $cases ELSE $zeros END AS dl,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |   FROM documents WHERE doc_id IS NOT NULL),
      | g AS (SELECT doc_id, $stratumCol, dl,
      |     list_transform(range(1, len(ts)),
      |     i -> ts[i] || ' ' || ts[i + 1]) AS gs FROM d)
      | SELECT doc_id, $stratumCol, CAST(len(gs) AS BIGINT) AS n_grams,
      |   CAST(COALESCE(list_sum(list_transform(gs, g ->
      |     dl[CAST(('0x' || substr(md5(g), 1, 8))::BIGINT
      |       % $buckets + 1 AS INT)])), 0) AS BIGINT) AS dsir_micro
      | FROM g""".stripMargin.replace("\n", " ")
  }

  /** DuckDB replay of [[dsirScore]] from the SAME delta literals — also
    * pure per-row list arithmetic (no unnest, no join): the bucket is
    * the q69 `('0x' || md5-prefix)::BIGINT % buckets` idiom, the lookup
    * a literal-list index, the fold a `list_sum`. Gramless documents
    * COALESCE to the neutral 0 exactly like the engine. */
  def dsirOracleSql(targetLogpMicro: IndexedSeq[Long],
                    rawLogpMicro: IndexedSeq[Long], n: Int = 2): String = {
    require(targetLogpMicro.size == rawLogpMicro.size,
      "bucket counts differ")
    require(n == 2, s"oracle replay is written for bigram features, got n=$n")
    val buckets = targetLogpMicro.size
    val deltas = targetLogpMicro.indices.map(b =>
      s"CAST(${targetLogpMicro(b) - rawLogpMicro(b)} AS BIGINT)")
      .mkString(", ")
    s"""WITH d AS (SELECT doc_id, list_filter(
      |    string_split(text, ' '), x -> x <> '') AS ts
      |   FROM documents WHERE doc_id IS NOT NULL),
      | g AS (SELECT doc_id, list_transform(range(1, len(ts)),
      |     i -> ts[i] || ' ' || ts[i + 1]) AS gs FROM d)
      | SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
      |   CAST(COALESCE(list_sum(list_transform(gs, g ->
      |     [$deltas][CAST(('0x' || substr(md5(g), 1, 8))::BIGINT
      |       % $buckets + 1 AS INT)])), 0) AS BIGINT) AS dsir_micro
      | FROM g""".stripMargin.replace("\n", " ")
  }

  /** Per-document distinctive-KEYWORD extraction — tf-idf's ranking
    * with NO floats anywhere: per doc, tokens ordered by (tf desc,
    * corpus doc-frequency asc, token asc) and cut to the top `k`. The
    * float tf·idf score and this order agree on what they exist to
    * express (frequent-here, rare-elsewhere) while the integer
    * lexicographic form is bit-identical in any engine — same move as
    * [[qualityFilter]]'s integer cross-products.
    *
    * Shape: tf = one (id, token) hash aggregation (rows ∝ distinct
    * doc-token pairs); df = one token aggregation over tf (already
    * per-doc-distinct, so `count(*)` IS document frequency); the
    * per-doc top-k is the [[Similarity.rankTopK]] two-phase pattern —
    * no per-doc single-task window even for a pathological
    * million-distinct-token document.
    *
    * Output: (idCol, `token`, `tf`, `df`, `rank` 1..k). Token-less
    * documents emit no rows. */
  def keywords(df: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, k: Int)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = df
      .select(col(idCol), explode(filter(tokens(col(textCol)),
        t => length(t) > 0)).as("_t"))
      .groupBy(col(idCol), col("_t"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("_t")).agg(count(lit(1)).as("df"))
    val entry = struct((-col("tf")).as("ntf"), col("df"),
      col("_t").as("t"), col("tf"))
    val partial = tf.join(dfreq, "_t")
      .groupBy(col(idCol), spark_partition_id().as("_p"))
      .agg(slice(array_sort(collect_list(entry)), 1, k).as("_top"))
    partial
      .groupBy(col(idCol))
      .agg(slice(array_sort(flatten(collect_list(col("_top")))), 1, k)
        .as("_top"))
      .select(col(idCol), posexplode(col("_top")).as(Seq("_pos", "_e")))
      .select(col(idCol), col("_e.t").as("token"), col("_e.tf").as("tf"),
        col("_e.df").as("df"), (col("_pos") + 1).cast("int").as("rank"))
  }
}
