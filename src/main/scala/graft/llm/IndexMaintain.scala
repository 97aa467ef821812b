package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** FORGET-AWARE maintenance of the inverted index — the seam where the
  * engine's two halves meet: a deletion (the reference's core
  * find-and-forget flow, `/root/reference/backend/ecs_tasks/
  * delete_files/main.py` semantics) must also leave every derived
  * retrieval structure AS IF it had been built on the remaining
  * corpus, without paying a full rebuild per forget batch.
  *
  * The maintainable index shape ([[indexWithOverflow]]) extends
  * [[TextStats.invertedIndex]] with the OVERFLOW contract
  * [[graft.streaming.StreamingIndex]] already uses on the streaming
  * side: a token whose df exceeds `maxDf` keeps its exact df but a
  * NULL posting list (a stopword's corpus-sized list never enters an
  * aggregation buffer — the batch build's guarantee, carried to the
  * stored artifact). The exact df on overflow rows is what makes
  * DELETION maintainable: removal only ever DECREASES df, so
  *
  *   - an in-window token stays in-window (or falls below `minDf` and
  *     is dropped) — its new postings are a pure `array_except`;
  *   - an overflow token either stays overflow (df stays > `maxDf`)
  *     or CROSSES into the window — the one case whose postings the
  *     index cannot answer, rebuilt by a TARGETED pass over the
  *     remaining corpus restricted to exactly those tokens;
  *   - a below-`minDf` token (absent from the index) can never
  *     re-enter — no state needed for it.
  *
  * Cost shape at 100 TB: the touched-token frame is bounded by the
  * FORGET BATCH's vocabulary (the forget drivers already batch ids —
  * [[DedupForget]]'s bounded seam), the update itself is one
  * equi-join on `token`, and the crossing rebuild — usually empty —
  * runs the one build of its shape ([[invertedRows]] /
  * [[positionalRows]]) over the remaining corpus restricted to the
  * (collected, batch-vocabulary-bounded) crossing tokens, and is
  * SKIPPED entirely when no overflow token crosses. Every full build,
  * crossing rebuild and novel-token insert goes through those two
  * builds, so all of them share one df window and one overflow rule.
  */
object IndexMaintain {

  /** Distinct (`idCol`, `token`) rows of `df` — the input of
    * [[invertedRows]]. */
  private[llm] def docTokens(df: DataFrame, idCol: String,
                             textCol: String): DataFrame =
    df.select(col(idCol), explode(TextStats.tokenArray(textCol))
      .as("token")).distinct()

  /** (`idCol`, `_pos0`, `token`) rows of `df`, `_pos0` the 0-based
    * position in the token stream — the input of [[positionalRows]]. */
  private[llm] def tokenPositions(df: DataFrame, idCol: String,
                                  textCol: String): DataFrame =
    df.select(col(idCol), posexplode(TextStats.tokenArray(textCol))
      .as(Seq("_pos0", "token")))

  /** The one inverted-index build. `docTok` holds distinct (`idCol`,
    * `token`) rows, already restricted to the tokens to build. Output:
    * one (`token`, `df`, `postings`) row per token with df >= `minDf`
    * — the sorted document list while df <= `maxDf`; above it, with
    * `overflow`, the exact df and NULL postings, else no row. Counts
    * come first and only in-window tokens' lists are collected, so a
    * stopword's corpus-sized list never enters an aggregation buffer. */
  private[llm] def invertedRows(docTok: DataFrame, idCol: String,
                                minDf: Long, maxDf: Long,
                                overflow: Boolean): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf,
      s"need 1 <= minDf <= maxDf; got $minDf, $maxDf")
    val dfs = docTok.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val inWin = docTok.join(dfs.filter(col("df") <= maxDf), "token")
      .groupBy(col("token"), col("df"))
      .agg(sort_array(collect_list(col(idCol))).as("postings"))
      .select(col("token"), col("df"), col("postings"))
    if (!overflow) inWin
    else inWin.unionByName(dfs.filter(col("df") > maxDf)
      .select(col("token"), col("df"),
        lit(null).cast(ArrayType(docTok.schema(idCol).dataType))
          .as("postings")))
  }

  /** The one positional-index build. `tokPos` holds (`idCol`, `_pos0`,
    * `token`) rows, already restricted to the tokens to build. Output:
    * one (`token`, `df`, idCol, `positions` sorted 1-based) row per
    * (token, document) for tokens with `minDf` <= df <= `maxDf`; with
    * `overflow`, one MARKER row (exact df, null id, null positions)
    * per token above `maxDf`. Positions make (token, doc) rows
    * non-distinct, so df counts distinct ids, not rows. */
  private[llm] def positionalRows(tokPos: DataFrame, idCol: String,
                                  minDf: Long, maxDf: Long,
                                  overflow: Boolean): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf,
      s"need 1 <= minDf <= maxDf; got $minDf, $maxDf")
    val dfs = tokPos.groupBy(col("token"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf)
    val inWin = tokPos.join(dfs.filter(col("df") <= maxDf), "token")
      .groupBy(col("token"), col("df"), col(idCol))
      .agg(sort_array(collect_list(col("_pos0") + lit(1)))
        .as("positions"))
      .select(col("token"), col("df"), col(idCol), col("positions"))
    if (!overflow) inWin
    else inWin.unionByName(dfs.filter(col("df") > maxDf)
      .select(col("token"), col("df"),
        lit(null).cast(tokPos.schema(idCol).dataType).as(idCol),
        lit(null).cast(inWin.schema("positions").dataType)
          .as("positions")))
  }

  /** [[TextStats.invertedIndex]] with the overflow contract: one row
    * per token with df >= `minDf` — sorted distinct postings while
    * df <= `maxDf`, NULL postings (exact df) above it.
    *
    * Output: (`token`, `df`, `postings` sorted array | null). */
  def indexWithOverflow(df: DataFrame, idCol: String, textCol: String,
                        minDf: Long, maxDf: Long): DataFrame =
    invertedRows(docTokens(df, idCol, textCol), idCol, minDf, maxDf,
      overflow = true)

  /** Forget for PER-ROW derived artifacts — PQ code frames
    * ([[Pq.encode]]), IVF-PQ (cell, codes) rows ([[IvfPq.encode]]),
    * quality scores, fingerprints: anything with exactly one row per
    * source row and no cross-row aggregate state. There deletion is
    * ONE anti-join on the id — no arithmetic to invert, no rebuild;
    * the stored artifact (at 100 TB the codes ARE the persisted
    * index) shrinks in place and every search over it behaves as if
    * the remainder had been re-encoded (encode is row-local, so this
    * is exact by construction — spec-pinned against the re-encode).
    * The INSERT direction needs no helper at all: encode the batch
    * and `unionByName` its rows in (encode is row-local, so the
    * union IS the re-encoded grown corpus, exactly). Artifacts with
    * cross-row state need real maintenance in both directions:
    * [[forgetFromIndex]]/[[insertIntoIndex]] (posting lists),
    * [[forgetFromPositionalIndex]]/[[insertIntoPositionalIndex]]
    * (per-doc position rows carry a per-TOKEN df),
    * [[Sketch.cmsSubtract]]/[[Sketch.cmsMerge]] (linear counters);
    * HLL/Bloom registers are not invertible and rebuild on forget
    * (inserts merge fine — their registers are monotone). */
  def forgetRows(artifact: DataFrame, forgottenIds: DataFrame,
                 idCol: String): DataFrame =
    artifact.join(forgottenIds.select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** The overflow tokens of `touched` (one row each) that CROSS back
    * into the df window — the one case an index cannot answer from its
    * own state. A bounded driver collect (a subset of the batch's
    * overflow vocabulary) that lets the rebuild be skipped when empty,
    * the common case. */
  private def crossingTokens(touched: DataFrame, overflowed: Column,
                             maxDf: Long): Seq[String] =
    touched.filter(overflowed && col("_ndf") <= maxDf)
      .select(col("token")).collect().map(_.getString(0)).toSeq

  /** Apply a forget batch to an [[indexWithOverflow]] frame: returns
    * the index AS IF built on the corpus minus `forgotten` (exactly —
    * including overflow tokens that cross back into the df window,
    * rebuilt from `remaining`). `minDf`/`maxDf` must be the knobs the
    * index was built with; `forgotten` must be the deleted rows
    * themselves (id + text — the forget pipeline holds them; ids not
    * in the corpus would desync the df bookkeeping and are the
    * caller's contract to exclude), and `remaining` the corpus after
    * deletion.
    *
    * Plan: untouched tokens pass through without being rewritten
    * (left join + null check); touched in-window tokens update via
    * `array_except` against the batch's per-token removed-id lists
    * (each bounded by the batch size); touched overflow tokens keep
    * their decremented df, except CROSSING ones (new df <= `maxDf`)
    * whose postings rebuild via [[invertedRows]] over the remaining
    * corpus restricted to the collected crossing tokens, skipped when
    * none cross. */
  def forgetFromIndex(index: DataFrame, forgotten: DataFrame,
                      remaining: DataFrame, idCol: String,
                      textCol: String, minDf: Long, maxDf: Long)
      : DataFrame = {
    require(minDf >= 1 && maxDf >= minDf,
      s"need 1 <= minDf <= maxDf; got $minDf, $maxDf")
    val rem = docTokens(forgotten, idCol, textCol).groupBy(col("token"))
      .agg(count(lit(1)).as("_rm"),
        sort_array(collect_list(col(idCol))).as("_rm_ids"))
    val joined = index.join(rem, Seq("token"), "left")
    val untouched = joined.filter(col("_rm").isNull)
      .select(col("token"), col("df"), col("postings"))
    val touched = joined.filter(col("_rm").isNotNull)
      .withColumn("_ndf", col("df") - col("_rm"))
      .filter(col("_ndf") >= minDf)
    val updatedInWin = touched.filter(col("postings").isNotNull)
      .select(col("token"), col("_ndf").as("df"),
        array_except(col("postings"), col("_rm_ids")).as("postings"))
    val stillOver = touched
      .filter(col("postings").isNull && col("_ndf") > maxDf)
      .select(col("token"), col("_ndf").as("df"), col("postings"))
    val base = untouched.unionByName(updatedInWin).unionByName(stillOver)
    val crossing = crossingTokens(touched, col("postings").isNull, maxDf)
    // a crossing token's remaining df is in the window by construction,
    // so the rebuild has no overflow rows to add
    if (crossing.isEmpty) base
    else base.unionByName(invertedRows(
      docTokens(remaining, idCol, textCol)
        .filter(col("token").isin(crossing: _*)),
      idCol, minDf, maxDf, overflow = false))
  }

  /** Apply an INSERT batch to an [[indexWithOverflow]] frame: returns
    * the index AS IF built on the corpus plus `inserted` — the other
    * half of artifact maintenance a continuously-ingesting pipeline
    * needs ([[forgetFromIndex]] is the deletion half). `inserted`
    * must be NEW rows (ids not already in the corpus — duplicates
    * would double-count df and duplicate postings; the ingest
    * pipeline's contract), and `corpus` the corpus AFTER insertion
    * (only consulted for novel below-`minDf` tokens, see below).
    *
    * Insertion's crossing story is the INVERSE of deletion's, and
    * cheaper: df only ever INCREASES, so
    *
    *   - an overflow token stays overflow — df increments, done;
    *   - an in-window token either stays in-window (postings extend
    *     by the batch's sorted id list) or crosses UP into overflow —
    *     where the fix is to DROP the list and keep the exact df (a
    *     pure projection; no corpus pass, unlike deletion's
    *     crossing-down rebuild);
    *   - a token ABSENT from the index is the one case the index
    *     cannot answer alone when `minDf > 1`: its pre-insert df is
    *     somewhere in [0, minDf-1] but not stored. See
    *     [[withNovel]]. */
  def insertIntoIndex(index: DataFrame, inserted: DataFrame,
                      corpus: DataFrame, idCol: String, textCol: String,
                      minDf: Long, maxDf: Long): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf,
      s"need 1 <= minDf <= maxDf; got $minDf, $maxDf")
    val postingsType = index.schema("postings").dataType
    val addTok = docTokens(inserted, idCol, textCol)
    val add = addTok.groupBy(col("token"))
      .agg(count(lit(1)).as("_ad"),
        sort_array(collect_list(col(idCol))).as("_ad_ids"))
    val joined = index.join(add, Seq("token"), "left")
    val untouched = joined.filter(col("_ad").isNull)
      .select(col("token"), col("df"), col("postings"))
    val touched = joined.filter(col("_ad").isNotNull)
      .withColumn("_ndf", col("df") + col("_ad"))
    val stillIn = touched
      .filter(col("postings").isNotNull && col("_ndf") <= maxDf)
      .select(col("token"), col("_ndf").as("df"),
        sort_array(concat(col("postings"), col("_ad_ids")))
          .as("postings"))
    val crossedUp = touched
      .filter(col("postings").isNotNull && col("_ndf") > maxDf)
      .select(col("token"), col("_ndf").as("df"),
        lit(null).cast(postingsType).as("postings"))
    val stillOver = touched.filter(col("postings").isNull)
      .select(col("token"), col("_ndf").as("df"), col("postings"))
    val base = untouched.unionByName(stillIn).unionByName(crossedUp)
      .unionByName(stillOver)
    withNovel(base, index, addTok, docTokens(corpus, idCol, textCol),
      minDf)(invertedRows(_, idCol, minDf, maxDf, overflow = true))
  }

  /** `base` plus the rows `build` makes for the batch's NOVEL tokens
    * (in the batch, absent from `index`). With `minDf == 1` absence
    * proves the pre-insert df was 0, so they build from `batchRows`
    * alone and the insert NEVER scans the corpus; with `minDf > 1`
    * they build from `corpusRows` restricted to them (an anti-join —
    * no driver collect, the batch vocabulary can be large), skipped
    * when the batch brings no unknown token. */
  private def withNovel(base: DataFrame, index: DataFrame,
                        batchRows: DataFrame, corpusRows: => DataFrame,
                        minDf: Long)
                       (build: DataFrame => DataFrame): DataFrame = {
    val novel = batchRows.select(col("token")).distinct()
      .join(index.select(col("token")), Seq("token"), "left_anti")
    if (minDf > 1L && novel.isEmpty) base
    else {
      val src = if (minDf == 1L) batchRows else corpusRows
      base.unionByName(build(src.join(novel, Seq("token"), "left_semi")))
    }
  }

  /** [[TextStats.positionalIndex]] with the overflow contract: the
    * per-(token, document) position rows for in-window tokens, plus
    * one MARKER row (null id, null positions, exact df) per token
    * whose df exceeds `maxDf`. The base positional shape has no
    * memory hazard to guard (each buffer holds one document's
    * positions), but WITHOUT the marker a deletion could never tell
    * that an excluded token's df fell back inside the window — the
    * marker is one row per excluded token, the cheapest state that
    * keeps the index maintainable (the [[indexWithOverflow]] move).
    *
    * Output: (`token`, `df`, idCol nullable, `positions` nullable). */
  def positionalIndexWithOverflow(df: DataFrame, idCol: String,
                                  textCol: String, minDf: Long,
                                  maxDf: Long): DataFrame =
    positionalRows(tokenPositions(df, idCol, textCol), idCol, minDf,
      maxDf, overflow = true)

  /** Apply an INSERT batch to a [[positionalIndexWithOverflow]] frame:
    * the index AS IF built on the corpus plus `inserted` — the
    * [[insertIntoIndex]] crossing story on the positional shape. A
    * batch document's position rows derive from the batch alone
    * (positions are document-local); the per-token `df` column
    * increments on every surviving row of a touched token; an
    * in-window token crossing UP drops its position rows for one
    * marker row (pure projection — the inverse crossing needs no
    * rebuild); a marker token stays a marker. Novel tokens build as
    * in [[withNovel]]. Contracts as [[insertIntoIndex]]: new ids
    * only, `corpus` is the post-insert corpus. */
  def insertIntoPositionalIndex(index: DataFrame, inserted: DataFrame,
                                corpus: DataFrame, idCol: String,
                                textCol: String, minDf: Long,
                                maxDf: Long): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf,
      s"need 1 <= minDf <= maxDf; got $minDf, $maxDf")
    val idType = index.schema(idCol).dataType
    val posType = index.schema("positions").dataType
    val batchTokPos = tokenPositions(inserted, idCol, textCol)
    val batchPos = batchTokPos.groupBy(col("token"), col(idCol))
      .agg(sort_array(collect_list(col("_pos0") + lit(1))).as("_bpos"))
    val add = batchPos.groupBy(col("token"))
      .agg(count(lit(1)).as("_ad"))
    val joined = index.join(add, Seq("token"), "left")
    val untouched = joined.filter(col("_ad").isNull)
      .select(col("token"), col("df"), col(idCol), col("positions"))
    val touched = joined.filter(col("_ad").isNotNull)
      .withColumn("_ndf", col("df") + col("_ad"))
    // existing in-window rows of tokens that STAY in the window
    val stayRows = touched
      .filter(col(idCol).isNotNull && col("_ndf") <= maxDf)
      .select(col("token"), col("_ndf").as("df"), col(idCol),
        col("positions"))
    // in-window tokens crossing UP: rows drop, one marker remains
    val crossedUp = touched
      .filter(col(idCol).isNotNull && col("_ndf") > maxDf)
      .select(col("token"), col("_ndf").as("df"))
      .distinct()
      .select(col("token"), col("df"), lit(null).cast(idType).as(idCol),
        lit(null).cast(posType).as("positions"))
    val stillOver = touched.filter(col(idCol).isNull)
      .select(col("token"), col("_ndf").as("df"), col(idCol),
        col("positions"))
    // batch documents' rows for touched tokens that stay in-window
    // (their positions come from the batch; df from the maintained
    // count). A touched token's marker/row split is consistent by
    // construction: _ndf <= maxDf implies the token was in-window
    // before (df only grows), so no marker existed.
    val tokenNdf = touched.select(col("token"), col("_ndf")).distinct()
    val batchRows = batchPos
      .join(tokenNdf.filter(col("_ndf") <= maxDf), "token")
      .select(col("token"), col("_ndf").as("df"), col(idCol),
        col("_bpos").as("positions"))
    val base = untouched.unionByName(stayRows).unionByName(crossedUp)
      .unionByName(stillOver).unionByName(batchRows)
    withNovel(base, index, batchTokPos,
      tokenPositions(corpus, idCol, textCol), minDf)(
      positionalRows(_, idCol, minDf, maxDf, overflow = true))
  }

  /** Apply a forget batch to a [[positionalIndexWithOverflow]] frame:
    * the index AS IF built on the corpus minus the forgotten docs.
    * Unlike [[forgetFromIndex]] no `array_except` is needed — a
    * document's positions live in their own row, which the anti-join
    * drops whole — but the per-token `df` column must decrement on
    * every surviving row of a touched token, tokens falling below
    * `minDf` drop entirely, and marker tokens CROSSING back under
    * `maxDf` rebuild their position rows via [[positionalRows]] over
    * the remaining corpus restricted to them (skipped when none
    * cross). `forgotten` must be the deleted rows (id + text),
    * `remaining` the corpus after deletion — the [[forgetFromIndex]]
    * contract. */
  def forgetFromPositionalIndex(index: DataFrame, forgotten: DataFrame,
                                remaining: DataFrame, idCol: String,
                                textCol: String, minDf: Long,
                                maxDf: Long): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf,
      s"need 1 <= minDf <= maxDf; got $minDf, $maxDf")
    val remCnt = docTokens(forgotten, idCol, textCol)
      .groupBy(col("token")).agg(count(lit(1)).as("_rm"))
    val fids = forgotten.select(col(idCol)).distinct()
    val joined = index.join(remCnt, Seq("token"), "left")
    val untouched = joined.filter(col("_rm").isNull)
      .select(col("token"), col("df"), col(idCol), col("positions"))
    val touched = joined.filter(col("_rm").isNotNull)
      .withColumn("_ndf", col("df") - col("_rm"))
      .filter(col("_ndf") >= minDf)
    val touchedRows = touched.filter(col(idCol).isNotNull)
      .join(fids, Seq(idCol), "left_anti")
      .select(col("token"), col("_ndf").as("df"), col(idCol),
        col("positions"))
    val stillOver = touched
      .filter(col(idCol).isNull && col("_ndf") > maxDf)
      .select(col("token"), col("_ndf").as("df"), col(idCol),
        col("positions"))
    val base = untouched.unionByName(touchedRows).unionByName(stillOver)
    val crossing = crossingTokens(touched, col(idCol).isNull, maxDf)
    // in the window by construction, as in forgetFromIndex
    if (crossing.isEmpty) base
    else base.unionByName(positionalRows(
      tokenPositions(remaining, idCol, textCol)
        .filter(col("token").isin(crossing: _*)),
      idCol, minDf, maxDf, overflow = false))
  }
}
