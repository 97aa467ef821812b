package graft.streaming

import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact deduplication for an ingest pipeline — the
  * incremental counterpart of [[graft.llm.Dedup.exactDuplicates]]: as
  * documents stream in, each content digest's FIRST arrival passes and
  * later copies are dropped, with state bounded by a watermark instead
  * of growing forever.
  *
  * Built on `dropDuplicatesWithinWatermark`, whose state store evicts a
  * digest once the watermark passes its last-seen event time — the
  * standard Structured Streaming shape for "dedup with bounded memory":
  * a copy arriving within `watermarkDelay` of the original is dropped;
  * one arriving later than the whole window re-admits (the same
  * re-admission semantics the TTL'd reference state table has for job
  * rows — expired means forgotten). Exact duplicates cluster in time in
  * real crawl feeds, so a crawl-revisit-scale watermark catches the
  * overwhelming mass while keeping state proportional to the window,
  * not the corpus.
  */
object StreamingDedup {

  /** Distinct-by-content stream: one row per digest per watermark
    * window — the earliest arrival by stream order (streaming) or by
    * `(tsCol, remaining columns)` lexicographic minimum (batch: a bare
    * `dropDuplicates` keeps whichever copy the shuffled aggregation
    * meets first, so reruns/repartitionings would flap between
    * survivors; the struct-min is a total order over distinct rows and
    * thus deterministic).
    *
    * @param events         streaming (or batch) frame
    * @param textCol        content column digested with md5
    * @param tsCol          event-time timestamp column
    * @param watermarkDelay e.g. "10 minutes" — how long a digest is
    *                       remembered after its last sighting
    */
  def firstArrivals(events: DataFrame, textCol: String, tsCol: String,
                    watermarkDelay: String): DataFrame = {
    val digested = events.withColumn("digest", md5(col(textCol)))
    // dropDuplicatesWithinWatermark is streaming-only (its point is
    // state EVICTION); a batch frame takes a deterministic exact dedup
    // with the same "one row per digest" contract, no windowing
    if (events.isStreaming)
      digested.withWatermark(tsCol, watermarkDelay)
        .dropDuplicatesWithinWatermark("digest")
    else {
      val cols = events.columns.toSeq
      val ordered = tsCol +: cols.filterNot(_ == tsCol)
      digested.groupBy(col("digest"))
        .agg(min(struct(ordered.map(col): _*)).as("_first"))
        .select(col("digest") +: cols.map(c => col(s"_first.`$c`").as(c)): _*)
    }
  }

  // ---- streaming NEAR-dedup (MinHash-banded) ----

  private[streaming] final case class BandedDoc(band: Long, id: String,
                                                text: String,
                                                ts: java.sql.Timestamp)
  private[streaming] final case class BandRep(id: String, text: String,
                                              tsMs: Long)
  private[streaming] final case class NearPair(id_a: String, id_b: String,
                                               jaccard: Double)

  /** Streaming MinHash near-duplicate pairs — the incremental
    * counterpart of [[graft.llm.Dedup.nearDuplicates]]: each document
    * explodes into `bands` banded MinHash keys, and every BAND KEY is a
    * state key holding the band's first-arrival document (its
    * representative). A later document colliding with the band is
    * exact-verified (true shingle-set Jaccard against the
    * representative's text — inline, the texts are both at hand) and
    * emitted as `(id_a = representative, id_b = newcomer, jaccard)`
    * when it clears `threshold`. Band state evicts on an event-time
    * timeout `watermarkDelayMs` past its representative's last
    * sighting, so state is proportional to the distinct bands INSIDE
    * the watermark window, not the corpus — the same bound
    * [[firstArrivals]] gets from `dropDuplicatesWithinWatermark`,
    * with the per-entry cost of one representative text.
    *
    * Star semantics: collisions link to the band's representative (the
    * streaming analog of [[graft.llm.Banding.guardedPairs]]'
    * hot-bucket star-linking), so an n-copy cluster emits n-1 pairs,
    * never B²/2. A pair colliding in several bands emits once per
    * band, always within the newcomer's OWN micro-batch (all its band
    * rows process together) — run `dropDuplicates` per batch in
    * `foreachBatch` for exactly-once pairs, as the spec does. Ids ride
    * as strings (the engine-wide cast contract, [[graft.find.Finder]]
    * J2).
    *
    * A BATCH frame takes the identical star shape declaratively
    * (earliest doc per band by `(ts, id)` is the representative) — the
    * differential oracle for the streaming path. */
  def nearDuplicatePairs(events: DataFrame, idCol: String, textCol: String,
                         tsCol: String, watermarkDelayMs: Long,
                         shingleLen: Int = 8, bands: Int = 16,
                         rows: Int = 4, threshold: Double = 0.6,
                         seed: Int = 42): DataFrame = {
    require(watermarkDelayMs > 0, "watermarkDelayMs must be > 0")
    val keysUdf = Dedup.textBandKeys(shingleLen, bands, rows, seed)
    val banded = events.select(
      explode(keysUdf(col(textCol))).as("band"),
      col(idCol).cast("string").as("id"),
      col(textCol).as("text"),
      col(tsCol).cast("timestamp").as("ts"))
    if (events.isStreaming) {
      val exact = (a: String, b: String) => {
        // reuse the single-pass shingle kernel (not the udf wrapper)
        val sa = Dedup.shingleSet(a, shingleLen)
        val sb = Dedup.shingleSet(b, shingleLen)
        if (sa.isEmpty || sb.isEmpty) 0.0
        else {
          var inter = 0
          val it = sa.iterator()
          while (it.hasNext) if (sb.contains(it.next())) inter += 1
          inter.toDouble / (sa.size + sb.size - inter)
        }
      }
      banded
        .withWatermark("ts", s"$watermarkDelayMs milliseconds")
        .as[BandedDoc](Encoders.product[BandedDoc])
        .groupByKey(_.band)(Encoders.scalaLong)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(
          (_: Long, it: Iterator[BandedDoc], state: GroupState[BandRep]) => {
            if (state.hasTimedOut) {
              state.remove()
              Iterator.empty
            } else {
              val arrivals = it.toSeq.sortBy(r => (r.ts.getTime, r.id))
              val out = Seq.newBuilder[NearPair]
              var rep = state.getOption
              var lastMs = 0L
              arrivals.foreach { r =>
                lastMs = math.max(lastMs, r.ts.getTime)
                rep match {
                  case None =>
                    rep = Some(BandRep(r.id, r.text, r.ts.getTime))
                  case Some(rp) if rp.id != r.id =>
                    val j = exact(rp.text, r.text)
                    if (j >= threshold) out += NearPair(rp.id, r.id, j)
                  case _ => () // re-sighting of the representative
                }
              }
              rep.foreach { rp =>
                state.update(rp)
                // evict once the watermark passes the band's last
                // activity by the full delay (never <= the current
                // watermark, or the timeout registration throws)
                state.setTimeoutTimestamp(math.max(lastMs,
                  state.getCurrentWatermarkMs + 1) + watermarkDelayMs)
              }
              out.result().iterator
            }
          })(Encoders.product[BandRep], Encoders.product[NearPair])
        .toDF()
    } else {
      // batch differential: earliest (ts, id) per band is the
      // representative; every other band member verifies against it
      val reps = banded.groupBy(col("band"))
        .agg(min(struct(col("ts"), col("id"))).as("_r"))
        .select(col("band"), col("_r.id").as("id_a"))
      val candidates = banded.join(reps, "band")
        .filter(col("id") =!= col("id_a"))
        .select(col("id_a"), col("id").as("id_b"))
        .distinct()
      val texts = events.select(col(idCol).cast("string").as("_tid"),
        col(textCol).as("_txt"))
      candidates
        .join(texts.withColumnRenamed("_tid", "id_a")
          .withColumnRenamed("_txt", "_txt_a"), "id_a")
        .join(texts.withColumnRenamed("_tid", "id_b")
          .withColumnRenamed("_txt", "_txt_b"), "id_b")
        .withColumn("jaccard",
          Dedup.textJaccard(shingleLen)(col("_txt_a"), col("_txt_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  // ---- streaming EMBEDDING near-dedup (hyperplane-LSH-banded) ----

  private[streaming] final case class BandedVec(band: Long, id: String,
                                                vec: Seq[Float],
                                                ts: java.sql.Timestamp)
  private[streaming] final case class VecRep(id: String, vec: Seq[Float],
                                             tsMs: Long)
  private[streaming] final case class CosPair(id_a: String, id_b: String,
                                              cosine: Double)

  /** Streaming EMBEDDING near-duplicate pairs — streaming SemDeDup:
    * the incremental counterpart of
    * [[graft.llm.RandomHyperplaneLsh.nearPairs]], built exactly like
    * [[nearDuplicatePairs]] with hyperplane-LSH buckets in place of
    * MinHash bands. Each vector explodes into `lsh.tables` bucket
    * keys; every BUCKET is a state key holding its first-arrival
    * vector (the representative); a later vector colliding with the
    * bucket exact-verifies (true double-accumulation cosine, the
    * [[graft.functions.FloatVectorCosine]] arithmetic op-for-op) and
    * emits `(id_a = representative, id_b = newcomer, cosine)` at
    * `tau`. Bucket state evicts on an event-time timeout
    * `watermarkDelayMs` past the bucket's last activity — state ∝
    * distinct buckets inside the window, one representative VECTOR
    * per entry (the embedding analog of one text per band).
    *
    * Star semantics and the per-batch `dropDuplicates` contract match
    * [[nearDuplicatePairs]]. A BATCH frame takes the identical star
    * shape declaratively — the spec's differential oracle. */
  def embeddingNearPairs(events: DataFrame, idCol: String,
                         vecCol: String, tsCol: String,
                         watermarkDelayMs: Long,
                         lsh: graft.llm.RandomHyperplaneLsh,
                         tau: Double): DataFrame = {
    require(watermarkDelayMs > 0, "watermarkDelayMs must be > 0")
    val banded = events.select(
      explode(lsh.signature(col(vecCol))).as("_band0"),
      col(idCol).cast("string").as("id"),
      col(vecCol).as("vec"),
      col(tsCol).cast("timestamp").as("ts"))
      .select(col("_band0").cast("long").as("band"),
        col("id"), col("vec"), col("ts"))
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      // unreachable through the banded path (the LSH signature bands
      // only lsh.dim-length vectors), but
      // mirror the kernel's mismatch-NULL as NaN: NaN >= tau is false,
      // so a mismatched pair emits nothing on either engine
      if (a.length != b.length) return Double.NaN
      val m = a.length
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < m) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }
    if (events.isStreaming) {
      banded
        .withWatermark("ts", s"$watermarkDelayMs milliseconds")
        .as[BandedVec](Encoders.product[BandedVec])
        .groupByKey(_.band)(Encoders.scalaLong)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(
          (_: Long, it: Iterator[BandedVec], state: GroupState[VecRep]) => {
            if (state.hasTimedOut) {
              state.remove()
              Iterator.empty
            } else {
              val arrivals = it.toSeq.sortBy(r => (r.ts.getTime, r.id))
              val out = Seq.newBuilder[CosPair]
              var rep = state.getOption
              var lastMs = 0L
              arrivals.foreach { r =>
                lastMs = math.max(lastMs, r.ts.getTime)
                rep match {
                  case None =>
                    rep = Some(VecRep(r.id, r.vec, r.ts.getTime))
                  case Some(rp) if rp.id != r.id =>
                    val c = cos(rp.vec, r.vec)
                    if (c >= tau) out += CosPair(rp.id, r.id, c)
                  case _ => ()
                }
              }
              rep.foreach { rp =>
                state.update(rp)
                state.setTimeoutTimestamp(math.max(lastMs,
                  state.getCurrentWatermarkMs + 1) + watermarkDelayMs)
              }
              out.result().iterator
            }
          })(Encoders.product[VecRep], Encoders.product[CosPair])
        .toDF()
    } else {
      val reps = banded.groupBy(col("band"))
        .agg(min(struct(col("ts"), col("id"))).as("_r"))
        .select(col("band"), col("_r.id").as("id_a"))
      val candidates = banded.join(reps, "band")
        .filter(col("id") =!= col("id_a"))
        .select(col("id_a"), col("id").as("id_b"))
        .distinct()
      val vecs = events.select(col(idCol).cast("string").as("_vid"),
        col(vecCol).as("_v"))
      graft.functions.GraftFunctions.register(events.sparkSession)
      candidates
        .join(vecs.withColumnRenamed("_vid", "id_a")
          .withColumnRenamed("_v", "_va"), "id_a")
        .join(vecs.withColumnRenamed("_vid", "id_b")
          .withColumnRenamed("_v", "_vb"), "id_b")
        .withColumn("cosine",
          graft.functions.GraftFunctions.cosine(col("_va"), col("_vb")))
        .filter(col("cosine") >= tau)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }
  }
}
