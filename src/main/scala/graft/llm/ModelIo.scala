package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet (de)serializers for the driver-side learned models —
  * k-means centroids, BPE merge lists, PQ codebooks, and the IVF-PQ
  * model: the piece that turns the in-JVM model caches
  * into STORED artifacts, the same write-once/read-many contract the
  * frame artifacts already have. A 100 TB pipeline trains a model
  * once and every encode/search run loads it from storage — so the
  * copy consumers compute on must be the DISK ROUND TRIP, not the
  * in-memory original.
  *
  * Bit-identity is the contract ([[graft.llm]] folds every float
  * decision driver-side into literals shared with the oracles, so one
  * flipped mantissa bit flips gate hashes): parquet's FLOAT physical
  * type stores the raw IEEE-754 bits, and these frames carry floats
  * only inside `array<float>` columns — no casts, no doubles — so
  * `load(save(m)) == m` exactly. `ModelIoSpec` pins it per shape.
  *
  * All model frames are k/vocabulary-scale (dozens of rows, never
  * corpus-scale); the loads collect() by design — bounded. */
object ModelIo {

  /** k-means centroids → (idx INT, vec ARRAY<FLOAT>). */
  def saveCentroids(s: SparkSession, cs: Seq[Array[Float]]): DataFrame = {
    import s.implicits._
    cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toDF("idx", "vec")
  }

  def loadCentroids(df: DataFrame): Seq[Array[Float]] =
    df.select("idx", "vec").collect() // bounded: k rows
      .sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray).toSeq

  /** BPE merge list → (rank INT, a STRING, b STRING); rank is the
    * learned order, which IS the apply order. */
  def saveMerges(s: SparkSession, ms: Seq[Bpe.Merge]): DataFrame = {
    import s.implicits._
    ms.zipWithIndex.map { case (m, i) => (i, m.a, m.b) }
      .toDF("rank", "a", "b")
  }

  def loadMerges(df: DataFrame): Seq[Bpe.Merge] =
    df.select("rank", "a", "b").collect() // bounded: numMerges rows
      .sortBy(_.getInt(0))
      .map(r => Bpe.Merge(r.getString(1), r.getString(2))).toSeq

  /** PQ codebooks → (sub INT, idx INT, vec ARRAY<FLOAT>): one row per
    * sub-quantizer centroid. */
  def saveCodebooks(s: SparkSession,
                    cb: Seq[Seq[Array[Float]]]): DataFrame = {
    import s.implicits._
    (for {
      (sub, j) <- cb.zipWithIndex
      (c, i) <- sub.zipWithIndex
    } yield (j, i, c.toSeq)).toDF("sub", "idx", "vec")
  }

  def loadCodebooks(df: DataFrame): Seq[Seq[Array[Float]]] =
    df.select("sub", "idx", "vec").collect() // bounded: m·ksub rows
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray).toSeq
      }

  /** IVF-PQ model → the coarse centroids under part='coarse' (sub
    * −1), the residual codebooks under part='code' — one frame so the
    * model stays one artifact. */
  def saveIvfPq(s: SparkSession, m: IvfPq.Model): DataFrame = {
    import s.implicits._
    (m.coarse.zipWithIndex.map { case (c, i) =>
      ("coarse", -1, i, c.toSeq)
    } ++ (for {
      (sub, j) <- m.codebooks.zipWithIndex
      (c, i) <- sub.zipWithIndex
    } yield ("code", j, i, c.toSeq))).toDF("part", "sub", "idx", "vec")
  }

  def loadIvfPq(df: DataFrame): IvfPq.Model = {
    val rows = df.select("part", "sub", "idx", "vec")
      .collect() // bounded: nlist + m·ksub rows
    val coarse = rows.filter(_.getString(0) == "coarse")
      .sortBy(_.getInt(2)).map(_.getSeq[Float](3).toArray).toSeq
    val code = rows.filter(_.getString(0) == "code")
      .groupBy(_.getInt(1)).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_.getInt(2)).map(_.getSeq[Float](3).toArray).toSeq
      }
    IvfPq.Model(coarse, code)
  }
}
