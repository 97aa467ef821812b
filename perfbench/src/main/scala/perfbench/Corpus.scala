package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** The seeded document corpus of the `curate` workload, with every
  * planted property known by construction so the oracle never asks the
  * engine what it should have found:
  *
  *   - near-duplicates: a copy of an original with two words replaced
  *     (character-shingle Jaccard about 0.9), always with a higher id
  *     than its original, so the original is the cluster keeper;
  *   - quoters: 36 words quoted from one source doc then 36 from another
  *     (each source quoted once), so only the grams across the splice
  *     are unique: word-8-gram novelty about 11 %, while each source keeps
  *     about 60 % and a plain doc about 100 %;
  *   - PII: one email, SSN or phone number inserted into about one doc
  *     in ten (never a quote source).
  */
object Corpus {

  val Docs = 800
  val Objects = 8
  val Words = 80
  val Dups = 64           // ids Docs-Dups+1 .. Docs, originals 1 .. Dups
  val Quoters = 32        // ids just below the dups, sources after the originals
  val QuoteWords = 36
  /** Novelty screen: docs below this share of unique 8-grams go. */
  val NoveltyMicroCut = 300000L
  val PiiEvery = 10       // about one doc in ten carries PII

  final case class Doc(id: Long, text: String, role: String,
                       pii: Option[String])

  private def docWords(seed: Long, id: Long): Array[String] =
    Lakes.words(Lakes.mix(seed * 1000003L + id), Words).split(' ')

  def firstDup: Long = Docs - Dups + 1L
  def firstQuoter: Long = firstDup - Quoters
  def firstSource: Long = Dups + 1L

  def piiFor(seed: Long, id: Long): Option[String] = {
    val x = Lakes.mix(seed * 7919L + id * 104729L)
    if (java.lang.Long.remainderUnsigned(x, PiiEvery) != 0) None
    else {
      val d = java.lang.Long.remainderUnsigned(x >>> 7, 1000000000L)
      Some(java.lang.Long.remainderUnsigned(x >>> 3, 3).toInt match {
        case 0 =>
          val w = Lakes.words(x, 3).split(' ')
          s"${w(0)}.${w(1)}@${w(2)}.com"
        case 1 => f"${100 + d % 800}%03d-${10 + d / 1000 % 89}%02d-${1000 + d / 100000 % 8999}%04d"
        case _ => f"(${200 + d % 700}%03d) ${200 + d / 1000 % 700}%03d-${1000 + d / 1000000 % 8999}%04d"
      })
    }
  }

  private def withPii(ws: Array[String], pii: Option[String], seed: Long,
                      id: Long): String = pii match {
    case None => ws.mkString(" ")
    case Some(p) =>
      val at = 5 + (Lakes.mix(seed + id * 31L) >>> 1) % (ws.length - 10)
      (ws.take(at.toInt) ++ Array(p) ++ ws.drop(at.toInt)).mkString(" ")
  }

  def docs(seed: Long): Seq[Doc] = {
    val base: Map[Long, Array[String]] =
      (1L to Docs.toLong).map(i => i -> docWords(seed, i)).toMap
    def plain(i: Long, role: String): Doc = {
      // a source carries no PII: an insertion inside its quoted span would
      // add unique grams to its quoter and lift it over the novelty cut
      val pii = if (role == "source") None else piiFor(seed, i)
      Doc(i, withPii(base(i), pii, seed, i), role, pii)
    }
    (1L to Docs.toLong).map { i =>
      if (i >= firstDup) {
        // copy the (PII-bearing, when planted) text of its original
        val orig = 1L + (i - firstDup)
        val ws = plain(orig, "").text.split(' ')
        val x = Lakes.mix(seed * 17L + i)
        val p1 = (x >>> 1) % ws.length
        val p2 = (p1 + 1 + (x >>> 20) % (ws.length - 1)) % ws.length
        ws(p1.toInt) = base(i)(0)
        ws(p2.toInt) = base(i)(1)
        Doc(i, ws.mkString(" "), "dup", None)
      } else if (i >= firstQuoter) {
        val k = i - firstQuoter
        val a = base(firstSource + 2 * k)
        val b = base(firstSource + 2 * k + 1)
        Doc(i, (a.slice(10, 10 + QuoteWords) ++
          b.slice(30, 30 + QuoteWords)).mkString(" "), "quoter", None)
      } else if (i <= Dups) plain(i, "original")
      else if (i < firstSource + 2 * Quoters) plain(i, "source")
      else plain(i, "plain")
    }
  }

  def write(spark: SparkSession, seed: Long, dir: Path): Unit = {
    import spark.implicits._
    val df = docs(seed).map(d => (d.id, d.text, (d.id % Objects).toInt))
      .toDF("id", "text", "_obj")
    Lakes.writeObjects(spark, df, Objects, dir.resolve("docs"), "parquet",
      Seq("id"))
  }
}
