package perfbench

import graft.catalog.TableDef
import graft.llm.{Dedup, DedupForget, PiiForget, TextStats}
import graft.model._
import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The curation workload: each pass takes a fresh copy of the seeded
  * corpus and runs the three `graft.llm` curation steps in order —
  * near-duplicate removal, a low-novelty screen, PII redaction. Removal
  * drops rows through ordinary deletion jobs; redaction keeps every row
  * and rewrites its text. */
final class Curate(seed: Long) extends Workload {
  import Curate._
  val name = "curate"

  private lazy val docs = Corpus.docs(seed)
  private val violations = mutable.ArrayBuffer.empty[String]

  def generate(spark: SparkSession, master: Path): Unit =
    Corpus.write(spark, seed, master)

  def describe(spark: SparkSession, master: Path): Seq[(String, String)] = {
    val l = LakeFiles.listing(master)
    val n = docs.size.toDouble
    Seq("docs" -> s"${l.size} objects, ${l.values.map(_._1).sum} bytes, ${docs.size} rows",
      "duplicate share" -> f"${docs.count(_.role == "dup") / n}%.3f",
      "low-novelty (quoter) share" -> f"${docs.count(_.role == "quoter") / n}%.3f",
      "PII share" -> f"${docs.count(_.pii.isDefined) / n}%.3f",
      "queue" -> "none: the curation steps derive their own id lists")
  }

  def setupRound(spark: SparkSession, master: Path, work: Path,
                 round: Int): Unit = {
    LakeFiles.deleteTree(work)
    LakeFiles.copyTree(master, work)
  }

  /** [[WarmUpPasses]] passes: the first pass of a fresh JVM takes about
    * twice a steady one, the second still about a fifth more. */
  def warmUp(spark: SparkSession, master: Path, work: Path): Unit =
    (0 until WarmUpPasses).foreach { i =>
      pass(spark, master, work, s"warm$i", traced = false, null, null)
    }

  def runOne(spark: SparkSession, master: Path, work: Path, i: Int,
             traced: Boolean, spans: SpanLog,
             listener: BenchListener): JobOutcome =
    pass(spark, master, work, s"curate-$i", traced, spans, listener)

  private def pass(spark: SparkSession, master: Path, work: Path,
                   passId: String, traced: Boolean, spans: SpanLog,
                   listener: BenchListener): JobOutcome = {
    LakeFiles.deleteTree(work)
    LakeFiles.copyTree(master, work)
    val loc = work.resolve("docs").toString
    val sc = spark.sparkContext
    val table = TableDef("docs", loc, DataFormat.Parquet,
      spark.read.parquet(loc).schema)
    val steps = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var before = 0L
    var after = 0L
    val queries = mutable.ArrayBuffer.empty[Long]
    def step[A](name: String)(f: => A): A = {
      val l0 = LakeFiles.listing(work)
      sc.setLocalProperty(BenchListener.StepProp, name)
      val t0 = System.currentTimeMillis()
      val r = try f finally sc.setLocalProperty(BenchListener.StepProp, null)
      steps += ((name, t0, System.currentTimeMillis()))
      val l1 = LakeFiles.listing(work)
      val changed = l0.keySet.filter(k =>
        LakeFiles.isData(k) && l1.get(k).exists(_ != l0(k)))
      before += changed.toSeq.map(l0(_)._1).sum
      after += changed.toSeq.map(l1(_)._1).sum
      r
    }
    def bytesNow = LakeFiles.dataBytes(work)
    sc.setLocalProperty(BenchListener.JobProp, passId)
    val (dedup, novel, scrub) = try {
      val dedup = step("near_dup") {
        val b = bytesNow
        val r = DedupForget.forgetDuplicates(spark, s"$passId-dedup", table,
          "id", Dedup.nearDuplicates(spark.read.parquet(loc), "id", "text"))
        r.batches.foreach(_ => queries += b)
        r
      }
      val novel = step("gram_novelty") {
        val b = bytesNow
        val low = TextStats.gramNovelty(spark.read.parquet(loc), "id", "text",
          NoveltyN).filter(col("novelty_micro") < Corpus.NoveltyMicroCut)
          .select(col("id"))
        val r = DedupForget.forgetIds(spark, s"$passId-novel", table, "id", low)
        r.batches.foreach(_ => queries += b)
        r
      }
      val scrub = step("scrub") {
        queries += bytesNow
        PiiForget.scrubTable(spark, s"$passId-pii", spark.read.parquet(loc),
          "text")
      }
      (dedup, novel, scrub)
    } finally sc.setLocalProperty(BenchListener.JobProp, null)
    val events = dedup.batches.flatMap(_.events) ++
      novel.batches.flatMap(_.events) ++ scrub
    val t0 = steps.head._2
    val t1 = steps.last._3
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(sc)
      val sparkJobs = listener.forJob(passId)
      val root = spans.add("pass", t0, t1, -1, passId)
      steps.foreach { case (n, s, e) =>
        val st = spans.add(s"llm.$n", s, e, root, passId)
        val runs = n match {
          case "near_dup" => dedup.batches
          case "gram_novelty" => novel.batches
          case _ => Nil
        }
        runs.foreach { r =>
          val js = r.events.map(_.createdAt)
          val call = spans.add("driver.job", js.min, js.max, st, passId)
          JobSpans.derive(spans, spans.all(call), r.events,
            sparkJobs.filter(j => j.submitMs >= js.min && j.submitMs <= js.max))
        }
        if (n == "scrub")
          sparkJobs.filter(j => j.submitMs >= s && j.submitMs <= e &&
              j.endMs >= 0 && (j.layer == "llm.pii_find" ||
                j.layer.startsWith("forget.")))
            .foreach(j => spans.add(j.layer, j.submitMs, j.endMs, st, passId))
      }
    }
    violations ++= check(spark, loc).map(v => s"$passId: $v")
    val updated = events.filter(_.eventName == JobEventName.ObjectUpdated)
    JobOutcome(passId, t1 - t0, 0.0,
      dedup.status == JobStatus.Completed &&
        novel.status == JobStatus.Completed &&
        !scrub.exists(_.eventName != JobEventName.ObjectUpdated),
      events, updated.size.toLong,
      events.count(e => e.eventName == JobEventName.ObjectUpdateFailed ||
        e.eventName == JobEventName.ObjectRollbackFailed).toLong,
      updated.map(_.statsDeleted).sum, updated.map(_.statsProcessed).sum,
      queries.sum, before, after,
      objectsInTables = Corpus.Objects.toLong * queries.size)
  }

  /** The corpus after a pass, against what was planted. */
  private def check(spark: SparkSession, loc: String): Seq[String] = {
    val got = spark.read.parquet(loc).select("id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val keep = docs.filter(d => d.role != "dup" && d.role != "quoter")
    val losers = docs.filter(d => d.role == "dup" || d.role == "quoter")
      .map(_.id).filter(got.contains)
    val lost = keep.map(_.id).filterNot(got.contains)
    val texts = keep.filter(d => got.contains(d.id)).flatMap { d =>
      val t = got(d.id)
      val fired = Detectors.filter(_.findFirstIn(t).isDefined)
      val want = d.pii.fold(d.text)(p => d.text.replace(p, Mark))
      val norm = t.replaceAll("\\[[A-Z]+\\]", Mark)
      (if (fired.nonEmpty) Seq(s"doc ${d.id}: PII detector still fires")
      else Nil) ++
        (if (norm != want) Seq(s"doc ${d.id}: non-PII text changed")
        else Nil)
    }
    (if (losers.nonEmpty)
      Seq(s"${losers.size} loser ids survived, e.g. ${losers.take(5)}")
    else Nil) ++
      (if (lost.nonEmpty)
        Seq(s"${lost.size} keeper ids removed, e.g. ${lost.take(5)}")
      else Nil) ++ texts.take(5) ++
      (if (texts.size > 5) Seq(s"... ${texts.size - 5} more") else Nil)
  }

  /** The scrub commits with `deleteOldVersions = false`, so the prior
    * (unredacted) copy of each scrubbed object stays in the version
    * store by the engine's contract; it is counted, not failed. */
  def oracle(spark: SparkSession, master: Path, work: Path): Seq[String] = {
    val kept = LakeFiles.listing(work).keys
      .count(_.split('/').contains(Oracle.VersionStore))
    println(s"   note: $kept prior object versions kept by the scrub's " +
      "versioned commit (they hold pre-redaction text)")
    violations.toSeq ++ Oracle.debris(work, keepsVersions = true)
  }
}

object Curate {
  val WarmUpPasses = 2
  val NoveltyN = 8
  private val Mark = "\u0000"
  /** Detectors for the planted PII forms, written for the oracle. */
  val Detectors: Seq[scala.util.matching.Regex] = Seq(
    "[a-z]+\\.[a-z]+@[a-z]+\\.com".r,
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b".r,
    "\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}".r)
}
