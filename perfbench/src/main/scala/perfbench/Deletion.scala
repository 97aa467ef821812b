package perfbench

import graft.api.GraftApi
import graft.catalog.TableDef
import graft.jobs.Jobs
import graft.model._
import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The deletion-job workload `backlog`, driven through [[GraftApi]]
  * exactly as a client would: register mappers, enqueue a batch, start the
  * job, wait for it, then enqueue the next batch (closed loop, one
  * client). Three mappers (parquet + gzip JSON lines), one of them many
  * small objects that each job's customers are spread over, and a queue of
  * mostly absent keys: per-matched-object costs and costs that grow with
  * queue size dominate. */
final class Deletion(val name: String, seed: Long) extends Workload {
  import Deletion._

  private val rng = new java.util.SplittableRandom(
    seed * 1000003L + name.hashCode)
  private val used = mutable.HashSet.empty[Long]
  /** Every item applied to the measured lake, and the rows its jobs
    * reported erased. */
  private val applied = mutable.ArrayBuffer.empty[DeletionQueueItem]
  private var reportedErased = 0L
  private var api: GraftApi = _
  private var mapped: Seq[(DataMapper, TableDef)] = Nil

  def generate(spark: SparkSession, master: Path): Unit =
    Lakes.backlog(spark, seed, master)

  private def draw(lo: Long, hi: Long): Long = {
    var k = lo + rng.nextLong(hi - lo + 1)
    while (used.contains(k)) k = lo + rng.nextLong(hi - lo + 1)
    used += k
    k
  }

  /** The next queue batch; keys are never reused within a run. */
  def batch(tag: String): Seq[DeletionQueueItem] = {
    def simple(j: Int, k: Long) =
      DeletionQueueItem(s"$tag-$j", MatchId.Simple(k.toString))
    val present = (0 until BacklogPresent).map(j =>
      simple(j, draw(1, Lakes.BacklogCustomers)))
    val composite = (0 until BacklogComposite).map { j =>
      val k = draw(1, Lakes.BacklogCustomers)
      DeletionQueueItem(s"$tag-c$j", MatchId.Composite(Map(
        "c_name" -> Lakes.custName(k),
        "c_phone" -> Lakes.custPhone(seed, k))), Seq("m_customer"))
    }
    val absent = (0 until BacklogAbsent).map(j =>
      simple(BacklogPresent + j, draw(AbsentBase, AbsentBase * 2)))
    present ++ composite ++ absent
  }

  private def tableDefs(spark: SparkSession,
                        work: Path): Seq[(DataMapper, TableDef)] = {
    def pq(t: String) = TableDef(t, work.resolve(t).toString,
      DataFormat.Parquet, spark.read.parquet(work.resolve(t).toString).schema)
    Seq(DataMapper("m_customer", "customer",
          Seq("c_custkey", "c_name", "c_phone")) -> pq("customer"),
      DataMapper("m_orders", "orders", Seq("o_custkey")) -> pq("orders"),
      DataMapper("m_events", "events", Seq("user_id"),
        format = DataFormat.JsonLines) ->
        TableDef("events", work.resolve("events").toString,
          DataFormat.JsonLines, EventsJsonSchema))
  }

  def describe(spark: SparkSession, master: Path): Seq[(String, String)] = {
    val tabs = tableDefs(spark, master).map(_._2)
    val l = LakeFiles.listing(master)
    tabs.map { t =>
      val objs = l.filter { case (k, _) => k.startsWith(t.name + "/") }
      val rows = t.format match {
        case DataFormat.Parquet => spark.read.parquet(t.location).count()
        case DataFormat.JsonLines => spark.read.text(t.location).count()
      }
      t.name -> s"${objs.size} objects, ${objs.values.map(_._1).sum} bytes, $rows rows"
    } ++ Seq("queue per job" -> (s"$BacklogPresent present customer ids + " +
        s"$BacklogComposite composite (c_name, c_phone) + $BacklogAbsent " +
        "absent ids"),
      "duplicate share" -> "none planted", "PII share" -> "none planted")
  }

  def setupRound(spark: SparkSession, master: Path, work: Path,
                 round: Int): Unit = {
    LakeFiles.deleteTree(work)
    LakeFiles.copyTree(master, work)
    api = new GraftApi(spark)
    mapped = tableDefs(spark, work)
    mapped.foreach { case (m, t) => api.putDataMapper(m, t) }
    applied.clear()
    reportedErased = 0L
  }

  /** [[WarmUpJobs]] jobs: job walls keep falling as the JIT compiles the
    * engine's and Spark's paths, from 2.4 s to about 1.7 s over the first
    * ten jobs on a 4-core box. Six take the steep part of that curve out of
    * the measured window within the benchmark's run-time budget. */
  def warmUp(spark: SparkSession, master: Path, work: Path): Unit =
    (0 until WarmUpJobs).foreach { i =>
      val items = batch(s"warm$i")
      api.enqueue(items)
      val run = api.startJob(s"$name-warm$i")
      require(run.state.status == JobStatus.Completed,
        s"warm-up job ended ${run.state.status}")
      applied ++= items
      reportedErased += erased(run.events)
    }

  def runOne(spark: SparkSession, master: Path, work: Path, i: Int,
             traced: Boolean, spans: SpanLog,
             listener: BenchListener): JobOutcome = {
    val jobId = s"$name-$i"
    val sc = spark.sparkContext
    val before = LakeFiles.listing(work)
    val items = batch(jobId)
    sc.setLocalProperty(BenchListener.JobProp, jobId)
    val (t0, t1, t2, enqueueMs, run) =
      try {
        val t0 = System.currentTimeMillis()
        val e0 = System.nanoTime()
        api.enqueue(items)
        val enqueueMs = (System.nanoTime() - e0) / 1e6
        val t1 = System.currentTimeMillis()
        val run = api.startJob(jobId)
        (t0, t1, System.currentTimeMillis(), enqueueMs, run)
      } finally sc.setLocalProperty(BenchListener.JobProp, null)
    applied ++= items
    val after = LakeFiles.listing(work)
    val changed = before.keySet.filter(k =>
      LakeFiles.isData(k) && after.get(k).exists(_ != before(k)))
    val ev = run.events
    val rows = erased(ev)
    reportedErased += rows
    var feedMs = 0.0
    var foldMs = 0.0
    if (traced) {
      val root = spans.add("job", t0, t2, -1, jobId)
      spans.add("api.enqueue", t0, t1, root, jobId)
      val call = spans.add("api.start_job", t1, t2, root, jobId)
      org.apache.spark.PerfbenchBus.drain(sc)
      JobSpans.derive(spans, spans.all(call), ev, listener.forJob(jobId))
      val f0 = System.nanoTime()
      var page = api.listJobEvents(jobId)
      var n = page.items.size
      while (page.nextStart.isDefined) {
        page = api.listJobEvents(jobId, startAt = page.nextStart.get)
        n += page.items.size
      }
      feedMs = (System.nanoTime() - f0) / 1e6
      require(n == ev.size, s"event feed returned $n of ${ev.size} events")
      val g0 = System.nanoTime()
      Jobs.fold(jobId, ev)
      foldMs = (System.nanoTime() - g0) / 1e6
    }
    val tableBytes = mapped.map { case (_, t) =>
      before.collect { case (k, (n, _))
        if k.startsWith(t.name + "/") && LakeFiles.isData(k) => n }.sum
    }.sum
    JobOutcome(jobId, t2 - t0, enqueueMs,
      run.state.status == JobStatus.Completed, ev,
      ev.count(_.eventName == JobEventName.ObjectUpdated).toLong,
      ev.count(e => e.eventName == JobEventName.ObjectUpdateFailed ||
        e.eventName == JobEventName.ObjectRollbackFailed).toLong,
      rows, ev.filter(_.eventName == JobEventName.ObjectUpdated)
        .map(_.statsProcessed).sum,
      tableBytes, changed.toSeq.map(before(_)._1).sum,
      changed.toSeq.map(after(_)._1).sum, feedMs, foldMs,
      before.keys.count(LakeFiles.isData).toLong)
  }

  def oracle(spark: SparkSession, master: Path, work: Path): Seq[String] = {
    val simple = applied.collect {
      case DeletionQueueItem(_, MatchId.Simple(v), _, _, _) => v
    }.toSeq
    val keys = simple.map(_.toLong)
    val composite = applied.collect {
      case DeletionQueueItem(_, MatchId.Composite(p), _, _, _) =>
        (p("c_name"), p("c_phone"))
    }.toSeq
    def pq(t: String) = (spark.read.parquet(master.resolve(t).toString),
      spark.read.parquet(work.resolve(t).toString))
    def rows(t: String, m: DataFrame => Column): Seq[String] = {
      val (a, b) = pq(t)
      Oracle.rows(t, a, b, m)
    }
    val tables =
      rows("customer", d => composite.foldLeft(
        d("c_custkey").isin(keys: _*) || d("c_name").isin(simple: _*) ||
          d("c_phone").isin(simple: _*)) { case (acc, (n, p)) =>
          acc || (d("c_name") === n && d("c_phone") === p)
        }) ++
        rows("orders", _("o_custkey").isin(keys: _*)) ++ {
          val gone = keys.toSet
          def read(p: Path) = spark.read.text(p.resolve("events").toString)
            .collect().map(_.getString(0)).toSeq
          Oracle.lines("events", read(master).filterNot(l =>
            gone.contains(jsonUser(l))), read(work))
        }
    val masterRows = rowCount(spark, master)
    val workRows = rowCount(spark, work)
    val counted =
      if (masterRows - workRows == reportedErased) Nil
      else Seq(s"jobs reported $reportedErased rows erased, the lake lost " +
        s"${masterRows - workRows}")
    tables ++ Oracle.debris(work) ++ counted
  }

  private def rowCount(spark: SparkSession, root: Path): Long =
    mapped.map { case (_, t) =>
      val p = root.resolve(t.name).toString
      t.format match {
        case DataFormat.Parquet => spark.read.parquet(p).count()
        case DataFormat.JsonLines => spark.read.text(p).count()
      }
    }.sum
}

object Deletion {
  val WarmUpJobs = 6
  val BacklogPresent = 4
  val BacklogComposite = 3
  val BacklogAbsent = 200
  /** Absent keys are drawn from [AbsentBase, 2 * AbsentBase], far above
    * every generated id. */
  val AbsentBase = 1000000000L

  val EventsJsonSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts", LongType), StructField("kind", StringType),
    StructField("detail", StringType)))

  private val UserField = "\"user_id\":(\\d+)".r.unanchored

  /** The user id of a raw JSON line, parsed without the engine. */
  def jsonUser(line: String): Long = line match {
    case UserField(v) => v.toLong
    case _ => throw new IllegalStateException(s"no user_id in: $line")
  }

  def erased(ev: Seq[JobEvent]): Long =
    ev.filter(_.eventName == JobEventName.ObjectUpdated)
      .map(_.statsDeleted).sum
}
