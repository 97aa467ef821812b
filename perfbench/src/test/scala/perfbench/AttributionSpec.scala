package perfbench

import graft.model.{JobEvent, JobEventName => E}
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {

  private def site(frames: String*) = frames.mkString("\n")

  test("Spark jobs map to layers by the innermost engine frame") {
    val find = site(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
      "graft.driver.JobRunner$.graft$driver$JobRunner$$runFind$1(JobRunner.scala:123)",
      "graft.driver.JobRunner$$anon$1.run(JobRunner.scala:172)")
    assert(Attribution.layerOf("collect at JobRunner.scala:123", find, "") ==
      "find.scan")
    val rewrite = site(
      "org.apache.spark.rdd.RDD.collect(RDD.scala:1056)",
      "graft.forget.DistributedRewrite$.runWith(DistributedRewrite.scala:580)",
      "graft.driver.JobRunner$.run(JobRunner.scala:193)")
    assert(Attribution.layerOf("collect at DistributedRewrite.scala:580",
      rewrite, "") == "forget.rewrite")
    assert(Attribution.layerOf("foreach at DistributedRewrite.scala:705",
      rewrite.replace("collect", "foreach"), "") == "forget.sweep")
    val scrubFind = site(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
      "app//graft.llm.PiiForget$.findObjects(PiiForget.scala:72)")
    assert(Attribution.layerOf("collect at PiiForget.scala:72", scrubFind,
      "scrub") == "llm.pii_find", "class-loader prefix is ignored")
    val dedup = site(
      "org.apache.spark.sql.classic.Dataset.toLocalIterator(Dataset.scala:1)",
      "graft.llm.DedupForget$.forgetIds(DedupForget.scala:95)")
    assert(Attribution.layerOf("toLocalIterator at DedupForget.scala:95",
      dedup, "near_dup") == "llm.near_dup")
    assert(Attribution.layerOf("count at Deletion.scala:9",
      site("org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1)",
        "perfbench.Deletion.oracle(Deletion.scala:9)"), "") == "bench")
  }

  test("a call site with no engine or benchmark frame is unattributed") {
    val pool = site(
      "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)",
      "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)")
    assert(Attribution.layerOf("", pool, "") == Attribution.Unattributed)
    assert(Attribution.layerOf("", "", "") == Attribution.Unattributed)
    // an llm frame outside any benchmark step has no layer to name
    assert(Attribution.layerOf("", site("graft.llm.Dedup$.x(Dedup.scala:1)"),
      "") == Attribution.Unattributed)
  }

  test("self time subtracts the union of child spans") {
    val log = new SpanLog
    val root = log.add("job", 0, 100, -1, "j")
    log.add("a", 10, 40, root, "j")
    log.add("b", 30, 60, root, "j")
    log.add("c", 90, 120, root, "j") // clipped to the parent
    val all = log.all
    assert(Spans.unionMs(Seq((10L, 40L), (30L, 60L), (90L, 120L))) == 80)
    assert(Spans.selfMs(all(root), all) == 100 - 50 - 10)
  }

  test("a job's spans come from its events and its Spark jobs") {
    def ev(name: String, at: Long, took: Long = 0) =
      JobEvent("j", f"$at%013d#1", name, at, timeTakenMs = took)
    val events = Seq(ev(E.JobStarted, 1000), ev(E.FindPhaseStarted, 1001),
      ev(E.QueryPlanningComplete, 1001), ev(E.QuerySucceeded, 1500, 495),
      ev(E.FindPhaseEnded, 1502), ev(E.ForgetPhaseStarted, 1502),
      ev(E.ObjectUpdated, 1800), ev(E.ForgetPhaseEnded, 1810),
      ev(E.CleanupSucceeded, 1811))
    def job(id: Int, short: String, frame: String, s: Long, e: Long,
            exec: String = "") = {
      val r = new SparkJobRecord(id, s, short, frame, "j", "", exec, Seq(id))
      r.endMs = e
      r
    }
    val spark = Seq(
      job(1, "collect at JobRunner.scala:1",
        "graft.driver.JobRunner$.runFind$1(JobRunner.scala:1)", 1100, 1300, "7"),
      job(2, "collect at JobRunner.scala:1",
        "graft.driver.JobRunner$.runFind$1(JobRunner.scala:1)", 1310, 1400, "7"),
      job(3, "collect at DistributedRewrite.scala:1",
        "graft.forget.DistributedRewrite$.runWith(DistributedRewrite.scala:1)",
        1550, 1780),
      job(4, "foreach at DistributedRewrite.scala:2",
        "graft.forget.DistributedRewrite$.runWith(DistributedRewrite.scala:2)",
        1780, 1800))
    val log = new SpanLog
    val call = log.add("api.start_job", 995, 1815, -1, "j")
    JobSpans.derive(log, log.all(call), events, spark)
    val byName = log.all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(_.dur).sum }
    assert(byName("find.plan") == 1100 - 1005)
    assert(byName("find.scan") == 1400 - 1100)
    assert(byName("find.stats") == 1500 - 1400)
    assert(byName("forget.rewrite") == 230)
    assert(byName("forget.sweep") == 20)
    assert(byName("driver.find_phase") == 501)
    assert(byName("driver.cleanup") == 1)
    val all = log.all
    assert(Spans.selfMs(all(call), all) == 0, "phases tile the call")
  }
}
