package graft.forget

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.catalog.TableDef
import graft.driver.JobRunner
import graft.find.Finder
import graft.model._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame

/** Strategy that fails the way a full disk does: the staging write dies
  * midway with an IOException AFTER a partial staged file landed.
  * NonFatal → the task catches it, fails the OBJECT, the job goes on. */
private class DiskFullDuringStaging(
    specs: Seq[DistributedRewrite.TaskGroupSpec], victimName: String)
    extends DistributedRewrite.TaskRewrite {
  private val inner = new DistributedRewrite.DeleteRewrite(specs)
  def parquet(conf: Configuration, src: HPath,
              staged: HPath): (Long, Long) = {
    if (src.getName == victimName) {
      val fs = staged.getFileSystem(conf)
      val out = fs.create(staged, true)
      try out.write("partial".getBytes("UTF-8")) finally out.close()
      throw new java.io.IOException("No space left on device (injected)")
    }
    inner.parquet(conf, src, staged)
  }
  def json(conf: Configuration, src: HPath, staged: HPath): (Long, Long) =
    inner.json(conf, src, staged)
  def zeroChangeMessage(path: String): String =
    inner.zeroChangeMessage(path)
}

/** Strategy whose victim dies FATALLY (InterruptedException is outside
  * NonFatal) — the in-JVM stand-in for the container OOM-kill: the
  * task's catch never sees it, Spark fails the task, the whole forget
  * stage aborts. The reference documents the per-object memory bound
  * (docs/LIMITS.md: objects must fit the Fargate task's memory) and
  * survives a worker death via SQS redelivery. */
private class FatalTaskDeath(
    specs: Seq[DistributedRewrite.TaskGroupSpec], victimName: String)
    extends DistributedRewrite.TaskRewrite {
  private val inner = new DistributedRewrite.DeleteRewrite(specs)
  def parquet(conf: Configuration, src: HPath,
              staged: HPath): (Long, Long) = {
    if (src.getName == victimName)
      throw new InterruptedException("task killed (injected OOM analog)")
    inner.parquet(conf, src, staged)
  }
  def json(conf: Configuration, src: HPath, staged: HPath): (Long, Long) =
    inner.json(conf, src, staged)
  def zeroChangeMessage(path: String): String =
    inner.zeroChangeMessage(path)
}

/** Resource-exhaustion sweep — the ninth robustness class (★r20,
  * VERDICT r19 #7). The axis: what happens when the MACHINE gives out
  * mid-forget, not the data. Pinned contracts:
  *
  *   - disk-full during a staging write fails the OBJECT loudly
  *     (ObjectUpdateFailed carries the IOException), never the job:
  *     sibling objects commit, the partial staged file is reclaimed by
  *     the post-job sweep, and the victim is byte-identical — at
  *     reference scale this is ENOSPC on one worker's scratch volume,
  *     which must cost one redelivery, not a 45k-object job.
  *   - a FATAL task death (the OOM-kill analog — outside NonFatal, so
  *     per-object isolation CANNOT catch it) aborts the forget stage;
  *     the driver maps it to ForgetPhaseFailed → FORGET_FAILED with
  *     the cause in the event log, the engine JVM survives, and a
  *     healthy RE-RUN converges to the exact clean output (fresh Find
  *     skips committed objects; the dead run's leaked markers and
  *     staging are reclaimed by the re-run's post-job directory pass).
  */
class ResourceExhaustionSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def putObject(lake: String, name: String,
                        df: DataFrame): String = {
    val part = stageParquetFile(df)
    val dst = Paths.get(lake, name)
    Files.copy(Paths.get(part), dst)
    dst.toString
  }

  private def freshLake(): (String, String, String) = {
    val lake = Files.createTempDirectory("graft-exhaust-lake-").toString
    val o1 = putObject(lake, "o1.parquet",
      Seq((7L, "m1"), (2L, "k1")).toDF("customer_id", "x"))
    val o2 = putObject(lake, "o2.parquet",
      Seq((7L, "m2"), (3L, "k2")).toDF("customer_id", "x"))
    (lake, o1, o2)
  }

  private def groupsFor(schema: org.apache.spark.sql.types.StructType) =
    Finder.plan(DataMapper("m", "t", Seq("customer_id")),
      TableDef("t", "", DataFormat.Parquet, schema),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))))

  private def listLake(lake: String): Seq[String] =
    Files.list(Paths.get(lake)).iterator().asScala.toSeq
      .map(_.getFileName.toString).sorted

  test("disk-full during staging: the OBJECT fails loudly with the " +
    "IOException, siblings commit, partial staged file reclaimed, " +
    "victim byte-identical") {
    val (lake, o1, o2) = freshLake()
    val schema = spark.read.parquet(o1).schema
    val groups = groupsFor(schema)
    val specs =
      DistributedRewrite.buildSpecs(Finder.typedGroups(spark, groups))
    val before = readFileBytes(o2)

    val events = DistributedRewrite.runWith(spark, "jfull",
      Seq(ObjectWorkUnit("jfull", o1, "m", DataFormat.Parquet, false),
        ObjectWorkUnit("jfull", o2, "m", DataFormat.Parquet, false)),
      new DiskFullDuringStaging(specs, "o2.parquet"))

    val byPath = events.map(e => e.path -> e).toMap
    assert(byPath(o1).eventName == JobEventName.ObjectUpdated)
    assert(byPath(o2).eventName == JobEventName.ObjectUpdateFailed)
    assert(byPath(o2).error.contains("No space left on device"))
    assert(readFileBytes(o2).sameElements(before))
    // post-job sweep reclaimed the partial staged file (own tag)
    assert(!listLake(lake).exists(_.startsWith(".graft-staging-")),
      s"partial staged file leaked: ${listLake(lake)}")
  }

  test("fatal task death (OOM-kill analog): forget stage aborts, " +
    "driver folds FORGET_FAILED with the cause, JVM survives, and a " +
    "healthy re-run converges to the exact clean output") {
    val (lake, o1, o2) = freshLake()
    val schema = spark.read.parquet(o1).schema
    val groups = groupsFor(schema)
    val specs =
      DistributedRewrite.buildSpecs(Finder.typedGroups(spark, groups))

    // the abort path at the DistributedRewrite layer: a fatal error is
    // invisible to the task's NonFatal isolation, so collect() throws —
    // loudly, with the cause in the chain
    val thrown = intercept[Exception] {
      DistributedRewrite.runWith(spark, "jkill",
        Seq(ObjectWorkUnit("jkill", o1, "m", DataFormat.Parquet, false),
          ObjectWorkUnit("jkill", o2, "m", DataFormat.Parquet, false)),
        new FatalTaskDeath(specs, "o2.parquet"))
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
    assert(chain(thrown).exists(_.contains("injected OOM analog")),
      s"abort cause lost: ${chain(thrown)}")

    // the driver layer: a forget-phase failure must FOLD, never
    // propagate — ForgetPhaseFailed in the event log → FORGET_FAILED
    // (status_updater semantics, pinned end-to-end here via a
    // driver-side injection inside the forget phase)
    val (lake2, _, _) = freshLake()
    val run = JobRunner.run(spark, "jkill2",
      Seq(DataMapper("m", "t", Seq("customer_id")) ->
        TableDef("t", lake2, DataFormat.Parquet, schema)),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))),
      outPathFor = _ =>
        throw new RuntimeException("forget dispatch died (injected)"))
    assert(run.state.status == JobStatus.ForgetFailed,
      s"expected FORGET_FAILED, got ${run.state.status}")
    val phaseFail =
      run.events.filter(_.eventName == JobEventName.ForgetPhaseFailed)
    assert(phaseFail.nonEmpty &&
      phaseFail.head.error.contains("forget dispatch died"))

    // convergence: whatever the dead run left behind (committed o1?
    // leaked marker? staging orphan?), a healthy re-run over the lake
    // lands on the exact clean-run output with zero debris
    val rerun = JobRunner.run(spark, "jrecover",
      Seq(DataMapper("m", "t", Seq("customer_id")) ->
        TableDef("t", lake, DataFormat.Parquet, schema)),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))))
    assert(rerun.state.status == JobStatus.Completed,
      s"re-run after fatal death did not converge: ${rerun.state.status}")
    val rows = spark.read.parquet(lake).as[(Long, String)].collect().toSet
    assert(rows == Set((2L, "k1"), (3L, "k2")))
    assert(!listLake(lake).exists(_.startsWith(".graft-staging-")),
      s"dead run's staging leaked through recovery: ${listLake(lake)}")
    // the re-run's post-job directory pass cleared every marker the
    // dead run may have leaked (its own sweep never ran): zero debris
    assert(!listLake(lake).contains(".graft-done"),
      s"dead-job markers leaked through recovery: ${listLake(lake)}")
  }
}
