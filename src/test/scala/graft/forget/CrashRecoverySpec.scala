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

/** A [[DistributedRewrite.TaskRewrite]] that performs the REAL deletion
  * rewrite but dies immediately after the staging write when the source
  * is `victimName` — the crash-between-stage-and-swap window (★r20,
  * VERDICT r19 #3). InterruptedException sits OUTSIDE NonFatal, so the
  * task's per-object isolation cannot catch it and the stage aborts
  * before any post-job sweep — the in-JVM shape of a worker dying with
  * a staged file on disk. The reference survives the same window
  * through SQS redelivery + version integrity (s3.py:301-357); our
  * analog: the object is untouched (the swap never ran), the staging
  * sibling is an invisible orphan, and the NEXT run's Find
  * re-dispatches the object and reclaims the orphan. Top-level class
  * so the task closure serializes without an outer spec reference. */
private class CrashAfterStaging(specs: Seq[DistributedRewrite.TaskGroupSpec],
                                victimName: String)
    extends DistributedRewrite.TaskRewrite {
  private val inner = new DistributedRewrite.DeleteRewrite(specs)
  def parquet(conf: Configuration, src: HPath,
              staged: HPath): (Long, Long) = {
    val r = inner.parquet(conf, src, staged)
    if (src.getName == victimName)
      throw new InterruptedException(
        "injected crash between staging write and swap")
    r
  }
  def json(conf: Configuration, src: HPath, staged: HPath): (Long, Long) =
    inner.json(conf, src, staged)
  def zeroChangeMessage(path: String): String =
    inner.zeroChangeMessage(path)
}

/** Crash-axis sweep of the commit protocol — the eighth robustness
  * class (★r20, VERDICT r19 #3). Clean-run integrity and rollback are
  * pinned by ForgetSpec/VersionedStoreSpec; what this spec pins is the
  * UNCLEAN exit: a task that dies BETWEEN its staging write and its
  * swap, and a re-run over the resulting half-committed batch.
  *
  * Contract:
  *   - the crash leaves the object byte-identical (the swap is the
  *     only mutation, and it never ran) and the staging sibling
  *     invisible to readers (dot-prefixed);
  *   - a re-run converges to the exact clean-run output: the fresh
  *     Find no longer matches the committed objects (no spurious
  *     ZeroDeletionError), rewrites the crashed one, and reclaims the
  *     dead run's staging orphan;
  *   - the post-job DIRECTORY pass (one listing per parent directory,
  *     never per-object — O(N²) listings at 40k co-located objects is
  *     the documented marker-sweep trap) reclaims ALL dead debris in
  *     the directories the job touched: its own retry leftovers, dead
  *     runs' orphans, and dead runs' leaked markers — all dead by the
  *     one-concurrent-job invariant.
  */
class CrashRecoverySpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def putObject(lake: String, name: String,
                        df: DataFrame): String = {
    val part = stageParquetFile(df)
    val dst = Paths.get(lake, name)
    Files.copy(Paths.get(part), dst)
    dst.toString
  }

  /** Two-object lake: match id 7 lives in BOTH objects. */
  private def freshLake(): (String, String, String) = {
    val lake = Files.createTempDirectory("graft-crash-lake-").toString
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

  private def stagingSiblings(lake: String): Seq[String] =
    listLake(lake).filter(_.startsWith(".graft-staging-"))

  test("crash between staging write and swap: job aborts loudly, " +
    "object byte-identical, orphan on disk but invisible to readers") {
    val lake = Files.createTempDirectory("graft-crash-lake-").toString
    val o2 = putObject(lake, "o2.parquet",
      Seq((7L, "m2"), (3L, "k2")).toDF("customer_id", "x"))
    val schema = spark.read.parquet(o2).schema
    val groups = groupsFor(schema)
    val specs =
      DistributedRewrite.buildSpecs(Finder.typedGroups(spark, groups))
    val before = readFileBytes(o2)

    intercept[Exception] {
      DistributedRewrite.runWith(spark, "jcrash",
        Seq(ObjectWorkUnit("jcrash", o2, "m", DataFormat.Parquet, false)),
        new CrashAfterStaging(specs, "o2.parquet"))
    }

    // the victim never swapped: byte-identical source
    assert(readFileBytes(o2).sameElements(before),
      "crashed object mutated — the swap window leaked")
    // ... while its staging orphan is on disk, dot-prefixed (the
    // post-job sweep never ran: the stage aborted)
    assert(stagingSiblings(lake).count(_.endsWith("-o2.parquet")) == 1,
      s"expected exactly one o2 staging orphan in ${listLake(lake)}")
    // readers see the UNTOUCHED object only — the orphan's survivor
    // rows must not double-count
    val visible = spark.read.parquet(lake)
      .as[(Long, String)].collect().toSet
    assert(visible == Set((7L, "m2"), (3L, "k2")))
  }

  test("re-run over the half-committed batch converges to the exact " +
    "clean-run output and reclaims the dead run's orphan (JobRunner " +
    "E2E: fresh Find skips committed objects — no ZeroDeletionError)") {
    val (lake, o1, o2) = freshLake()
    val schema = spark.read.parquet(o1).schema
    val groups = groupsFor(schema)
    val specs =
      DistributedRewrite.buildSpecs(Finder.typedGroups(spark, groups))
    intercept[Exception] {
      DistributedRewrite.runWith(spark, "jcrash",
        Seq(ObjectWorkUnit("jcrash", o1, "m", DataFormat.Parquet, false),
          ObjectWorkUnit("jcrash", o2, "m", DataFormat.Parquet, false)),
        new CrashAfterStaging(specs, "o2.parquet"))
    }
    assert(stagingSiblings(lake).nonEmpty)

    // control: the same lake content through one CLEAN run
    val (controlLake, c1, c2) = freshLake()
    val cleanRun = JobRunner.run(spark, "jcontrol",
      Seq(DataMapper("m", "t", Seq("customer_id")) ->
        TableDef("t", controlLake, DataFormat.Parquet, schema)),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))))
    assert(cleanRun.state.status == JobStatus.Completed)

    // the re-run: a FRESH Find over the half-committed lake matches
    // only the crashed object (o1's id-7 row is already gone), so the
    // committed sibling is never re-dispatched — the redelivery
    // convergence the reference gets from SQS + generate_queries
    val rerun = JobRunner.run(spark, "jrerun",
      Seq(DataMapper("m", "t", Seq("customer_id")) ->
        TableDef("t", lake, DataFormat.Parquet, schema)),
      Seq(DeletionQueueItem("q", MatchId.Simple("7"))))
    assert(rerun.state.status == JobStatus.Completed,
      s"re-run did not converge: ${rerun.state.status}")

    // exact clean-run output, and zero commit-protocol debris
    def rows(dir: String): Set[(Long, String)] =
      spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(rows(lake) == rows(controlLake))
    assert(rows(lake) == Set((2L, "k1"), (3L, "k2")))
    assert(stagingSiblings(lake).isEmpty,
      s"dead run's staging orphan not reclaimed: ${listLake(lake)}")
    // the re-run's post-job directory pass also cleared every marker
    // the dead run may have leaked (one list per directory — never a
    // per-object sweep): zero commit-protocol debris of any kind
    assert(!listLake(lake).contains(".graft-done"),
      s"dead-job markers leaked through recovery: ${listLake(lake)}")
  }

  test("post-job directory pass reclaims ALL dead debris in one " +
    "listing: this job's retry leftovers, a dead run's orphan for an " +
    "object it didn't even rewrite, and a dead run's leaked marker") {
    val (lake, o1, o2) = freshLake()
    val schema = spark.read.parquet(o1).schema
    val groups = groupsFor(schema)
    // plant: (a) a leftover staged file carrying the ABOUT-TO-RUN
    // job's tag for o1 (the shape a crashed first attempt leaves when
    // its retry then commits), (b) a dead run's orphan for o2, which
    // this job does NOT rewrite, (c) a dead run's leaked idempotency
    // marker. All three are dead by the one-concurrent-job invariant;
    // the pass reclaims them with ONE directory listing — never a
    // per-object sweep (O(N²) listings at 40k co-located objects).
    val myTag = DistributedRewrite.jobTag("jsweep")
    val foreignTag = DistributedRewrite.jobTag("jdead")
    val uuid = java.util.UUID.randomUUID().toString
    val ownDebris = Paths.get(lake,
      s".graft-staging-$uuid-$myTag-o1.parquet")
    val foreignOrphan = Paths.get(lake,
      s".graft-staging-$uuid-$foreignTag-o2.parquet")
    Files.write(ownDebris, "stale attempt".getBytes("UTF-8"))
    Files.write(foreignOrphan, "dead job".getBytes("UTF-8"))
    Files.createDirectories(Paths.get(lake, ".graft-done"))
    val deadMarker = Paths.get(lake, ".graft-done", "o2.parquet.jdead")
    Files.write(deadMarker, "4,2".getBytes("UTF-8"))

    val events = DistributedRewrite.run(spark, "jsweep",
      Seq(ObjectWorkUnit("jsweep", o1, "m", DataFormat.Parquet, false)),
      groups)
    assert(events.map(_.eventName) == Seq(JobEventName.ObjectUpdated))
    assert(!Files.exists(ownDebris),
      "post-job pass left this job's own staging debris")
    assert(!Files.exists(foreignOrphan),
      "post-job pass left a dead run's staging orphan")
    assert(!Files.exists(deadMarker),
      "post-job pass left a dead run's marker")
    assert(stagingSiblings(lake).isEmpty)
    assert(!listLake(lake).contains(".graft-done"))
    // o2 was untouched by the sweep: its rows are intact
    assert(spark.read.parquet(o2).count() == 2)
  }
}
