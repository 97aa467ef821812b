package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.Tag

/** Tag for the full-corpus robustness sweeps — each replays every gate
  * query over a cloned, pathology-planted corpus (minutes apiece; they
  * dominated the 35-min `sbt test` wall). The default `sbt test`
  * EXCLUDES this tag (build.sbt passes `-l graft.Sweeps`) so the
  * edit-compile-test loop stays fast; run the sweeps once per round —
  * and before any commit touching their subject area — via
  * `sbt sweeps` (all tagged tests) or `sbt testAll` (everything). */
object Sweeps extends Tag("graft.Sweeps")

/** Shared driver for the full-gate robustness sweeps (★r20, VERDICT
  * r19 #5). Eight classes so far — null text, ANSI, cardinality,
  * numeric pathology, duplicate ids, pathological tokens, timezone,
  * locale — share one skeleton: clone the corpus with a planted
  * pathology, run ALL gate queries, compare the loud-failure set
  * against an allowlist by set equality (both directions). A new
  * sweep class is a corpus mutator + an allowlist, not another
  * 150-line spec.
  */
trait SweepHarness { self: SparkSpec =>

  /** Every driver-generated table, cloned as one parquet object each
    * (the gate corpora are single-object per table too). */
  val sweepTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Clone `src` into a fresh temp dir, passing each table through
    * `xform(tableName, frame)` — identity for untouched tables. The
    * clone is removed on JVM exit. */
  def cloneCorpus(prefix: String, src: String = "/root/testdata/sf0.001")(
      xform: (String, DataFrame) => DataFrame): String = {
    val dst = Files.createTempDirectory(s"graft-$prefix-")
    sys.addShutdownHook(
      graft.tools.ArtifactStore.deleteRecursively(dst))
    sweepTables.foreach { name =>
      xform(name, spark.read.parquet(s"$src/$name.parquet"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
    }
    dst.toString
  }

  def rootCause(e: Throwable): Throwable = {
    var c = e
    while (c.getCause != null && (c.getCause ne c)) c = c.getCause
    c
  }

  /** Run every gate query against `dir`. Graceless crashes (anything
    * but a message-carrying IllegalArgumentException) must be none,
    * and the set of loud failures must equal `allowedLoud` EXACTLY —
    * a new loud failure can't hide inside the allowed class, and an
    * allowed-loud entry silently starting to "work" gets flagged for
    * re-adjudication. Returns the sweep's wall seconds so callers can
    * pin a linearity ceiling. */
  def sweepGate(dir: String, label: String,
                allowedLoud: Set[String]): Double = {
    val graceless = scala.collection.mutable.ArrayBuffer.empty[String]
    val loud = scala.collection.mutable.Set.empty[String]
    val t0 = System.nanoTime()
    SparkEntry.selected(Nil).foreach { e =>
      val name = e.name
      try { e.run(spark, dir).collect(); () }
      catch {
        case e: Throwable => rootCause(e) match {
          case iae: IllegalArgumentException
            if Option(iae.getMessage).exists(_.trim.nonEmpty) =>
            loud += name
          case rc =>
            graceless += s"$name: ${rc.getClass.getSimpleName}: " +
              s"${Option(rc.getMessage).getOrElse("").take(160)}"
        }
      }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(graceless.isEmpty,
      s"\n${graceless.size} gate queries crash GRACELESSLY on a " +
        s"$label corpus:\n${graceless.mkString("\n")}")
    assert(loud.toSet == allowedLoud,
      s"\nloud-set drift on the $label corpus: unexpectedly loud = " +
        s"${(loud.toSet -- allowedLoud).toSeq.sorted.mkString(", ")}; " +
        s"unexpectedly silent = " +
        s"${(allowedLoud -- loud).toSeq.sorted.mkString(", ")}")
    sec
  }
}
