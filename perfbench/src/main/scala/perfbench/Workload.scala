package perfbench

import graft.model.JobEvent
import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** One measured job (a deletion job, or a curation pass), as the
  * benchmark saw it. Times in ms; byte sizes from directory listings.
  *
  * @param tableBytes  bytes of the mapped tables, summed over each Find
  *                    query the job ran (the denominator of the scan ratio)
  * @param bytesBefore size of the rewritten objects before the job
  * @param bytesAfter  their size after it */
final case class JobOutcome(
    id: String, wallMs: Long, enqueueMs: Double, completed: Boolean,
    events: Seq[JobEvent], objectsUpdated: Long, objectsFailed: Long,
    rowsErased: Long, rowsProcessed: Long, tableBytes: Long,
    bytesBefore: Long, bytesAfter: Long, feedMs: Double = 0.0,
    foldMs: Double = 0.0, objectsInTables: Long = 0L)

/** A benchmark workload: seeded master inputs, a repeatable set-up, a
  * closed-loop unit of work and an oracle that does not use engine code. */
trait Workload {
  def name: String
  /** Writes the seed's master inputs under `master`. */
  def generate(spark: SparkSession, master: Path): Unit
  /** Input properties printed with every run (objects, bytes, rows, ...). */
  def describe(spark: SparkSession, master: Path): Seq[(String, String)]
  /** One set-up round: a fresh working copy of the master, ready for
    * work. The last round's copy is the one measured. */
  def setupRound(spark: SparkSession, master: Path, work: Path, round: Int): Unit
  /** Untimed warm-up work on the measured copy (first-run compilation
    * and class loading); counted in set-up time. */
  def warmUp(spark: SparkSession, master: Path, work: Path): Unit
  /** Runs the next job (or pass) of the closed loop. */
  def runOne(spark: SparkSession, master: Path, work: Path, i: Int,
             traced: Boolean, spans: SpanLog,
             listener: BenchListener): JobOutcome
  /** Violations of the expected final state; empty when correct. */
  def oracle(spark: SparkSession, master: Path, work: Path): Seq[String]
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "backlog" => new Deletion(name, seed)
    case "curate" => new Curate(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (backlog, curate)")
  }
}
