package graft.tools

/** Dev-only plan dumper for the optimization rounds: writes each named
  * gate query's `explain("formatted")` output to
  * `<outDir>/<name>_<suffix>.txt` so before/after plan shapes can be
  * committed and diffed (the optimization deliverable). Not part of
  * the gate.
  *
  *   runMain graft.tools.Plans <outDir> <suffix> [query ...]
  *
  * Query args pick entries by exact name ([[graft.SparkEntry.only]]);
  * none = every entry. Uses the Bench env (`SPARK_GRAFT_SF_DIR`,
  * `SPARK_GRAFT_CPUS`) so plans match what the bench runs.
  *
  * Dumps compare across commits as text: the random suffix of each
  * temp dir (`graft-<name>-<digits>`) is written as `<tmp>`, each
  * exchange's `plan_id` (which differs run to run) as `<n>`, and every
  * lineage cut's call site is `Materialize.scala`, so two runs of the
  * same entries dump the same text, and moving lines of an entry does
  * not change its plan. Expression ids (`doc_id#3416L`) are written as
  * `#<id>` and lambda variables (`x_48`) as `x_<n>`: both count the
  * expressions the session built before the entry, so they shift with
  * any change that builds a different number of them first. A JVM
  * lambda's class and identity (`Finder$$$Lambda$4004/0x7f0f…@5769…`,
  * printed by an object operator such as `MapPartitions`) is written as
  * `$Lambda<n>`.
  */
object Plans {
  private val masks = Seq(
    """(graft-[A-Za-z0-9-]*?-)\d+(?=[/\]\s,]|$)""".r -> "$1<tmp>",
    """\[plan_id=\d+\]""".r -> "[plan_id=<n>]",
    """#\d+L?""".r -> "#<id>",
    """\bx_\d+""".r -> "x_<n>",
    """\$Lambda[$\d]*/0x[0-9a-f]+@[0-9a-f]+""".r -> "\\$Lambda<n>")

  /** `plan` with its run-specific tokens replaced (see above). */
  def comparable(plan: String): String =
    masks.foldLeft(plan) { case (p, (re, to)) => re.replaceAllIn(p, to) }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Plans <outDir> <suffix> [query ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val entries = graft.SparkEntry.selected(args.drop(2).toSeq)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session(defaultCpus = 32)
    java.nio.file.Files.createDirectories(outDir)
    // shared artifacts staged exactly like the bench, so consumer
    // entries plan over the same stored frames the bench times
    graft.SparkEntry.stageSharedArtifacts(spark, dir)
    entries.foreach { e =>
      try {
        val plan = comparable(e.inGroup(spark)(e.run(spark, dir))
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.write(
          outDir.resolve(s"${e.name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plans] wrote ${e.name}")
      } catch {
        case ex: Exception =>
          System.err.println(s"[plans] ${e.name} failed: $ex")
      }
    }
    spark.stop()
  }
}
