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
  */
object Plans {
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
        val plan = e.inGroup(spark)(e.run(spark, dir))
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
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
