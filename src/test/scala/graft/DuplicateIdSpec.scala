package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Duplicate-primary-key tolerance sweep (★r19, VERDICT r18 #7) — the
  * fifth proactive robustness class, after null-text
  * (NullToleranceSpec), ANSI parity (AnsiParitySpec), cardinality
  * (EmptyInputSpec) and numeric pathology (VectorPathologySpec).
  *
  * At 100 TB duplicate ids are not hypothetical: a re-run ingest job
  * appends the same partition twice (byte-identical rows, the
  * at-least-once file-landing analog of SQS redelivery), and a broken
  * upstream join lands the same doc_id with DIFFERENT text (the true
  * PK violation). The reference tolerates both shapes — its Find is a
  * WHERE over whatever rows exist and its Forget deletes every row
  * matching the id (duplicates included, `generate_queries.py`
  * semantics); nothing in its pipeline assumes id uniqueness.
  *
  * Pinned contract, every gate query against BOTH corpora:
  *
  *   - NO graceless crash: anything but a message-carrying
  *     IllegalArgumentException is a sweep failure — operators either
  *     absorb the duplicates with row-level semantics (Find/Forget
  *     match rows, aggregations count rows, dedup operators treat the
  *     second copy as one more duplicate) or reject loudly.
  *   - The loud set is pinned by SET EQUALITY both directions, like
  *     the cardinality sweeps — a new loud failure can't hide inside
  *     the allowed class, and an allowed-loud entry silently starting
  *     to "work" gets flagged for re-adjudication.
  *   - Determinism spot-pin: the id-TIE-sensitive derivations (the
  *     hash-of-id-ordered seed sample, the keep-min dedup policies)
  *     yield the same result across two runs on the conflicting
  *     corpus — a duplicate id must not make a fit's seed pick or a
  *     cluster's keeper flap run-over-run.
  */
class DuplicateIdSpec extends SparkSpec with SweepHarness {

  /** Clone of sf0.001 where 10% of documents/embeddings rows land
    * TWICE, byte-identical — the re-run-ingest shape. */
  private lazy val redeliveredDir: String = mkDupDir(conflict = false)

  /** Clone where the duplicated ids carry DIFFERENT payloads (text
    * reversed, vector negated) — the true PK-violation shape. */
  private lazy val conflictDir: String = mkDupDir(conflict = true)

  private def mkDupDir(conflict: Boolean): String =
    cloneCorpus(
      s"dupid-${if (conflict) "conflict" else "redeliver"}") {
      case ("documents", base) =>
        val dup = base.filter(col("doc_id") % 10 === 0)
        base.unionByName(
          if (conflict) dup.withColumn("text", reverse(col("text")))
          else dup)
      case ("embeddings", base) =>
        val dup = base.filter(col("vec_id") % 10 === 0)
        base.unionByName(
          if (conflict)
            dup.withColumn("embedding",
              transform(col("embedding"), x => -x))
          else dup)
      case (_, base) => base
    }

  test("every gate query tolerates byte-identical duplicate ids " +
    "(re-run ingest): no graceless crash, loud set pinned exactly",
    Sweeps) {
    sweepGate(redeliveredDir, "redelivered-duplicate-id", Set.empty)
  }

  test("every gate query tolerates CONFLICTING duplicate ids (true " +
    "PK violation): no graceless crash, loud set pinned exactly",
    Sweeps) {
    sweepGate(conflictDir, "conflicting-duplicate-id", Set.empty)
  }

  test("id-tie-sensitive derivations are run-over-run deterministic " +
    "on the conflicting corpus (seed sample, keep-min dedup)") {
    def canon(name: String): Seq[String] =
      SparkEntry(name).run(spark, conflictDir).collect()
        .map(_.toString).sorted.toSeq
    // q57 consumes the hash-of-id-ordered k-means seed sample (two
    // rows tie on (xxhash64(id), id) when an id repeats); q16/q31 are
    // the keep-min dedup/cluster policies; q32 the deterministic
    // hash-threshold sample over doc_id
    Seq("q57_kmeans", "q16_dedup_exact", "q31_dedup_clusters",
      "q32_det_sample").foreach { name =>
      val a = canon(name)
      graft.llm.Dedup.releaseCaches()
      val b = canon(name)
      graft.llm.Dedup.releaseCaches()
      assert(a == b, s"$name flaps across runs on duplicate ids")
    }
  }
}
