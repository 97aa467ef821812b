package graft.tools

import graft.llm.Dedup
import graft.tools.Session.timed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-margin soak for the three heavy dedup shapes (q29 all-pairs
  * Jaccard, q31 duplicate clusters, q34 cross-corpus decontamination)
  * on a deliberately SKEWED synthetic corpus — the hot-shingle and
  * convergence paths the 100 TB design leans on, exercised at growing
  * scale so the growth curve (not a single point) is the evidence.
  *
  * The corpus plants exactly the two adversarial structures the
  * operators guard against:
  *
  *   - a shared boilerplate prefix on 20% of docs — at 10× that is a
  *     census-scale hot shingle set (tens of thousands of docs per
  *     16-gram key), the shape that melts a naive shingle join; the
  *     AllPairs prefix filter + census salting must keep candidate
  *     counts bounded and output-invariant (no boilerplate pair
  *     crosses the 0.8 threshold: ~65 shared windows of ~285).
  *   - near-duplicate families of 3 (one base + two one-token edits)
  *     every 50 docs, giving clusters whose COUNT grows linearly with
  *     the corpus while each stays constant-size — duplicateClusters'
  *     round count must stay flat (O(log n) bound, measured exactly
  *     via [[Dedup.duplicateClustersWithRounds]], which counts the
  *     large-star/small-star rounds run before the edge set is a star
  *     forest: no confirmation round, 0 for an input already in star
  *     form).
  *
  * Sub-quadratic growth criterion: all-pairs Jaccard over k× docs has
  * k² naive pairs, so wall-time ratio t(k×)/t(1×) well under k² (and
  * near k) demonstrates the candidate pruning holds; flat CC rounds
  * demonstrate convergence does not degrade. Scales are multipliers
  * of the 5,000-doc sf0.1 documents shape (default "1,10"). The
  * `dedup-hotkey` tier ([[runHotKey]]) prices the value-skew corpus's
  * quadratic-output candidate stage separately. */
object DedupSoak {

  /** The 5,000-doc sf0.1 documents shape every scale multiplies. */
  private val BaseDocs = 5000L

  /** Deterministic skewed corpus: `n` docs of ~50 six-char tokens.
    * Docs `f, f+1, f+2` for `f % 50 == 0` form a near-dup family
    * (members differ from the base in the LAST token only); docs with
    * `id % 5 == 3` carry the shared boilerplate prefix. Generation is
    * per-partition deterministic (seeded by doc id) — no driver-side
    * materialization, no global RNG. */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val boiler = "standard corpus boilerplate header attached verbatim " +
      "to one in five documents for the hot shingle census path"
    spark.range(n).mapPartitions { ids =>
      ids.map { boxed =>
        val id: Long = boxed
        val family = id - (id % 50) // base doc of the family, if any
        val inFamily = (id % 50) < 3
        val seedId = if (inFamily) family else id
        val rnd = new java.util.Random(seedId * 0x9e3779b97f4a7c15L)
        val toks = Array.fill(50) {
          val w = new Array[Char](6)
          var i = 0
          while (i < 6) { w(i) = ('a' + rnd.nextInt(26)).toChar; i += 1 }
          new String(w)
        }
        // family members perturb the final token (distinct per member)
        if (inFamily && id != family) toks(49) = s"edit${id % 50}xx"
        val body = toks.mkString(" ")
        val text = if (id % 5 == 3) s"$boiler $body" else body
        (id, text)
      }
    }.toDF("doc_id", "text")
  }

  /** Adversarial VALUE-skew corpus: 10% of docs are BYTE-IDENTICAL
    * (the 100 TB reality of licenses and boilerplate pages), the rest
    * random. Every shingle of the clone
    * text is an ultra-hot key whose census df equals the clone count —
    * the shape that melts an unsalted prefix self-join into one
    * p²-enumerating task. */
  def hotCorpus(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val license = "permission is hereby granted free of charge to any " +
      "person obtaining a copy of this software and associated " +
      "documentation files to deal in the software without restriction " +
      "including without limitation the rights to use copy modify merge " +
      "publish distribute sublicense and or sell copies of the software " +
      "and to permit persons to whom the software is furnished to do so"
    spark.range(n).mapPartitions { ids =>
      ids.map { boxed =>
        val id: Long = boxed
        if (id % 10 == 0) (id, license)
        else {
          val rnd = new java.util.Random(id * 0x9e3779b97f4a7c15L)
          val toks = Array.fill(50) {
            val w = new Array[Char](6)
            var i = 0
            while (i < 6) { w(i) = ('a' + rnd.nextInt(26)).toChar; i += 1 }
            new String(w)
          }
          (id, toks.mkString(" "))
        }
      }
    }.toDF("doc_id", "text")
  }

  /** The VALUE-skew tier: asserts, at each scale, that (a) the linear
    * [[Dedup.exactDuplicates]] path collapses the clone mass into one
    * bounded-roster cluster, (b) the salted prefix index keeps every
    * (key, salt) LEFT-side group ~saltBlock regardless of the clone
    * count (max load + the hottest key's salt fan-out, read off
    * [[Dedup.censusPrefixIndex]] with the salt assignment of
    * [[Dedup.selfJoinCandidates]]' left side — a left group enumerates
    * against the key's full entry list, so its size caps a task's
    * enumeration), and (c) the candidate stage's time scales with its
    * OUTPUT (clone pairs are quadratic in the clone count BY DEFINITION
    * of all-pairs semantics — the claim is per-candidate flatness and
    * bounded groups, not sub-quadratic output). Hard `require`s — a
    * violated bound kills the soak. */
  def runHotKey(spark: SparkSession, scales: Seq[Int],
                args: Seq[String]): Unit = {
    val saltBlock = 2048
    val report = new Soak.Report("dedup-hotkey")
    // the census → prefix-index stage of jaccardPairsExact's defaults
    def prefixStage(docs: DataFrame) = Dedup.censusPrefixIndex(docs,
      "doc_id", "text", shingleLen = 16, threshold = 0.8,
      commonShingleCap = 100000, censusSampleFraction = 1.0,
      saltBlock = saltBlock, maxSalts = 64)
    scales.foreach { k =>
      val n = BaseDocs * k
      val clones = n / 10
      val docs = hotCorpus(spark, n).persist()
      docs.count()

      // (a) the production path for byte-identical mass duplication
      val ((dupClusters, biggest), tExact) = timed {
        val d = Dedup.exactDuplicates(docs, "doc_id", "text").collect()
        (d.length.toLong, d.map(_.getAs[Long]("copies")).max)
      }
      require(biggest == clones,
        s"hotkey($k): exactDuplicates saw $biggest copies, want $clones")

      // (b) salted-group bound: max LEFT load and hottest fan-out
      val ((saltRow, releaseSalt), tSalt) = timed {
        val (prefix, cleanup) = prefixStage(docs)
        (prefix.groupBy(col("_g"), col("_ns"),
            pmod(xxhash64(col("_id")), col("_ns")).cast("int").as("_salt"))
          .agg(count(lit(1)).as("load"))
          .agg(max(col("load")).as("maxload"),
            max(col("_ns")).as("maxns"))
          .head(), cleanup)
      }
      releaseSalt()
      val maxLoad = saltRow.getLong(0)
      val maxNs = saltRow.getInt(1)
      val expNs = math.min(64L, 1L + clones / saltBlock).toInt
      require(maxNs == expNs,
        s"hotkey($k): hottest salt fan-out $maxNs, want $expNs")
      require(maxLoad <= 2L * saltBlock,
        s"hotkey($k): max (key,salt) left load $maxLoad breaches " +
          s"2*saltBlock=${2 * saltBlock}")

      // (c) candidate stage over the skewed corpus
      val ((nCand, releaseCand), tCand) = timed {
        val (prefix, cleanup) = prefixStage(docs)
        (Dedup.selfJoinCandidates(prefix, 0.8).count(), cleanup)
      }
      releaseCand()
      val clonePairs = clones * (clones - 1) / 2
      require(nCand >= clonePairs && nCand <= clonePairs + n,
        s"hotkey($k): $nCand candidates, want ~$clonePairs")

      docs.unpersist()
      report.scale(k, Map("docs" -> n.toDouble, "clones" -> clones.toDouble,
        "exact_sec" -> tExact.wall, "dup_clusters" -> dupClusters.toDouble,
        "max_salt_load" -> maxLoad.toDouble, "max_ns" -> maxNs.toDouble,
        "salt_sec" -> tSalt.wall, "cand_rows" -> nCand.toDouble,
        "cand_sec" -> tCand.wall))
    }
    val r = report.ratios()
    // per-candidate flatness: time grows no faster than ~1.5x the
    // output growth (the output IS quadratic in clones by all-pairs
    // semantics; a salted-group failure would show up as
    // time >> output growth when one task serializes the hot key)
    if (r.nonEmpty) println(Soak.line("tier" -> "dedup-hotkey",
      "per_candidate_flat" -> (r("cand_sec") <= 1.5 * r("cand_rows"))))
  }

  def run(spark: SparkSession, scales: Seq[Int], args: Seq[String]): Unit = {
    val report = new Soak.Report("dedup")
    scales.foreach { k =>
      val n = BaseDocs * k
      val docs = corpus(spark, n).persist()
      docs.count() // materialize OUTSIDE the timed sections

      val ((pairsDf, nPairs), tPairs) = timed {
        val p = Dedup.jaccardPairsExact(docs, "doc_id", "text",
          shingleLen = 16, threshold = 0.8).persist()
        (p, p.count())
      }

      val ((nClusters, rounds), tCc) = timed {
        val (cc, r) = Dedup.duplicateClustersWithRounds(
          pairsDf, "id_a", "id_b")
        (cc.count(), r)
      }

      val (nCross, tCross) = timed {
        Dedup.jaccardJoinExact(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", shingleLen = 16, threshold = 0.8).count()
      }
      pairsDf.unpersist()
      docs.unpersist()
      Dedup.releaseCaches()

      report.scale(k, Map(
        "docs" -> n.toDouble, "pairs_sec" -> tPairs.wall,
        "pairs_rows" -> nPairs.toDouble,
        "cc_sec" -> tCc.wall, "cc_rounds" -> rounds.toDouble,
        "cc_rows" -> nClusters.toDouble,
        "cross_sec" -> tCross.wall, "cross_rows" -> nCross.toDouble))
    }

    // CC round-count growth on the ADVERSARIAL cluster shape: one long
    // CHAIN (diameter n-1, the worst case for star-contraction; each
    // family above is a triangle, one round away from a star, so the
    // family corpus reports 1 round regardless of scale).
    // Expect rounds ~ O(log n): doubling the chain adds ~1 round.
    val chainRounds = Seq(1000, 10000, 100000).map { n =>
      val pairs = spark.range(n - 1)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val ((rows, rounds), sec) = timed {
        val (cc, r) = Dedup.duplicateClustersWithRounds(
          pairs, "id_a", "id_b")
        (cc.count(), r)
      }
      require(rows == n, s"chain($n) lost members: $rows")
      println(Soak.line("tier" -> "dedup", "cc_chain" -> n,
        "rounds" -> rounds, "sec" -> sec.wall))
      rounds
    }
    println(Soak.line("tier" -> "dedup", "cc_chain_rounds" -> chainRounds))

    val r = report.ratios()
    if (r.nonEmpty) {
      val kRatio = r("docs")
      println(Soak.line("tier" -> "dedup",
        "subquadratic" -> (r("pairs_sec") < kRatio * kRatio &&
          r("cross_sec") < kRatio * kRatio)))
    }
  }
}
