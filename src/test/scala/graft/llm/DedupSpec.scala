package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup operator family: exact, MinHash-LSH, SimHash, embedding-cosine. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 8

  test("exactDuplicates groups identical texts with keep-min policy") {
    val d = Seq((1L, base), (2L, base), (3L, "something else entirely"))
      .toDF("id", "text")
    val out = Dedup.exactDuplicates(d, "id", "text").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("keep_id") == 1L)
    assert(out.head.getAs[Long]("copies") == 2L)
  }

  test("exactDuplicates caps the id roster on a 100k-copy cluster; " +
    "copies still counts the whole cluster") {
    val d = spark.range(100000)
      .selectExpr("id", "'same text in every row' AS text")
    val out = Dedup.exactDuplicates(d, "id", "text").collect()
    assert(out.length == 1)
    val row = out.head
    assert(row.getAs[Long]("copies") == 100000L)
    val ids = row.getSeq[Long](row.fieldIndex("ids"))
    assert(ids.length == 100, s"roster not capped: ${ids.length}")
    assert(ids == (0L until 100L), "cap must keep the smallest ids")
    assert(row.getAs[Long]("keep_id") == 0L)
  }

  test("shingles are distinct n-grams; short texts yield none") {
    val d = Seq(("abcdefghij"), ("abc")).toDF("text")
    val sh = d.select(Dedup.shingles("text", 8)).as[Seq[String]].collect()
    assert(sh(0) == Seq("abcdefgh", "bcdefghi", "cdefghij"))
    assert(sh(1).isEmpty)
  }

  test("nearDuplicates finds mutated copies, skips unrelated docs") {
    val mutated = base.replace("jumps", "leaps")
    val d = Seq((1L, base), (2L, mutated),
      (3L, "completely different content about spark and parquet " * 6),
      (4L, "completely different content about spark and parquet " * 6 + "!"))
      .toDF("id", "text")
    val pairs = Dedup.nearDuplicates(d, "id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
  }

  test("jaccardPairsExact == brute-force all-pairs Jaccard (prefix " +
    "filter is lossless), incl. heavy shared boilerplate") {
    // 40 docs sharing a long boilerplate header (every ubiquitous header
    // shingle would be a hot key in a naive inverted-index join; the
    // prefix filter keeps them out of the candidate join) + mutated
    // copies at various distances + unrelated docs
    val rnd = new scala.util.Random(5)
    val header = "terms of service apply to all documents in this set " * 3
    def tail(n: Int) =
      Seq.fill(n)("word" + rnd.nextInt(5000)).mkString(" ")
    val docs = ((0 until 20).map { i =>
      val t = tail(30)
      Seq((i * 2L, header + t),
        (i * 2L + 1, header + t.replace("word", if (i % 2 == 0) "word" else "wyrd")))
    }.flatten ++ (100 until 110).map(i => (i.toLong, tail(40))))
      .toDF("id", "text")
    val threshold = 0.5
    val got = Dedup.jaccardPairsExact(docs, "id", "text",
      shingleLen = 8, threshold = threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force ground truth over all pairs
    val a = docs.select(col("id").as("id_a"), col("text").as("ta"))
    val b = docs.select(col("id").as("id_b"), col("text").as("tb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("j", Dedup.textJaccard(8)(col("ta"), col("tb")))
      .filter(col("j") >= threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == brute,
      s"missing=${brute -- got} extra=${got -- brute}")
    assert(brute.nonEmpty, "fixture produced no true pairs — weak test")
  }

  test("jaccardPairsExact: 1k-doc boilerplate corpus — hot prefix keys " +
    "salt across tasks and the result stays lossless") {
    // every doc = the same 200-char boilerplate + a unique 3-word tail:
    // every boilerplate shingle inside the prefix is a hot key carrying
    // all 1,000 docs. With saltBlock=64 those keys fan out over 16 salts;
    // the pair set must be identical to the unsalted run and to brute
    // force.
    val boiler = (0 until 50).map(k => s"bw${k}x").mkString(" ") + " extra"
    val docs = (1 to 1000).map { i =>
      (i.toLong, s"$boiler uniq${i}a uniq${i}b uniq${i}c")
    }.toDF("id", "text")
    val salted = Dedup.jaccardPairsExact(docs, "id", "text",
      shingleLen = 8, threshold = 0.8,
      censusSampleFraction = 1.0, saltBlock = 64, maxSalts = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val a = docs.select(col("id").as("id_a"), col("text").as("ta"))
    val b = docs.select(col("id").as("id_b"), col("text").as("tb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("j", Dedup.textJaccard(8)(col("ta"), col("tb")))
      .filter(col("j") >= 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.size > 100000, s"weak fixture: ${brute.size} true pairs")
    assert(salted == brute,
      s"salting lost/invented pairs: missing=${(brute -- salted).take(5)} " +
        s"extra=${(salted -- brute).take(5)}")
  }

  test("jaccardJoinExact == brute-force cross-corpus Jaccard " +
    "(decontamination shape): within-side pairs never reported, " +
    "doc in both sides self-pairs at J=1") {
    val rnd = new scala.util.Random(11)
    val header = "benchmark question answer pair formatted like so " * 3
    def tail(n: Int) =
      Seq.fill(n)("tok" + rnd.nextInt(4000)).mkString(" ")
    // "train" corpus: leaked copies of benchmark docs at varying edit
    // distance + clean docs; "bench" corpus: the originals. One doc
    // (id 900) is byte-identical on both sides.
    val benchDocs = (0 until 12).map(i => (500L + i, header + tail(25))) :+
      (900L, header + tail(25))
    val trainDocs = (benchDocs.take(6).map { case (id, txt) =>
      (id - 500, txt.replace("tok", if (id % 2 == 0) "tok" else "tak"))
    } ++ (100 until 110).map(i => (i.toLong, tail(35))) :+
      (900L, benchDocs.last._2)).map { case (id, txt) => (id, txt) }
    val train = trainDocs.toDF("id", "text")
    val bench = benchDocs.toDF("id", "text")
    val threshold = 0.5
    val out = Dedup.jaccardJoinExact(train, bench, "id", "text",
      shingleLen = 8, threshold = threshold)
    assert(!out.queryExecution.executedPlan.toString
      .contains("CartesianProduct"),
      "cross-corpus candidates must equi-join on prefix hashes")
    val got = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val a = train.select(col("id").as("id_a"), col("text").as("ta"))
    val b = bench.select(col("id").as("id_b"), col("text").as("tb"))
    val brute = a.crossJoin(b)
      .withColumn("j", Dedup.textJaccard(8)(col("ta"), col("tb")))
      .filter(col("j") >= threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == brute,
      s"missing=${brute -- got} extra=${got -- brute}")
    assert(brute.nonEmpty, "fixture produced no true pairs — weak test")
    assert(got.contains((900L, 900L)),
      "identical doc on both sides must self-pair (contamination)")
    // the exact-copy contaminant scores J=1
    val j900 = Dedup.jaccardJoinExact(train, bench, "id", "text",
      shingleLen = 8, threshold = threshold)
      .filter(col("id_a") === 900L && col("id_b") === 900L)
      .select("jaccard").as[Double].head()
    assert(j900 == 1.0, s"expected J=1 for the exact copy, got $j900")
  }

  test("jaccardJoinExact under hot-key salting stays lossless " +
    "(shared boilerplate on both sides)") {
    val boiler = (0 until 40).map(k => s"bz${k}q").mkString(" ") + " end"
    val train = (1 to 400).map(i =>
      (i.toLong, s"$boiler uniq${i}a uniq${i}b uniq${i}c")).toDF("id", "text")
    val bench = (380 to 420).map(i =>
      (i.toLong, s"$boiler uniq${i}a uniq${i}b uniq${i}c")).toDF("id", "text")
    val got = Dedup.jaccardJoinExact(train, bench, "id", "text",
      shingleLen = 8, threshold = 0.8, saltBlock = 32, maxSalts = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val a = train.select(col("id").as("id_a"), col("text").as("ta"))
    val b = bench.select(col("id").as("id_b"), col("text").as("tb"))
    val brute = a.crossJoin(b)
      .withColumn("j", Dedup.textJaccard(8)(col("ta"), col("tb")))
      .filter(col("j") >= 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.size > 1000, s"weak fixture: ${brute.size} true pairs")
    assert(got == brute,
      s"salting lost/invented pairs: missing=${(brute -- got).take(5)} " +
        s"extra=${(got -- brute).take(5)}")
  }

  test("sampled census keeps hot shingles seen once and scales their " +
    "df estimate (prefix ranking + salt sizing stay armed)") {
    // 200 docs all sharing one boilerplate sentence: each boilerplate
    // shingle has true df=200. At fraction 0.05 the sample holds ~10
    // docs, so many hot shingles are seen only a handful of times — a
    // raw `df > 1` filter would drop any seen once, giving it df=1
    // downstream (no salt, ranked as rare into prefixes).
    val docs = (1 to 200).map { i =>
      (i.toLong, s"shared boilerplate sentence here uniq${i}a uniq${i}b")
    }.toDF("id", "text")
    val census = Dedup.censusDfMap(docs, "text", shingleLen = 8,
      commonShingleCap = 100000, censusSampleFraction = 0.05)
    assert(census.nonEmpty, "sampled census came back empty")
    // every retained estimate is scaled: a single sighting at 0.05 → 20
    assert(census.values.forall(_ >= 20L),
      s"unscaled/unsalvaged sightings in census: ${census.values.min}")
    // the boilerplate shingles must be present with estimates near 200
    assert(census.values.max >= 100L,
      s"hot shingles missing from sampled census: max=${census.values.max}")
  }

  // Both cache tests assert on DELTAS of the persistent-RDD registry,
  // never on its absolute size/emptiness: the registry is global to
  // the shared test session, and sbt runs suites concurrently in this
  // JVM — another suite merely BUILDING a jaccard-family frame marks
  // its prefix index persistent (persist() registers before any
  // action), which made the absolute assertions flake by timing.
  test("releaseCaches unpersists the jaccardPairsExact prefix index " +
    "(targeted — no clearCache needed)") {
    val docs = (1 to 50).map { i =>
      (i.toLong, s"some shared content body uniq${i}x uniq${i}y")
    }.toDF("id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.jaccardPairsExact(docs, "id", "text", shingleLen = 8,
      threshold = 0.9).count()
    val mine = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(mine.nonEmpty,
      "expected the prefix index to be cached during the operator")
    Dedup.releaseCaches()
    val left = spark.sparkContext.getPersistentRDDs.keySet
    assert((left intersect mine).isEmpty,
      "releaseCaches left this operator's cached RDDs behind")
  }

  test("jaccardPairsExactReleasable: the per-call cleanup releases only " +
    "its own prefix index") {
    val docs = (1 to 40).map { i =>
      (i.toLong, s"another shared body uniq${i}p uniq${i}q")
    }.toDF("id", "text")
    val before0 = spark.sparkContext.getPersistentRDDs.keySet
    val (outA, cleanA) = Dedup.jaccardPairsExactReleasable(
      docs, "id", "text", shingleLen = 8, threshold = 0.9)
    outA.count()
    val mineA = spark.sparkContext.getPersistentRDDs.keySet -- before0
    val (outB, cleanB) = Dedup.jaccardPairsExactReleasable(
      docs, "id", "text", shingleLen = 8, threshold = 0.9)
    outB.count()
    val mineB = spark.sparkContext.getPersistentRDDs.keySet --
      before0 -- mineA
    assert(mineA.nonEmpty && mineB.nonEmpty,
      s"expected two cached indexes, saw $mineA / $mineB")
    cleanA()
    val afterA = spark.sparkContext.getPersistentRDDs.keySet
    assert((afterA intersect mineA).isEmpty,
      "per-call cleanup must release its own index")
    assert(mineB.subsetOf(afterA),
      "per-call cleanup must not release the sibling's index")
    cleanB()
    val afterB = spark.sparkContext.getPersistentRDDs.keySet
    assert((afterB intersect mineB).isEmpty)
  }

  test("duplicateClusters: transitive closure with min-id labels — " +
    "chains collapse, components stay separate, converges in log rounds") {
    // component 1: a 64-node CHAIN (1-2, 2-3, ..., 63-64) — the shape
    // that defeats diameter-bound label propagation; large/small-star
    // must converge in ~log2(64) alternations, inside maxIter=14
    val chain = (1L until 64L).map(i => (i, i + 1))
    // component 2: a triangle with ids above the chain
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pairs = (chain ++ tri).toDF("id_a", "id_b")
    val (clusters, rounds) =
      Dedup.duplicateClustersWithRounds(pairs, "id_a", "id_b", maxIter = 14)
    val out = clusters.as[(Long, Long)].collect().toMap
    // the loop stops on the star-forest test, with no confirmation
    // round: 6 large-star/small-star rounds (a fixpoint-confirming
    // loop needs a 7th)
    assert(rounds == 6, s"64-chain took $rounds rounds")
    assert(out.size == 64 + 3)
    assert((1L to 64L).forall(out(_) == 1L),
      s"chain not fully collapsed: ${out.filter(_._2 != 1L).take(5)}")
    assert(Seq(100L, 101L, 102L).forall(out(_) == 100L))
  }

  test("duplicateClusters on an input that already is a star forest " +
    "returns after 0 rounds with the same clusters") {
    // every member has one edge, to its component minimum, in either
    // column order and with a repeated and a reversed copy
    val pairs = Seq((5L, 1L), (1L, 7L), (9L, 1L), (9L, 1L), (1L, 9L),
      (20L, 11L), (11L, 12L), (31L, 30L)).toDF("id_a", "id_b")
    val (clusters, rounds) =
      Dedup.duplicateClustersWithRounds(pairs, "id_a", "id_b")
    assert(rounds == 0, s"star forest took $rounds rounds")
    assert(clusters.as[(Long, Long)].collect().sorted.toSeq == Seq(
      1L -> 1L, 5L -> 1L, 7L -> 1L, 9L -> 1L, 11L -> 11L, 12L -> 11L,
      20L -> 11L, 30L -> 30L, 31L -> 30L))
  }

  // random graphs plus stars, chains and cliques, each edge with
  // random duplicate, reversed and self-pair copies
  test("duplicateClusters == local union-find on seeded random graphs") {
    val rnd = new scala.util.Random(11)
    // each shape over a fresh random id set, so component minima land
    // anywhere in the shape (a star's hub is not always its minimum)
    def star(ids: Seq[Long]) = ids.tail.map(v => (ids.head, v))
    def chain(ids: Seq[Long]) = ids.sliding(2).map(p => (p(0), p(1))).toSeq
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    def noisy(edges: Seq[(Long, Long)]) = edges.flatMap { case e @ (a, b) =>
      Seq(e) ++ (if (rnd.nextInt(4) == 0) Seq((b, a)) else Nil) ++
        (if (rnd.nextInt(4) == 0) Seq(e) else Nil) ++
        (if (rnd.nextInt(6) == 0) Seq((a, a)) else Nil)
    }
    (1 to 6).foreach { trial =>
      val n = 20 + trial * 10
      val random = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val pool = rnd.shuffle((0L until 4L * n).map(_ + 1000L))
      val shaped = Seq(star _, chain _, clique _).zipWithIndex.flatMap {
        case (shape, i) =>
          shape(pool.slice(i * n, i * n + 3 + rnd.nextInt(n / 2)))
      }
      val edges = noisy(random ++ shaped)
      val expected = {
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          r
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        nodes.filter(v => edges.exists(e => e._1 != e._2 &&
          (e._1 == v || e._2 == v))).map(v => v -> find(v)).toMap
      }
      val rows = Dedup.duplicateClusters(
        edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .as[(Long, Long)].collect().toSeq
      // every member gets exactly ONE cluster_id
      val repeated = rows.groupBy(_._1).filter(_._2.size > 1)
      assert(repeated.isEmpty, s"trial $trial: members with several " +
        s"cluster ids: ${repeated.take(5)}")
      val got = rows.toMap
      assert(got == expected,
        s"trial $trial: diff=${(got.toSet diff expected.toSet).take(5)} " +
          s"missing=${(expected.toSet diff got.toSet).take(5)}")
    }
  }

  test("duplicateClusters handles duplicate/reversed/self pairs and an " +
    "empty frame") {
    val pairs = Seq((2L, 1L), (1L, 2L), (2L, 2L), (2L, 1L))
      .toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L))
    val empty = Dedup.duplicateClusters(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b")
    assert(empty.count() == 0)
  }

  test("duplicateClusters reliableCheckpoint: same result via durable " +
    "checkpoints; requires a checkpoint dir") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // without a checkpoint dir the knob must fail fast, not NPE deep
    // inside the first round's checkpoint write
    val prior = spark.sparkContext.getCheckpointDir
    if (prior.isEmpty) intercept[IllegalArgumentException] {
      Dedup.duplicateClusters(pairs, "id_a", "id_b",
        reliableCheckpoint = true)
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt-").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val out = Dedup.duplicateClusters(pairs, "id_a", "id_b",
        reliableCheckpoint = true).as[(Long, Long)].collect().toMap
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L))
      // durable round frames actually hit the checkpoint dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliableCheckpoint wrote nothing durable")
    } finally {
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }

  test("minhash signature similarity tracks exact jaccard") {
    // identical → identical band keys; disjoint → disjoint (w.h.p.)
    val d = Seq((1L, base), (2L, base),
      (3L, "zq xv wk pj " * 40)).toDF("id", "text")
    val keys = d.select(col("id"), Dedup.minhashBandKeys(16, 4)(
      Dedup.shingles("text", 8)).as("k"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(keys(1L) == keys(2L))
    assert(keys(1L).toSet.intersect(keys(3L).toSet).isEmpty)
  }

  test("simhash: identical texts equal; small edit stays near; " +
    "unrelated text is far") {
    val d = Seq((1L, base), (2L, base),
      (3L, base.replace("lazy", "hazy")),
      (4L, "entirely unrelated words frog moon satellite " * 10))
      .toDF("id", "text")
    val fp = d.select(col("id"), Dedup.simhash64()(col("text")).as("f"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fp(1L) == fp(2L))
    assert(hamming(fp(1L), fp(3L)) <= 16)
    assert(hamming(fp(1L), fp(4L)) > 16)
  }

  test("removeRepeatedSpans: boilerplate above the doc-freq cap is cut " +
    "everywhere, unique text survives verbatim, an all-boilerplate doc " +
    "becomes the empty row (never a dropped row)") {
    val boiler = "standard header one two three four five six" // 8 toks
    val d = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon"),
      (2L, s"$boiler zeta eta theta iota kappa"),
      (3L, s"$boiler lambda mu nu xi omicron"),
      (4L, boiler),                               // nothing survives
      (5L, "completely unrelated text with no repeats at all here"),
      // a span shared by only TWO docs stays (cap = 2 means > 2)
      (6L, "dual shared span aa bb cc dd ee plus six"),
      (7L, "dual shared span aa bb cc dd ee plus seven"))
      .toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(d, "doc_id", "text",
      windowTokens = 8, docFreqCap = 2)
      .orderBy("doc_id")
      .as[(Long, String, Int)].collect().toSeq
    assert(out(0) == ((1L, "alpha beta gamma delta epsilon", 8)), out(0))
    assert(out(1)._2 == "zeta eta theta iota kappa")
    assert(out(3) == ((4L, "", 8)), out(3))
    assert(out(4) == ((5L,
      "completely unrelated text with no repeats at all here", 0)))
    assert(out(5)._3 == 0 && out(6)._3 == 0,
      s"under-cap span must survive: ${out(5)} ${out(6)}")
    assert(out.size == 7, "every input doc must come back")
  }

  test("qualityKeepers: per-cluster argmax on the score, ties to the " +
    "SMALLEST id; member counts exact") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (4L, 1L),   // cluster 1: scores 5, 9, 9
      (7L, 7L), (8L, 7L))             // cluster 7: equal scores 3, 3
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 5L), (2L, 9L), (4L, 9L), (7L, 3L), (8L, 3L))
      .toDF("doc_id", "score")
    val out = Dedup.qualityKeepers(clusters, "doc_id", scores, "score")
      .orderBy("cluster_id")
      .select("cluster_id", "keeper_id", "keeper_score", "n_members")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cluster 1: 2 and 4 tie at 9 -> smallest id 2 wins (not min-id 1!)
    assert(out == Seq((1L, 2L, 9L, 3L), (7L, 7L, 3L, 2L)), out)
  }

  test("qualityKeepers FAILS LOUDLY on an unscored cluster member " +
    "(no silent drop that would exempt a cluster from deletion feeds)") {
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 5L)).toDF("doc_id", "score") // 2 unscored
    val e = intercept[Exception] {
      Dedup.qualityKeepers(clusters, "doc_id", scores, "score").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("no score for doc_id=2")), e)
  }

  test("simhashNearDuplicates finds exact copies at distance 0") {
    val d = Seq((1L, base), (2L, base),
      (3L, "entirely unrelated words frog moon satellite " * 10))
      .toDF("id", "text")
    val pairs = Dedup.simhashNearDuplicates(d, "id", "text", maxDistance = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("hot-bucket guard: 1k identical docs stay bounded, audited, and " +
    "fully linked; normal pairs unaffected") {
    val boiler = "standard legal boilerplate attached to every document " * 5
    val distinct1 = "completely different content about spark and parquet " * 6
    val docs =
      (1L to 1000L).map(i => (i, boiler)) ++
      Seq((2001L, distinct1), (2002L, distinct1 + "!"),
        (3001L, "zq xv wk pj unrelated " * 20))
    val d = docs.toDF("id", "text")
    Banding.drainAudits() // clear anything earlier tests produced
    val pairs = Dedup.nearDuplicates(d, "id", "text", threshold = 0.5,
      maxBucket = 16).select("id_a", "id_b").as[(Long, Long)].collect()
    // bounded: head-pairwise (16 choose 2) + stars, NOT 1000²/2
    assert(pairs.length < 5000, s"quadratic blow-up: ${pairs.length} pairs")
    // complete: every boilerplate copy surfaces in at least one pair
    val linked = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert((1L to 1000L).forall(linked.contains), "capped members lost")
    assert(pairs.contains((2001L, 2002L)), "normal near-pair lost")
    assert(!linked.contains(3001L), "unrelated doc flagged")
    // audited, not silent: the observe metric fired on the overflow
    // branch (listener-bus-aware drain — the callback is async)
    val audits = Banding.awaitAudits(minRecords = 1)
    assert(audits.nonEmpty, "no capped-bucket audit emitted")
    assert(audits.exists(_.maxBucketSize >= 1000L))
  }

  test("simhashNearDuplicates at maxDistance=0: full-width chunk mask " +
    "does not collapse to bucket 0") {
    val rnd = new scala.util.Random(11)
    val docs = (1L to 100L).map { i =>
      (i, Seq.fill(40)(rnd.alphanumeric.take(6).mkString).mkString(" "))
    } ++ Seq((201L, base), (202L, base))
    val d = docs.toDF("id", "text")
    Banding.drainAudits()
    val pairs = Dedup.simhashNearDuplicates(d, "id", "text",
      maxDistance = 0, maxBucket = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((201L, 202L)))
    // with the (1L << 64) == 1 wrap bug every fingerprint masks to the
    // same bucket: 102 docs in one bucket would trip the cap (maxBucket=8)
    // and emit an audit — a correct full-width mask keeps buckets distinct
    Thread.sleep(500)
    assert(Banding.drainAudits().isEmpty, "distance-0 banding collapsed")
  }

  test("nearDuplicateJoin (MinHash cross): finds planted contaminants, " +
    "exact verify keeps false positives out, within-side pairs excluded") {
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val bench = Seq(
      (10L, base),
      (11L, "an unrelated benchmark prompt entirely " * 8))
      .toDF("id", "text")
    val train = Seq(
      (1L, base.replace("jumps", "leaps")),          // near-copy of 10
      (2L, base),                                    // exact copy of 10
      (3L, "ordinary training document body " * 8),
      (4L, "a different training document here " * 8))
      .toDF("id", "text")
    val out = Dedup.nearDuplicateJoin(train, bench, "id", "text",
      threshold = 0.5)
    val got = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 10L)), s"got=$got")
    val j2 = out.filter(col("id_a") === 2L).select("jaccard")
      .as[Double].head()
    assert(j2 == 1.0, s"exact copy must verify at J=1, got $j2")
    // differential vs the exact cross join at the same threshold: the
    // LSH candidates must be a SUBSET verified to the same pair set on
    // this easy (high-J) fixture
    val exact = Dedup.jaccardJoinExact(train, bench, "id", "text",
      shingleLen = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == exact, s"lsh=$got exact=$exact")
  }

  test("ngramOverlapJoin: a verbatim span pasted into an unrelated doc " +
    "is caught with the exact shared-window count; brute-force equal") {
    // 12-token span shared verbatim → with k=4 that's 9 windows; the
    // surrounding text differs completely (whole-doc Jaccard is low —
    // the case q34-style screening misses at high thresholds)
    val span = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu"
    val bench = Seq(
      (10L, s"benchmark question preamble $span and the answer choices"),
      (11L, "a completely unrelated benchmark prompt with other words"))
      .toDF("id", "text")
    val train = Seq(
      (1L, s"training page header $span trailing boilerplate text"),
      (2L, "ordinary training document body with its own words"),
      (3L, s"another page quoting $span here"))
      .toDF("id", "text")
    val out = Dedup.ngramOverlapJoin(train, bench, "id", "text",
      windowTokens = 4, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 10L, 9L), (3L, 10L, 9L)), s"got=$out")

    // brute-force differential: local window sets, same semantics
    def wins(t: String) = t.split("\\s+").filter(_.nonEmpty)
      .sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
    val benchLocal = Seq(
      10L -> s"benchmark question preamble $span and the answer choices",
      11L -> "a completely unrelated benchmark prompt with other words")
    val trainLocal = Seq(
      1L -> s"training page header $span trailing boilerplate text",
      2L -> "ordinary training document body with its own words",
      3L -> s"another page quoting $span here")
    val brute = (for {
      (ta, txa) <- trainLocal
      (tb, txb) <- benchLocal
      n = (wins(txa) intersect wins(txb)).size
      if n >= 2
    } yield (ta, tb, n.toLong)).toSet
    assert(out == brute, s"spark=$out brute=$brute")
  }

  test("ngramOverlapJoin boilerplate cap: a window above the combined " +
    "doc-frequency cap is excluded from matching on BOTH sides") {
    // the same 4-token window in every doc: combined df = 6 > cap 5 →
    // no pair may be reported on its account
    val boiler = "standard license header text"
    val bench = (10L to 12L).map(i => (i, s"$boiler benchmark body $i"))
      .toDF("id", "text")
    val train = (1L to 3L).map(i => (i, s"$boiler training body $i"))
      .toDF("id", "text")
    val capped = Dedup.ngramOverlapJoin(train, bench, "id", "text",
      windowTokens = 4, minShared = 1, commonWindowDocFreqCap = 5)
    assert(capped.count() == 0, "capped boilerplate window still paired")
    // with the cap relaxed the identical window links every cross pair
    val uncapped = Dedup.ngramOverlapJoin(train, bench, "id", "text",
      windowTokens = 4, minShared = 1, commonWindowDocFreqCap = 1000)
    assert(uncapped.count() == 9, "3x3 cross pairs expected uncapped")
  }

  test("simhashNearJoin: cross-corpus fingerprint screen — small-edit " +
    "contaminant found, identical doc at distance 0, within-side " +
    "pairs excluded") {
    val body = Seq.fill(60)("w" + scala.util.Random.javaRandomToRandom(
      new java.util.Random(3)).nextInt(1000)).mkString(" ")
    val bench = Seq((10L, body), (11L, "totally different benchmark " * 9))
      .toDF("id", "text")
    val train = Seq(
      (1L, body.replaceFirst("w\\d+", "edited")), // near-copy of 10
      (2L, body),                                 // exact copy of 10
      (3L, "unrelated training text entirely " * 9),
      (4L, "another unrelated training doc " * 9)) // ~3? unrelated to bench
      .toDF("id", "text")
    val out = Dedup.simhashNearJoin(train, bench, "id", "text",
      maxDistance = 6)
    val got = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((2L, 10L)), s"exact copy missed: $got")
    assert(got.contains((1L, 10L)), s"near copy missed: $got")
    // never a within-side pair: id_b always from bench
    assert(got.forall(_._2 >= 10L), s"within-side leak: $got")
    val d210 = out.filter(col("id_a") === 2L && col("id_b") === 10L)
      .select("hamming").as[Int].head()
    assert(d210 == 0, s"identical text must be at distance 0, got $d210")
  }

  test("embedding nearPairs finds duplicate vectors, no cartesian") {
    val v = Seq.tabulate(64)(i => (i % 7).toFloat + 0.1f)
    val w = Seq.tabulate(64)(i => ((i * 13) % 5).toFloat - 2f)
    val d = Seq((1L, v), (2L, v.map(x => x * 2f)), (3L, w))
      .toDF("id", "vec")
    val lsh = RandomHyperplaneLsh(64, bits = 4, tables = 8)
    val out = lsh.nearPairs(d, "id", "vec", threshold = 0.999)
    val pairs = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // scaled copy has cosine 1
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("embedding nearJoin: cross-corpus only, exact copy on both sides " +
    "self-pairs at cosine 1, no cartesian") {
    val v = Seq.tabulate(64)(i => (i % 7).toFloat + 0.1f)
    val w = Seq.tabulate(64)(i => ((i * 13) % 5).toFloat - 2f)
    val u = Seq.tabulate(64)(i => ((i * 29) % 11).toFloat - 5f)
    // train: near-copy of bench vec 10, an unrelated vec, and vec 9
    // byte-identical to the bench side; bench: the originals
    val train = Seq((1L, v.map(x => x * 3f)), (2L, w), (9L, u))
      .toDF("id", "vec")
    val bench = Seq((10L, v), (9L, u)).toDF("id", "vec")
    val lsh = RandomHyperplaneLsh(64, bits = 4, tables = 8)
    val out = lsh.nearJoin(train, bench, "id", "vec", threshold = 0.999)
    val got = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (9L, 9L)), s"got=$got")
    val cos99 = out.filter(col("id_a") === 9L).select("cosine")
      .as[Double].head()
    assert(cos99 == 1.0)
    assert(!out.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("guardedCrossPairs: hot bucket caps per side, overflow " +
    "star-links to the other side's representative, audited; " +
    "one-sided buckets yield nothing") {
    val lb = ((1 to 50).map(i => (i.toLong, 7L)) :+ (500L, 99L))
      .toDF("_id", "_band")
    val rb = ((101 to 150).map(i => (i.toLong, 7L)) :+ (600L, 42L))
      .toDF("_id", "_band")
    Banding.drainAudits()
    val pairs = Banding.guardedCrossPairs(lb, rb, maxBucket = 10)
      .as[(Long, Long)].collect().toSet
    // every pair is left×right; no (l,l)/(r,r); nothing from bands 99/42
    assert(pairs.forall { case (a, b) => a <= 500 && b >= 101 })
    assert(!pairs.exists { case (a, b) => a == 500L || b == 600L })
    // head×head fully pairwise
    assert((1 to 10).forall(a =>
      (101 to 110).forall(b => pairs.contains((a.toLong, b.toLong)))))
    // overflow on each side links to the OTHER side's min id
    assert((11 to 50).forall(a => pairs.contains((a.toLong, 101L))))
    assert((111 to 150).forall(b => pairs.contains((1L, b.toLong))))
    // capped candidate count: 10*10 pairwise + 40 + 40 star links
    assert(pairs.size == 100 + 40 + 40, s"size=${pairs.size}")
    // listener-bus-aware drain: the observe callback fires ASYNC after
    // the collect — an immediate drain read Vector() once in four
    // same-code suite runs (★r19). Both sides cap → two records.
    val audits = Banding.awaitAudits(minRecords = 2)
    assert(audits.map(_.cappedMembers).sum == 80,
      s"expected 80 capped members audited, got $audits")
  }

  test("dupSpanCoverage: exact interval union of duplicated shingles — " +
    "cross-doc spans, internal repetition, gaps, and clean docs") {
    val docs = Seq(
      (1L, "abcdefgh"),            // shared with doc 2 → fully covered
      (2L, "XXabcdefgh"),          // covered from position 3 on
      (3L, "zzzz"),                // unique 4-gram → clean
      (4L, "abcdabcd"),            // internal repeat → fully covered
      (5L, "abc"),                 // shorter than L → no shingles
      (6L, "abcd0123456789abcd")   // two hits with a gap: i=1 and i=15
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanCoverage(docs, "doc_id", "text", shingleLen = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size == 6, "one row per input doc")
    assert(out(1L) == ((8L, 8L, 1000000L)))
    assert(out(2L) == ((10L, 8L, 800000L)))
    assert(out(3L) == ((4L, 0L, 0L)))
    assert(out(4L) == ((8L, 8L, 1000000L)))
    assert(out(5L) == ((3L, 0L, 0L)))
    // doc 6: "abcd" occurs at 1 and 15 (also in docs 1/2/4) → two
    // disjoint 4-char intervals; 8 chars of 18 → 444444 micro
    assert(out(6L) == ((18L, 8L, 8L * 1000000L / 18L)))
    // determinism under repartitioning
    val re = Dedup.dupSpanCoverage(docs.repartition(5), "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(re == out)
  }

  test("span census round-trip: coverage and keep-first served from a " +
    "STORED spanCensus are bit-identical to the standalone operators") {
    val rnd = new scala.util.Random(89)
    val docs = (1L to 40L).map { i =>
      // planted cross-doc duplication: every 4th doc embeds a shared
      // span; the rest are random hex
      val body = Seq.fill(30)("0123456789abcdef"(rnd.nextInt(16))).mkString
      (i, if (i % 4 == 0) body.take(10) + "SHAREDSPANHERE" + body.drop(10)
          else body)
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-census-spec-")
      .resolve("census.parquet").toString
    Dedup.spanCensus(docs, "doc_id", "text", shingleLen = 8)
      .write.parquet(dir)
    val stored = spark.read.parquet(dir)
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(m(Dedup.dupSpanCoverageFromCensus(docs, stored,
        "doc_id", "text", 8)) ===
      m(Dedup.dupSpanCoverage(docs, "doc_id", "text", 8)))
    assert(m(Dedup.dedupSpansKeepFirstFromCensus(docs, stored,
        "doc_id", "text", 8)) ===
      m(Dedup.dedupSpansKeepFirst(docs, "doc_id", "text", 8)))
    // the census itself carries the canonical first copy
    val c = Dedup.spanCensus(docs, "doc_id", "text", 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(c.nonEmpty && c.forall(_._2 >= 2))
    val shared = c.filter(_._1 == "SHAREDSP")
    assert(shared.map(x => (x._2, x._3, x._4)).toSeq == Seq((10L, 4L, 11L)),
      s"canonical pick: ${shared.toSeq}")
  }

  test("windowHashes kernel == shingleSet(text,n).map(hashOf) — sorted, " +
    "deduped — over random unicode incl. supplementary chars (ADVICE r18)") {
    // The allocation-free rolling-murmur kernel (windowHash64 /
    // windowHashes) claims bit-identity to hashing each substring
    // window; until now that was pinned only transitively through the
    // q29/q31 corpus hashes. This pins it DIRECTLY, so a drift in the
    // hand-rolled murmur replay surfaces here, not as an unattributable
    // corpus-level diff. Deterministic seeded generator: ASCII, BMP
    // unicode, and supplementary characters (surrogate PAIRS — the char
    // windows may split a pair; both implementations operate on raw
    // chars, so they must agree there too), odd and even window sizes,
    // texts shorter than / equal to / far longer than the window.
    val rnd = new scala.util.Random(20190815L)
    val alphabets = Seq[Array[String]](
      Array("a", "b", "c", " "),
      Array("\u00e9", "\u4e2d", "z", "\u00df", " "),
      // supplementary: each is a surrogate PAIR (2 chars)
      Array(new String(Character.toChars(0x1F600)),
        new String(Character.toChars(0x10400)), "q", " "))
    val seeds = Seq(0, 42, -12345, 0x5bd1e995)
    var cases = 0
    for (alpha <- alphabets; n <- Seq(1, 2, 3, 5, 8, 16); _ <- 1 to 12) {
      val len = rnd.nextInt(64)
      val sb = new StringBuilder
      while (sb.length < len) sb.append(alpha(rnd.nextInt(alpha.length)))
      val text = sb.toString
      val seed = seeds(rnd.nextInt(seeds.length))
      val fast = Dedup.windowHashes(text, n, seed)
      // sortedness + in-place dedup contract
      assert(fast.toSeq == fast.toSeq.sorted.distinct,
        s"not sorted-distinct: text=${text.length} chars n=$n seed=$seed")
      val slow = {
        import scala.jdk.CollectionConverters._
        Dedup.shingleSet(text, n).asScala.map(Dedup.hashOf(_, seed)).toSet
      }
      assert(fast.toSet == slow,
        s"hash-set drift: n=$n seed=$seed text=[$text]")
      cases += 1
    }
    assert(cases == 3 * 6 * 12)
    // null / short-text contract
    assert(Dedup.windowHashes(null, 4, 7).isEmpty)
    assert(Dedup.windowHashes("abc", 4, 7).isEmpty)
  }
}
