package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  test("planted PII is what the oracle's detectors see, and only there") {
    val docs = Corpus.docs(5)
    val pii = docs.filter(_.pii.isDefined)
    assert(pii.size > Corpus.Docs / 20)
    pii.foreach { d =>
      assert(Curate.Detectors.exists(_.findFirstIn(d.pii.get).contains(d.pii.get)),
        d.pii.get)
    }
    docs.filter(d => d.pii.isEmpty && d.role != "dup").foreach { d =>
      assert(!Curate.Detectors.exists(_.findFirstIn(d.text).isDefined), d.text)
    }
  }

  test("duplicates follow their originals; quote sources are used once") {
    val docs = Corpus.docs(5).map(d => d.id -> d).toMap
    val dups = docs.values.filter(_.role == "dup").toSeq
    assert(dups.size == Corpus.Dups)
    dups.foreach { d =>
      val orig = docs(1L + d.id - Corpus.firstDup)
      assert(orig.role == "original" && orig.id < d.id)
      val (a, b) = (orig.text.split(' '), d.text.split(' '))
      assert(a.length == b.length && a.zip(b).count { case (x, y) => x != y } <= 2)
    }
    assert(docs.values.count(_.role == "source") == 2 * Corpus.Quoters)
    assert(docs.values.filter(_.role == "source").forall(_.pii.isEmpty))
  }

  test("the same seed gives byte-identical objects; another seed does not") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      def bytes(seed: Long) = {
        val d = Files.createTempDirectory("perfbench-corpus-")
        Corpus.write(spark, seed, d)
        LakeFiles.listing(d).keys.toSeq.sorted.map(k =>
          k -> java.util.Arrays.hashCode(Files.readAllBytes(d.resolve(k))))
      }
      val a = bytes(3)
      assert(a.size == Corpus.Objects)
      assert(a == bytes(3))
      assert(a != bytes(4))
    } finally spark.stop()
  }
}
