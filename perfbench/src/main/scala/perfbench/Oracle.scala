package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Checks of a lake's final state built only from plain Spark reads and
  * java.nio listings, never from engine code. Each returns violations;
  * an empty result means the check passed. */
object Oracle {
  val VersionStore = ".graft-versions"

  /** Row count and an order-independent hash of every row. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** `actual` must hold exactly the `master` rows outside `matched`, and
    * no row inside it. */
  def rows(table: String, master: DataFrame, actual: DataFrame,
           matched: DataFrame => Column): Seq[String] = {
    val survivors = actual.filter(matched(actual)).count()
    val want = fingerprint(master.filter(not(coalesce(matched(master),
      lit(false)))))
    val got = fingerprint(actual)
    (if (survivors > 0)
      Seq(s"$table: $survivors queued rows survived") else Nil) ++
      (if (want != got)
        Seq(s"$table: unmatched rows differ from the seed lake minus the " +
          s"queues (want ${want._1} rows hash ${want._2}, got ${got._1} " +
          s"rows hash ${got._2})")
      else Nil)
  }

  /** Raw JSON lines: `actual` must be exactly `expected` as a multiset. */
  def lines(table: String, expected: Seq[String],
            actual: Seq[String]): Seq[String] = {
    val (e, a) = (expected.sorted, actual.sorted)
    if (e == a) Nil
    else {
      val firstDiff = e.zipAll(a, "<none>", "<none>")
        .find { case (x, y) => x != y }
      Seq(s"$table: ${a.size} lines where ${e.size} were expected; first " +
        s"difference: expected ${firstDiff.map(_._1.take(120))}, got " +
        s"${firstDiff.map(_._2.take(120))}")
    }
  }

  /** Hidden or underscore-prefixed entries left in the lake: staging
    * copies, commit markers, version snapshots. A `.<name>.crc` checksum
    * sidecar of a live data object is not debris, nor, when
    * `keepsVersions`, an entry of the engine's version store
    * (`.graft-versions`), which a writer that keeps prior versions
    * fills by contract. */
  def debris(root: Path, keepsVersions: Boolean = false): Seq[String] = {
    val all = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_ != root)
        .map(p => root.relativize(p).toString).toSet
      finally s.close()
    }
    all.toSeq.sorted.filterNot { rel =>
      LakeFiles.isData(rel) ||
        (keepsVersions && rel.split('/').contains(VersionStore)) || {
        val i = rel.lastIndexOf('/')
        val (dir, n) = (rel.take(i + 1), rel.drop(i + 1))
        n.startsWith(".") && n.endsWith(".crc") &&
          all.contains(dir + n.stripPrefix(".").stripSuffix(".crc"))
      }
    }.map(rel => s"debris left in the lake: $rel")
  }
}
