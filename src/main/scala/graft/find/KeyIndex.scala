package graft.find

import graft.catalog.TableDef
import graft.find.Finder.TypedGroup
import graft.model.DataMapper
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import scala.collection.concurrent.TrieMap

/** A per-object key index that prunes each Find scan to the objects that
  * can hold a queued key: the filter-then-verify pattern, where the index
  * proposes candidate objects and the Find scan still decides membership.
  *
  * An [[KeyIndex.Entry]] describes one object version, identified by its
  * `(path, length, mtime)` — the identity the Forget commit protocol's
  * capture-check already trusts. For each identifier column of the mapper
  * it holds the sorted, distinct 64-bit hashes ([[KeyIndex.hash]]) of the
  * column's non-null values rendered as strings: the [[Finder.dataKey]]
  * form, which is also the form of [[Finder.TypedGroup.rendered]]. Both
  * Find forms agree with that varchar compare, so the index needs no
  * second normalization.
  *
  * Per Find ([[prune]]), an object is
  *   - ''unindexed'' when it has no entry of its current length and mtime:
  *     it is always scanned, after one map-only [[buildScan]] over every
  *     unindexed object of the mapper fills its entry ([[built]]);
  *   - a ''candidate'' when some group admits it: a simple group when one
  *     of its key hashes is in the column's set, a composite group when,
  *     for some tuple, every part is in its column's set;
  *   - ''skipped'' otherwise: the Find query leaves it out through a
  *     `_metadata.file_path` predicate, which Spark evaluates against the
  *     listing before it opens a file.
  * An error can only be a false positive (a hash collision, or composite
  * parts that sit in different rows), which costs a read. The skip list
  * names objects to LEAVE OUT, never objects to read, so a path rendered
  * in a form Spark does not compare equal costs pruning, not a match.
  *
  * Forget keeps entries fresh ([[committed]]): for an object it rewrote,
  * the entry of the version it read, minus the simple-group keys it just
  * deleted, becomes the entry of the version it committed. A composite
  * tuple's parts stay — a superset of the keys is safe. A removal is exact
  * because Forget drops every row Find's compare matches for a simple
  * key (the FindForgetPropertySpec contract); a JSON number read into a
  * string column is the one row Find matches and Forget keeps
  * ([[graft.forget.JsonMatch]]), and Forget would keep it again.
  *
  * One slot per mapper holds its entries, tied to the exact
  * `(DataMapper, TableDef)` it was built for: any change to either starts
  * the slot afresh. Thread-safe across mappers; each mapper's Find and the
  * job's Forget maintenance touch its slot from one thread at a time.
  * Entries live in driver memory only. */
final class KeyIndex {
  import KeyIndex._

  private final class Slot(val mapper: DataMapper, val table: TableDef) {
    val entries = TrieMap.empty[String, Entry]
  }

  private val slots = TrieMap.empty[String, Slot]

  private def slot(m: DataMapper, table: TableDef): Slot = {
    val s = slots.getOrElseUpdate(m.id, new Slot(m, table))
    if (s.mapper == m && s.table == table) s
    else {
      val fresh = new Slot(m, table)
      slots.put(m.id, fresh)
      fresh
    }
  }

  /** Drop a mapper's entries. */
  def drop(mapperId: String): Unit = slots.remove(mapperId)

  /** The entry a mapper holds for an object path, any version. */
  def entry(mapperId: String, path: String): Option[Entry] =
    slots.get(mapperId).flatMap(_.entries.get(objectKey(path)))

  /** Objects, hashes and approximate driver bytes held. */
  def size: Footprint = {
    val all = slots.values.toSeq.flatMap(_.entries.toSeq)
    Footprint(all.size, all.map(_._2.keys.values.map(_.length.toLong).sum).sum,
      all.map { case (k, e) => e.bytes + 40L + 2L * k.length }.sum)
  }

  /** Split `listing`, the mapper's objects, into unindexed, candidate and
    * skipped objects for the queue `typed` (class doc). Entries of objects
    * no longer listed go. */
  def prune(m: DataMapper, table: TableDef, typed: Seq[TypedGroup],
            listing: Seq[FileStatus]): Pruning = {
    val s = slot(m, table)
    val byKey = listing.map(st => objectKey(st.getPath.toUri) -> st)
    val listed = byKey.map(_._1).toSet
    s.entries.keys.filterNot(listed).foreach(s.entries.remove)
    val groups = typed.map(hashed)
    val cols = groups.flatMap(_.columns).distinct
    val unindexed = Seq.newBuilder[FileStatus]
    val skipped = Seq.newBuilder[FileStatus]
    byKey.foreach { case (k, st) =>
      s.entries.get(k) match {
        case Some(e) if e.len == st.getLen &&
            e.mtime == st.getModificationTime && cols.forall(e.keys.contains) =>
          if (!groups.exists(_.admits(e))) skipped += st
        case _ => unindexed += st
      }
    }
    Pruning(listing, unindexed.result(), skipped.result())
  }

  /** Record the entries a [[buildScan]] returned for the `unindexed`
    * objects of a [[prune]]. Every unindexed object was read by the scan,
    * so one it returned nothing for holds no non-null key. */
  def built(m: DataMapper, table: TableDef, unindexed: Seq[FileStatus],
            scanned: Iterable[(String, Array[Array[Long]])]): Unit = {
    val s = slot(m, table)
    val byKey = scanned.groupBy(r => objectKey(r._1)).map { case (k, rs) =>
      k -> rs.map(_._2).reduce((a, b) => a.lazyZip(b).map(union))
    }
    unindexed.foreach { st =>
      val k = objectKey(st.getPath.toUri)
      val sets = byKey.getOrElse(k, Array.fill(m.columns.size)(Array.empty[Long]))
      s.entries.put(k, Entry(st.getLen, st.getModificationTime,
        m.columns.zip(sets).toMap))
    }
  }

  /** Forget maintenance after a rewrite job: `outcomes` are the mapper's
    * objects, each with the version the task read and the version it
    * committed (None when it committed nothing). An object's old entry
    * goes; when it described the version Forget read and Forget committed
    * a new one in its place, the new version's entry is the old one minus
    * every key of `typed`'s simple groups. */
  def committed(m: DataMapper, table: TableDef, typed: Seq[TypedGroup],
                outcomes: Seq[Committed]): Unit = {
    val s = slot(m, table)
    val deleted = typed.filter(_.group.columns.size == 1).map { tg =>
      tg.group.columns.head -> hashed(tg).tuples.map(_.head).sorted.toArray
    }.groupMapReduce(_._1)(_._2)(union)
    outcomes.foreach { o =>
      val k = objectKey(o.path)
      for {
        old <- s.entries.remove(k)
        (readLen, readMtime) <- o.read
        (len, mtime) <- o.committed
        if old.len == readLen && old.mtime == readMtime
      } s.entries.put(k, Entry(len, mtime, old.keys.map { case (c, ks) =>
        c -> deleted.get(c).fold(ks)(minus(ks, _))
      }))
    }
  }
}

object KeyIndex {

  /** One object version's key hashes per identifier column, each array
    * sorted and distinct. */
  final case class Entry(len: Long, mtime: Long, keys: Map[String, Array[Long]]) {
    def bytes: Long = keys.values.map(a => 16L + 8L * a.length).sum + 48L
  }

  final case class Footprint(objects: Long, hashes: Long, bytes: Long)

  /** A forget outcome for [[KeyIndex.committed]]: `(length, mtime)` of
    * the version the task read and of the one it committed. */
  final case class Committed(path: String, read: Option[(Long, Long)],
                             committed: Option[(Long, Long)])

  /** One Find's split of the listing ([[KeyIndex.prune]]). */
  final case class Pruning(listing: Seq[FileStatus],
                           unindexed: Seq[FileStatus],
                           skipped: Seq[FileStatus]) {
    /** The objects the pruned Find scans. */
    lazy val scanned: Seq[FileStatus] = listing.filterNot(skipped.toSet)
  }

  /** The key's 64-bit hash: Spark's `xxhash64` (default seed 42) of its
    * UTF-8 bytes, the expression [[buildScan]] evaluates on the data
    * side. */
  def hash(key: String): Long =
    XxHash64(Seq(Literal(key)), 42L).eval().asInstanceOf[Long]

  /** A cast group's non-null tuples as hash tuples. */
  private final case class Hashed(columns: Seq[String],
                                  tuples: Seq[Array[Long]]) {
    def admits(e: Entry): Boolean = {
      val sets = columns.map(e.keys)
      tuples.exists(t => t.indices.forall(i =>
        java.util.Arrays.binarySearch(sets(i), t(i)) >= 0))
    }
  }

  private def hashed(tg: TypedGroup): Hashed =
    Hashed(tg.group.columns, tg.rendered.collect {
      case parts if !parts.contains(null) => parts.map(hash).toArray
    })

  /** One canonical string per object: scheme, authority and decoded path
    * of its URI, so `file:/x`, `file:///x` and a percent-encoded
    * `input_file_name()` are one key. */
  def objectKey(path: String): String =
    try objectKey(new java.net.URI(path))
    catch { case _: java.net.URISyntaxException => path }

  def objectKey(u: java.net.URI): String =
    Option(u.getScheme).fold("")(_ + ":") +
      Option(u.getAuthority).filter(_.nonEmpty).fold("")("//" + _) + u.getPath

  /** The objects of the one file relation under `data`, from the listing
    * Spark took when it planned the read; None when `data` reads anything
    * else. */
  def listing(data: DataFrame): Option[Seq[FileStatus]] =
    data.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    } match {
      case Seq(r: HadoopFsRelation) => r.location match {
        case f: PartitioningAwareFileIndex => Some(f.allFiles())
        case _ => None
      }
      case _ => None
    }

  /** The `_metadata.file_path` predicate that leaves `skipped` out of a
    * scan of `data`. Both renderings of each path go in; a form Spark
    * does not produce never compares equal, which only loses pruning.
    *
    * The scan's generated code does not depend on how many objects are
    * skipped. Above the optimizer's In-to-InSet threshold `isin` is one
    * hash-set probe; at or below it Spark would inline one compare per
    * path, so every new skip count would compile the Find stage afresh
    * (the customer mapper's count moves between jobs). Short lists
    * therefore go through `array_contains` over one array literal. */
  def leaveOut(data: DataFrame, skipped: Seq[FileStatus]): Column = {
    val forms = skipped.flatMap { st =>
      val u = st.getPath.toUri
      Seq(u.toString, new HPath(st.getPath.toString).toUri.toString)
    }.distinct
    val path = data.metadataColumn("_metadata").getField("file_path")
    val inSetAbove = data.sparkSession.conf
      .get(SQLConf.OPTIMIZER_INSET_CONVERSION_THRESHOLD.key).toInt
    !(if (forms.size > inSetAbove) path.isin(forms: _*)
      else array_contains(typedLit(forms), path))
  }

  /** The build scan: ONE map-only pass over `data` minus `indexed` that
    * returns, per object path and per column of `columns`, the sorted
    * distinct hashes of its non-null string-rendered values. A path may
    * come back once per scan partition that read part of its object;
    * [[KeyIndex.built]] merges them. The caller runs the action. */
  def buildScan(data: DataFrame, columns: Seq[String],
                indexed: Seq[FileStatus]): RDD[(String, Array[Array[Long]])] = {
    val hashes = columns.map { c =>
      val s = col(c).cast(StringType)
      when(s.isNotNull, xxhash64(s))
    }
    val scan = if (indexed.isEmpty) data else data.filter(leaveOut(data, indexed))
    val n = columns.size
    scan.select(data.metadataColumn("_metadata").getField("file_path") +: hashes: _*)
      .queryExecution.toRdd.mapPartitions { rows =>
        val acc = scala.collection.mutable.LinkedHashMap
          .empty[String, Array[scala.collection.mutable.ArrayBuilder.ofLong]]
        var lastPath: org.apache.spark.unsafe.types.UTF8String = null
        var cur: Array[scala.collection.mutable.ArrayBuilder.ofLong] = null
        rows.foreach { r =>
          val p = r.getUTF8String(0)
          if (lastPath == null || p != lastPath) {
            lastPath = p.clone()
            cur = acc.getOrElseUpdate(lastPath.toString,
              Array.fill(n)(new scala.collection.mutable.ArrayBuilder.ofLong))
          }
          var i = 0
          while (i < n) {
            if (!r.isNullAt(i + 1)) cur(i).addOne(r.getLong(i + 1))
            i += 1
          }
        }
        acc.iterator.map { case (p, bs) => p -> bs.map(b => distinct(b.result())) }
      }
  }

  private def distinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var w = 0
    var i = 0
    while (i < a.length) {
      if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, w)
  }

  private def union(a: Array[Long], b: Array[Long]): Array[Long] =
    distinct(a ++ b)

  /** `a` without the members of `b`, both sorted. */
  private def minus(a: Array[Long], b: Array[Long]): Array[Long] =
    a.filter(x => java.util.Arrays.binarySearch(b, x) < 0)
}
