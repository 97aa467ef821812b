package graft.forget

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.find.Finder
import graft.find.Finder.{GroupMatches, TypedGroup}
import graft.forget.VersionedStore.localPath
import graft.model._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{GroupType, MessageType, PrimitiveType, Type => PType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DecimalLogicalTypeAnnotation, IntLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import java.util.UUID
import scala.util.control.NonFatal

/** The Forget engine: ONE Spark job over the whole object queue of a
  * deletion job — every mapper's objects together — plus one marker
  * sweep job, each object rewritten INSIDE a task with parquet-mr / raw
  * streams. No per-object or per-mapper driver-scheduled Spark actions,
  * so the driver's job count is independent of the queue and of the
  * mapper count (the reference's scenario 4, 45,300 objects,
  * docs/COST_OVERVIEW.md:288-290, is one job here, not one or more
  * driver jobs per object).
  *
  * This is the Spark analog of the reference's Fargate fleet
  * (backend/ecs_tasks/delete_files/main.py:288-306: N containers × process
  * pool, one object per child): Spark's scheduler replaces SQS, executors
  * replace containers, and the per-object counts flow back through
  * accumulators + the collected task outcomes instead of DynamoDB events.
  *
  * This object holds the only per-format rewrite loops: one for parquet
  * and one for JSON lines. A [[RecordRewrite]] strategy supplies only
  * what becomes of each record (a [[Disposition]]: keep, drop or
  * replace) and its zero-change wording; a job picks each object's
  * strategy by the object's mapper. Deletion ([[DeleteRewrite]]) and PII
  * redaction ([[graft.llm.PiiForget]]) are two such strategies, so
  * format I/O (local-nio vs Hadoop endpoints, codec, gzip, line framing,
  * error wording) is decided here alone.
  *
  * Per-task semantics mirror the reference engine exactly:
  *   - match: the reference's hand-written hash semi-join
  *     (parquet_handler.py:66-81, json_handler.py:52-64). The match
  *     values arrive cast once per job ([[Finder.typedGroups]]); per
  *     object each group's leaves are resolved once from the schema
  *     (case-insensitive dot paths, parquet_handler.py:24-33,45-61) and
  *     its tuples become one hash set of normalized keys, so a record
  *     costs one lookup per group whatever the queue size. Native-typed
  *     comparison with decimal coercion (parquet_handler.py:102-130);
  *     see [[LeafKind]] and [[JsonMatch]] for the key semantics.
  *   - parquet: one footer read per object; stream its row groups and
  *     drop any row where a match group hits
  *     (parquet_handler.py:133-177); the output writer reuses the source
  *     schema and compression codec. Row-group boundaries are the
  *     writer's choice — documented deviation (SURVEY.md §7.4 risk 1).
  *   - JSON-lines: parse each line once, for the disposition only;
  *     kept lines are written as the ORIGINAL line + '\n'
  *     (json_handler.py:49-72), gzip in/out by extension (main.py:172).
  *   - commit protocol: capture source (length, mtime) before reading,
  *     write survivors to a staging sibling, verify the source is
  *     unchanged, then swap — the local-FS analog of the reference's
  *     version-integrity check + rollback (s3.py:301-357).
  *   - zero-deletion on a found object is a hard error (main.py:182-187).
  */
object DistributedRewrite {

  /** Ships the driver's Hadoop configuration to tasks (fs.* credentials,
    * defaultFS, custom filesystem impls set via spark.hadoop.*); a bare
    * `new Configuration()` in the task would silently drop them.
    * `value` hands each caller its own copy — Configuration is not
    * thread-safe under mutation. */
  final class SerializableHadoopConf(
      @transient private var conf: Configuration) extends Serializable {
    def value: Configuration = new Configuration(conf)
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }

  // ------------------------------------------------------------------
  // Serializable match spec (built driver-side, shipped to tasks)
  // ------------------------------------------------------------------

  /** Native-typed match value, aligned with the declared column type by
    * [[Finder.typedGroups]] (one cast engine driver-side; the task only
    * compares). */
  sealed trait PVal extends Serializable
  final case class PLong(v: Long) extends PVal
  final case class PFloat(v: Float) extends PVal
  final case class PDouble(v: Double) extends PVal
  final case class PDecimal(v: java.math.BigDecimal) extends PVal
  final case class PString(v: String) extends PVal

  /** One column group's matches: dot-path segments per column + native
    * match tuples (tuples containing a null component are dropped —
    * null never matches, parquet_handler.py: `None in set` is False). */
  final case class TaskGroupSpec(paths: Seq[Seq[String]],
                                 tuples: Seq[Seq[PVal]]) extends Serializable

  /** Task specs from groups [[Finder.typedGroups]] already cast: no
    * value is cast again here. */
  def buildSpecs(typed: Seq[TypedGroup]): Seq[TaskGroupSpec] =
    typed.map { tg =>
      val tuples = tg.native.flatMap { tuple =>
        val pvals = tuple.map {
          case null => null
          case b: Byte => PLong(b.toLong)
          case s: Short => PLong(s.toLong)
          case i: Int => PLong(i.toLong)
          case l: Long => PLong(l)
          case f: Float => PFloat(f)
          case d: Double => PDouble(d)
          case bd: java.math.BigDecimal => PDecimal(bd)
          case bd: BigDecimal => PDecimal(bd.bigDecimal)
          case s: String => PString(s)
          case other =>
            // identifier validation rejects date/timestamp/etc upstream
            // (Catalog.isAllowedIdentifierType); fail loudly rather than
            // silently string-compare a type the task cannot evaluate
            throw new IllegalArgumentException(
              s"unsupported native match type: ${other.getClass.getName}")
        }
        if (pvals.contains(null)) None else Some(pvals)
      }
      TaskGroupSpec(tg.group.columns.map(_.split('.').toSeq), tuples)
    }

  /** One hash set per group: each tuple's parts mapped by `part(value,
    * column)` — a bare part for a one-column group, a `java.util.List`
    * of parts for a composite (element-wise equality). A tuple with a
    * part no stored value can equal (`null`) is left out. */
  private[forget] def keySet(tuples: Seq[Seq[PVal]],
                             part: (PVal, Int) => AnyRef)
      : java.util.HashSet[AnyRef] = {
    val keys = new java.util.HashSet[AnyRef]
    tuples.foreach { t =>
      val parts = t.indices.map(c => part(t(c), c))
      if (!parts.contains(null))
        keys.add(if (parts.size == 1) parts.head
                 else java.util.Arrays.asList(parts: _*))
    }
    keys
  }

  // ------------------------------------------------------------------
  // Task-side parquet match: one hash probe per column group
  // ------------------------------------------------------------------

  /** Case-insensitive field index lookup (parquet_handler.py:24-33). */
  private def fieldIndex(gt: GroupType, name: String): Int = {
    var i = 0
    while (i < gt.getFieldCount) {
      if (gt.getType(i).getName.equalsIgnoreCase(name)) return i
      i += 1
    }
    -1
  }

  /** Field indexes from the record root to the leaf at `path`, with the
    * leaf's type. None when a segment is missing or repeated, crosses a
    * primitive or ends on a group: such a column is never present, so
    * its group cannot match in this object. */
  private def leafSteps(schema: GroupType,
                        path: Seq[String]): Option[(Array[Int], PrimitiveType)] = {
    val steps = new Array[Int](path.length)
    var cur = schema
    var i = 0
    while (i < path.length) {
      val idx = fieldIndex(cur, path(i))
      if (idx < 0) return None
      val f = cur.getType(idx)
      if (f.isRepetition(PType.Repetition.REPEATED)) return None
      steps(i) = idx
      if (i == path.length - 1)
        return if (f.isPrimitive) Some((steps, f.asPrimitiveType())) else None
      if (f.isPrimitive) return None
      cur = f.asGroupType()
      i += 1
    }
    None
  }

  /** The one boxing of an integer key: Long when it fits, else the
    * BigInteger, so keys built from either side agree. */
  private def intKey(b: java.math.BigInteger): AnyRef =
    if (b.bitLength < 64) java.lang.Long.valueOf(b.longValue) else b

  /** How one parquet leaf type meets a match value: `row` reads the
    * stored value as a hash key; `key` maps a match value into the same
    * key space, or to null when no stored value of this leaf can equal
    * it. Equal keys ⇔ Spark's `col === lit(v)` on the value Spark's
    * reader yields, with the reference's numeric semantics
    * (parquet_handler.py:102-130):
    *   - ints widen to Long; UINT32/UINT64 read unsigned, as Spark
    *     widens them (to Long / Decimal(20,0)) on the Find side;
    *   - decimals compare by value at the column's scale, so the key is
    *     the unscaled integer (Decimal('2547.4') == Decimal('2547.40')),
    *     and a match value that does not fit the scale never matches;
    *   - float/double compare as Double with NaN equal to NaN and -0.0
    *     equal to 0.0 (Spark SQL semantics, as in
    *     [[Finder.forgetPredicate]]);
    *   - strings compare as their UTF-8 bytes, never decoded per row
    *     (byte equality is also what Spark's Find compares). */
  private sealed trait LeafKind {
    def row(g: Group, idx: Int): AnyRef
    def key(m: PVal): AnyRef
  }

  private final case class IntLeaf(unsigned: Boolean) extends LeafKind {
    def row(g: Group, idx: Int): AnyRef = {
      val v = g.getInteger(idx, 0)
      java.lang.Long.valueOf(if (unsigned) v & 0xffffffffL else v.toLong)
    }
    def key(m: PVal): AnyRef = m match {
      case PLong(v) => java.lang.Long.valueOf(v)
      case _ => null
    }
  }

  private final case class LongLeaf(unsigned: Boolean) extends LeafKind {
    def row(g: Group, idx: Int): AnyRef = {
      val v = g.getLong(idx, 0)
      if (v >= 0 || !unsigned) java.lang.Long.valueOf(v)
      else new java.math.BigInteger(java.lang.Long.toUnsignedString(v))
    }
    def key(m: PVal): AnyRef = (m, unsigned) match {
      case (PLong(v), _) => java.lang.Long.valueOf(v)
      case (PDecimal(d), true) =>
        // UINT64 is Decimal(20,0) in Spark: any integral value
        val s = d.stripTrailingZeros
        if (s.scale > 0) null else intKey(s.toBigIntegerExact)
      case _ => null
    }
  }

  private final case class DecimalLeaf(physical: PrimitiveType.PrimitiveTypeName,
                                       scale: Int) extends LeafKind {
    def row(g: Group, idx: Int): AnyRef = physical match {
      case INT32 => java.lang.Long.valueOf(g.getInteger(idx, 0).toLong)
      case INT64 => java.lang.Long.valueOf(g.getLong(idx, 0))
      case _ => intKey(new java.math.BigInteger(g.getBinary(idx, 0).getBytes))
    }
    def key(m: PVal): AnyRef = m match {
      case PDecimal(d) =>
        try intKey(d.setScale(scale, java.math.RoundingMode.UNNECESSARY)
          .unscaledValue)
        catch { case _: ArithmeticException => null }
      case _ => null
    }
  }

  private final case class FloatingLeaf(single: Boolean) extends LeafKind {
    // + 0.0 turns -0.0 into 0.0; java.lang.Double equality already
    // treats every NaN as equal
    def row(g: Group, idx: Int): AnyRef = java.lang.Double.valueOf(
      (if (single) g.getFloat(idx, 0).toDouble else g.getDouble(idx, 0)) + 0.0)
    def key(m: PVal): AnyRef = m match {
      case PFloat(v) => java.lang.Double.valueOf(v.toDouble + 0.0)
      case PDouble(v) => java.lang.Double.valueOf(v + 0.0)
      case _ => null
    }
  }

  private case object StringLeaf extends LeafKind {
    def row(g: Group, idx: Int): AnyRef = g.getBinary(idx, 0)
    def key(m: PVal): AnyRef = m match {
      case PString(v) => Binary.fromConstantByteArray(
        v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _ => null
    }
  }

  /** None for BOOLEAN/INT96, which are not identifier types. */
  private def leafKind(pt: PrimitiveType): Option[LeafKind] = {
    val name = pt.getPrimitiveTypeName
    (name, pt.getLogicalTypeAnnotation) match {
      case (INT32 | INT64 | BINARY | FIXED_LEN_BYTE_ARRAY,
            d: DecimalLogicalTypeAnnotation) =>
        Some(DecimalLeaf(name, d.getScale))
      case (INT32 | INT64, i: IntLogicalTypeAnnotation) =>
        Some(if (name == INT32) IntLeaf(!i.isSigned) else LongLeaf(!i.isSigned))
      case (INT32, _) => Some(IntLeaf(unsigned = false))
      case (INT64, _) => Some(LongLeaf(unsigned = false))
      case (FLOAT, _) => Some(FloatingLeaf(single = true))
      case (DOUBLE, _) => Some(FloatingLeaf(single = false))
      case (BINARY | FIXED_LEN_BYTE_ARRAY, _) => Some(StringLeaf)
      case _ => None
    }
  }

  /** A column group bound to one schema: per column, the field indexes
    * to its leaf and the leaf's kind; `keys` holds the group's tuples
    * in that key space. */
  private final class BoundGroup(steps: Array[Array[Int]],
                                 kinds: Array[LeafKind],
                                 keys: java.util.HashSet[AnyRef]) {
    /** The leaf's key, or null when any level is null (never matches). */
    private def rowKey(g: Group, c: Int): AnyRef = {
      val path = steps(c)
      var cur = g
      var i = 0
      while (i < path.length - 1) {
        if (cur.getFieldRepetitionCount(path(i)) == 0) return null
        cur = cur.getGroup(path(i), 0)
        i += 1
      }
      if (cur.getFieldRepetitionCount(path(i)) == 0) null
      else kinds(c).row(cur, path(i))
    }

    def matches(g: Group): Boolean =
      if (steps.length == 1) {
        val k = rowKey(g, 0)
        k != null && keys.contains(k)
      } else {
        val parts = new Array[AnyRef](steps.length)
        var c = 0
        while (c < parts.length) {
          parts(c) = rowKey(g, c)
          if (parts(c) == null) return false
          c += 1
        }
        keys.contains(java.util.Arrays.asList(parts: _*))
      }
  }

  /** The record match for objects with `schema`: true when all of a
    * group's columns are present and their values form one of its
    * tuples. */
  private[forget] def parquetMatcher(specs: Seq[TaskGroupSpec],
                                     schema: GroupType): Group => Boolean = {
    val bound = specs.flatMap { spec =>
      val leaves = spec.paths.map(leafSteps(schema, _))
      val kinds = leaves.flatMap(_.flatMap(l => leafKind(l._2)))
      if (kinds.size < spec.paths.size) None
      else {
        val keys = keySet(spec.tuples, (m, c) => kinds(c).key(m))
        if (keys.isEmpty) None
        else Some(new BoundGroup(leaves.map(_.get._1).toArray,
          kinds.toArray, keys))
      }
    }.toArray
    g => bound.exists(_.matches(g))
  }

  // ------------------------------------------------------------------
  // Local-filesystem fast path
  // ------------------------------------------------------------------
  //
  // On a local warehouse every Hadoop call goes through
  // ChecksumFileSystem: each open VERIFIES a .crc sidecar (re-reading
  // and CRC-ing the whole file), each create WRITES one, and
  // delete/rename double their syscalls to keep sidecars in step. The
  // rewrite task would pay that tax ~5× per object (read, staged
  // write, stat, swap, version copy) — pure overhead on a
  // many-small-object forget job, and the dominant per-object cost at
  // the 10k/40k soak rungs. Where the filesystem is local the task
  // uses java.nio / parquet's LocalInputFile|LocalOutputFile
  // directly (no sidecars, no verification — integrity is the commit
  // protocol's own capture-check-swap job, mirroring S3 where there
  // are no sidecars either); any other FileSystem keeps the exact
  // Hadoop path. A swap must also drop a PRE-EXISTING stale sidecar
  // (e.g. the source object was written through ChecksumFileSystem):
  // content changed, so a later checksummed read would fail on it.

  /** ChecksumFileSystem sidecar sibling (`.<name>.crc`). */
  private def crcSidecar(p: java.nio.file.Path): java.nio.file.Path =
    p.getParent.resolve("." + p.getFileName.toString + ".crc")

  // ------------------------------------------------------------------
  // Task-side file rewrites
  // ------------------------------------------------------------------

  /** Staging sibling name grammar (fixed-width fields, so the parse is
    * unambiguous even when object names or job ids contain dashes):
    *
    *   `.graft-staging-` (15) + uuid (36) + `-` + jobTag (16) + `-` + destName
    *
    * The job tag records WHICH run staged the file — diagnostic
    * provenance for crash debris (the reclamation itself is
    * tag-blind: by the time the post-job pass runs, every staging
    * file in the directory is dead). Dot-prefixed names are hidden
    * from Spark/Hadoop input listings, so an orphan is a disk leak,
    * never reader-visible corruption — but a leak per crashed task is
    * real storage at 100 TB, and without the pass nothing ever
    * reclaims it (every attempt stages under a fresh uuid). */
  private val StagingPrefix = ".graft-staging-"
  private val StagingNameStart = StagingPrefix.length + 36 + 1 + 16 + 1 // 69

  /** 16-hex job tag (two murmur passes) for staging-name provenance. */
  private[forget] def jobTag(jobId: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(jobId)}%08x" +
      f"${scala.util.hashing.MurmurHash3.stringHash(jobId.reverse)}%08x"

  private def stagingPath(dest: HPath, tag: String): HPath =
    new HPath(dest.getParent,
      s"$StagingPrefix${UUID.randomUUID()}-$tag-${dest.getName}")

  // Dead-run debris (staging orphans from a task that died between its
  // staging write and swap; idempotency markers a job that aborted
  // before its own sweep left behind) is reclaimed in the POST-JOB
  // directory pass below — ONE listing per parent directory, never a
  // per-task list: a per-object sweep re-lists the shared directory
  // O(N²) times for N co-located objects, which at the 40,960-object
  // soak scale is ~1.7e9 file-status calls (the exact trap the marker
  // sweep's history documents — measured 27 s of a 34 s job at 1,024
  // objects, and a wall the first cut of THIS feature hit at 40k).

  /** Per-(object, job) commit marker making the task idempotent under
    * Spark retry/speculation: a re-executed attempt whose predecessor
    * already committed (executor lost before reporting) would otherwise
    * re-read the rewritten object, find 0 matches, and fail the job with
    * a spurious ZeroDeletionError. The marker stores the committed
    * (processed, deleted) counts so the retry can replay the outcome.
    * The commit→marker write is not atomic, so the path stays
    * at-least-once in a crash window — the same guarantee the
    * reference's SQS redelivery gives its Fargate workers. */
  private[forget] def doneMarker(dest: HPath, jobId: String): HPath =
    new HPath(dest.getParent,
      new HPath(".graft-done", s"${dest.getName}.$jobId"))

  private[forget] def writeDoneMarker(fs: org.apache.hadoop.fs.FileSystem,
                              m: HPath, processed: Long,
                              deleted: Long): Unit = {
    val bytes = s"$processed,$deleted".getBytes("UTF-8")
    localPath(fs, m) match {
      case Some(p) =>
        // java.nio for local paths: a Hadoop LocalFileSystem create costs
        // ~25 ms (crc sidecar + permission bookkeeping) — pure overhead
        // on a 10-byte marker, ×1 per object per job.
        // Write-first, mkdir only on miss: createDirectories issues a
        // real mkdir syscall per call even when the directory exists
        // (EEXIST under the parent's inode write lock), which serializes
        // concurrent tasks on one directory mutex. The marker dir exists
        // for every object after the first, so the common case is one
        // open syscall.
        try java.nio.file.Files.write(p, bytes)
        catch {
          case _: java.nio.file.NoSuchFileException =>
            java.nio.file.Files.createDirectories(p.getParent)
            java.nio.file.Files.write(p, bytes)
        }
      case None =>
        val out = fs.create(m, true)
        try out.write(bytes) finally out.close()
    }
    ()
  }

  private def readDoneMarker(fs: org.apache.hadoop.fs.FileSystem,
                             m: HPath): (Long, Long) = {
    val in = fs.open(m)
    val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val parts = s.split(',')
    (parts(0).toLong, parts(1).toLong)
  }

  /** Capture-check-swap commit (reference s3.py:61-98,301-357 semantics
    * on a Hadoop FileSystem): integrity check against the captured source
    * version, snapshot the object into its version store (the versioned
    * PUT), swap, restore-from-version on a failed swap, and purge old
    * versions when the mapper allows (DeleteOldVersions, s3.py:244-281).
    * The delete+rename pair is not atomic — the same overwrite window an
    * S3 PUT has; the integrity check + version restore bound it. */
  private def commitTask(conf: Configuration, src: HPath, dest: HPath,
                         staged: HPath, srcLen: Long, srcMtime: Long,
                         deleteOldVersions: Boolean): Unit = {
    val fs = src.getFileSystem(conf)
    val st = fs.getFileStatus(src)
    if (st.getLen != srcLen || st.getModificationTime != srcMtime) {
      fs.delete(staged, false)
      throw new IntegrityCheckError(
        s"$src changed during rewrite (len ${st.getLen}!=$srcLen or mtime " +
          s"${st.getModificationTime}!=$srcMtime) — rolled back")
    }
    val nioDest = localPath(fs, dest)
    val nioStaged = localPath(fs, staged)
    // Version capture: when the swap below is the ATOMIC local-FS
    // rename AND the mapper purges versions anyway (deleteOldVersions),
    // the capture→swap→purge sequence nets to NOTHING on success — the
    // snapshot exists only to roll back a failed swap, and an atomic
    // rename either fully replaces dest or leaves it untouched (there
    // is no partial state to restore). Skipping it drops ~8
    // directory-metadata syscalls per object (mkdir×2, copy
    // open/creat, unlink, rmdir, list) that all serialize on the
    // SHARED .graft-versions parent inode lock. Version-store state after
    // the job is byte-identical: none in either case (the purge still
    // runs and still clears any PRIOR job's versions). The capture
    // stays for: deleteOldVersions=false (versions must accumulate —
    // the S3 versioned-PUT analog), and every non-local FileSystem
    // (the delete+rename pair is not atomic, so the snapshot is the
    // rollback guarantee there).
    val atomicSwap = nioDest.isDefined && nioStaged.isDefined
    val captured =
      if (atomicSwap && deleteOldVersions) None
      else VersionedStore.capture(fs, dest)
    (nioDest, nioStaged) match {
      case (Some(destNio), Some(stagedNio)) =>
        // one atomic same-directory rename replaces the delete+rename
        // pair (no reader-visible missing-object window on local FS);
        // a stale checksum sidecar of the OLD content goes first.
        // ATOMIC_MOVE: without it the JDK may silently fall back to
        // copy+delete (non-atomic, reader-visible partial state) if the
        // move ever crosses file stores — staging is same-directory, so
        // a violation fails loudly (AtomicMoveNotSupportedException
        // feeds the rollback path) instead of degrading.
        try {
          java.nio.file.Files.deleteIfExists(crcSidecar(destNio))
          java.nio.file.Files.move(stagedNio, destNio,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case NonFatal(e) =>
            java.nio.file.Files.deleteIfExists(stagedNio) // never leak
            val restored =
              captured.isDefined && VersionedStore.rollback(fs, dest)
            if (captured.isDefined && !restored)
              throw new RollbackFailedError(
                s"rename $staged -> $dest failed AND version restore failed",
                null, e)
            throw new IllegalStateException(
              if (captured.isDefined)
                s"rename $staged -> $dest failed (rolled back to prior " +
                  s"version): $e"
              else
                s"rename $staged -> $dest failed ($dest unchanged — " +
                  s"atomic move): $e")
        }
      case _ =>
        if (fs.exists(dest) && !fs.delete(dest, false)) {
          fs.delete(staged, false)
          throw new IllegalStateException(s"could not replace $dest")
        }
        if (!fs.rename(staged, dest)) {
          fs.delete(staged, false) // never leak the staging copy
          val restored =
            captured.isDefined && VersionedStore.rollback(fs, dest)
          if (captured.isDefined && !restored)
            throw new RollbackFailedError(
              s"rename $staged -> $dest failed AND version restore failed",
              null,
              new IllegalStateException(s"rename $staged -> $dest failed"))
          throw new IllegalStateException(
            s"rename $staged -> $dest failed (rolled back to prior version)")
        }
    }
    if (deleteOldVersions) VersionedStore.deleteOldVersions(fs, dest)
  }

  /** Serializable task outcome, turned into JobEvents driver-side.
    * `read` is the `(length, mtime)` of the object version the task
    * rewrote and `committed` that of the version it put in its place,
    * both as the Hadoop `FileStatus` reports them (ms); None when the
    * task committed nothing. */
  final case class TaskOutcome(path: String, ok: Boolean,
                               processed: Long, deleted: Long, ms: Long,
                               rollbackFailed: Boolean, error: String,
                               originalError: String,
                               skipped: Boolean = false,
                               read: Option[(Long, Long)] = None,
                               committed: Option[(Long, Long)] = None)

  // ------------------------------------------------------------------
  // The one-job driver entry
  // ------------------------------------------------------------------

  /** Task-side per-object rewrite: how ONE object becomes its staged
    * replacement. The surrounding machinery — staging paths, CSE
    * envelope, versioned commit, idempotency markers, marker sweep,
    * events — is identical for every strategy. Implementations must be
    * Serializable (they ship to executors). Returns
    * (rowsProcessed, rowsChanged); `rowsChanged == 0` on a Found object
    * is the Find/rewrite-inconsistency hard error (reference
    * main.py:182-187), worded by [[zeroChangeMessage]].
    *
    * The file-level methods are the seam failure injection wraps; a
    * real strategy is a [[RecordRewrite]], which runs this object's
    * shared loops. */
  private[graft] trait TaskRewrite extends Serializable {
    def parquet(conf: Configuration, src: HPath, staged: HPath): (Long, Long)
    def json(conf: Configuration, src: HPath, staged: HPath): (Long, Long)
    def zeroChangeMessage(path: String): String
  }

  /** What the shared loops do with one parquet record or one JSON line. */
  private[graft] sealed trait Disposition[+A]
  /** Write the record unchanged; a JSON line keeps its raw bytes. */
  private[graft] case object Keep extends Disposition[Nothing]
  /** Leave the record out of the rewritten object. */
  private[graft] case object Drop extends Disposition[Nothing]
  /** Write `value` in the record's place; a JSON node is re-serialized. */
  private[graft] final case class Replace[A](value: A) extends Disposition[A]

  /** The disposition seam: a strategy says what becomes of each parquet
    * record ([[records]], bound once per object to its schema) and each
    * parsed JSON line ([[line]]); the one parquet loop and the one
    * JSON-lines loop do every byte of format I/O. `rowsChanged` counts
    * the records dropped or replaced. A disposition may mutate and
    * return the record it was given. */
  private[graft] abstract class RecordRewrite extends TaskRewrite {
    def records(schema: MessageType): Group => Disposition[Group]
    def line(node: JsonNode): Disposition[JsonNode]
    final def parquet(conf: Configuration, src: HPath,
                      staged: HPath): (Long, Long) =
      rewriteParquet(conf, src, staged, this)
    final def json(conf: Configuration, src: HPath,
                   staged: HPath): (Long, Long) =
      rewriteJson(conf, src, staged, this)
  }

  /** The deletion strategy: drop every record one of `specs`' groups
    * matches (`private[forget]` so the crash-recovery spec can wrap it
    * with an injected post-staging failure). The matchers are built
    * task-side — the parquet one once per distinct schema a task meets,
    * the JSON one once per task. */
  private[forget] final class DeleteRewrite(specs: Seq[TaskGroupSpec])
      extends RecordRewrite {
    @transient private lazy val bySchema =
      new java.util.concurrent.ConcurrentHashMap[MessageType, Group => Boolean]
    @transient private lazy val jsonMatches = JsonMatch.matcher(specs)
    def records(schema: MessageType): Group => Disposition[Group] = {
      val matches = bySchema.computeIfAbsent(schema,
        s => parquetMatcher(specs, s))
      g => if (matches(g)) Drop else Keep
    }
    def line(node: JsonNode): Disposition[JsonNode] =
      if (jsonMatches(node)) Drop else Keep
    def zeroChangeMessage(path: String): String =
      s"$path was found by Find but Forget deleted 0 rows"
  }

  /** Delete the matches of `groups` from one mapper's `units`: casts the
    * groups, then runs [[runTyped]]. The cast runs BEFORE the
    * empty-units short-circuit — intentionally fail-fast: an uncastable
    * match id is a configuration error worth surfacing even when the
    * queue is empty (so `run(_, _, Nil, badGroups)` throws
    * [[graft.model.MatchIdCastingError]], not Nil). */
  def run(spark: SparkSession, jobId: String, units: Seq[ObjectWorkUnit],
          groups: Seq[GroupMatches],
          outPathFor: String => Option[String] = _ => None,
          codec: PayloadCodec = PayloadCodec.Identity): Seq[JobEvent] = {
    val typed = Finder.typedGroups(spark, groups)
    runTyped(spark, jobId, units,
      units.map(_.mapperId).distinct.map(_ -> typed).toMap, outPathFor, codec)
  }

  /** Delete from every work unit the records its own mapper's groups
    * match (`typedByMapper(unit.mapperId)`, cast once by the caller) in
    * ONE rewrite job and ONE marker sweep, however many mappers the
    * units span. Returns the job events (sorted by sk); live progress is
    * visible on the two accumulators
    * (`graft.forget.rowsProcessed|rowsDeleted`). */
  def runTyped(spark: SparkSession, jobId: String, units: Seq[ObjectWorkUnit],
               typedByMapper: Map[String, Seq[TypedGroup]],
               outPathFor: String => Option[String] = _ => None,
               codec: PayloadCodec = PayloadCodec.Identity): Seq[JobEvent] =
    events(jobId, deleteTyped(spark, jobId, units, typedByMapper, outPathFor,
      codec))

  /** [[runTyped]]'s rewrite job, returning the per-object outcomes. */
  def deleteTyped(spark: SparkSession, jobId: String, units: Seq[ObjectWorkUnit],
                  typedByMapper: Map[String, Seq[TypedGroup]],
                  outPathFor: String => Option[String] = _ => None,
                  codec: PayloadCodec = PayloadCodec.Identity)
      : Seq[TaskOutcome] =
    rewriteAll(spark, jobId, units,
      typedByMapper.map { case (m, typed) =>
        m -> (new DeleteRewrite(buildSpecs(typed)): TaskRewrite)
      }, outPathFor, codec)

  /** Rewrite every work unit with one strategy in ONE Spark job. */
  private[graft] def runWith(spark: SparkSession, jobId: String,
                             units: Seq[ObjectWorkUnit],
                             rewrite: TaskRewrite,
                             outPathFor: String => Option[String] = _ => None,
                             codec: PayloadCodec = PayloadCodec.Identity)
      : Seq[JobEvent] =
    events(jobId, rewriteAll(spark, jobId, units,
      units.map(_.mapperId -> rewrite).toMap, outPathFor, codec))

  /** Deal `units` into at most `slices` task batches, largest first:
    * units of known size (`sizeBytes` ≥ 0) by size descending, then the
    * rest in their given order, dealt back and forth across the batches
    * (batch 0, 1, …, n−1, then n−1, …, 0, …), so the `slices` largest
    * objects land one per task and the batch sums stay close. */
  private[forget] def deal(units: Seq[ObjectWorkUnit],
                           slices: Int): Seq[Seq[ObjectWorkUnit]] = {
    val (known, unknown) = units.partition(_.sizeBytes >= 0)
    val order = known.sortBy(-_.sizeBytes) ++ unknown
    val n = math.max(1, math.min(slices, order.size))
    val batches = Array.fill(n)(Vector.newBuilder[ObjectWorkUnit])
    order.zipWithIndex.foreach { case (u, i) =>
      val (wave, at) = (i / n, i % n)
      batches(if (wave % 2 == 0) at else n - 1 - at) += u
    }
    batches.toSeq.map(_.result())
  }

  /** The job body shared by every [[TaskRewrite]] strategy: ONE rewrite
    * job (k objects per task, dealt by [[deal]]), each unit rewritten by
    * `rewriteOf(unit.mapperId)`, then ONE marker sweep job. */
  private def rewriteAll(spark: SparkSession, jobId: String,
                         units: Seq[ObjectWorkUnit],
                         rewriteOf: Map[String, TaskRewrite],
                         outPathFor: String => Option[String],
                         codec: PayloadCodec): Seq[TaskOutcome] = {
    if (units.isEmpty) return Nil
    val accProcessed = spark.sparkContext.longAccumulator("graft.forget.rowsProcessed")
    val accDeleted = spark.sparkContext.longAccumulator("graft.forget.rowsDeleted")

    def dest(u: ObjectWorkUnit): String =
      outPathFor(u.path).map(stripScheme).getOrElse(stripScheme(u.path))

    val confBc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val tag = jobTag(jobId)
    // Task granularity: k objects per task. One task per object would
    // put the SCHEDULER on the critical path at soak scale (~1 ms of
    // dispatch per task, tens of thousands of tasks). Per-object
    // semantics do not depend on k: every contract (failure isolation,
    // idempotency markers, rollback, zero-deletion, accumulators) lives
    // in the per-object body below, which catches everything and emits
    // one TaskOutcome per object — a batch neighbor's failure cannot
    // fail this object, and a retried/speculated batch replays each
    // committed member from its own done marker. k is scale-adaptive
    // (targets 8 task waves per core so stragglers amortize — a fixed k
    // would under-split small queues or over-split large ones) and
    // bounded to 32 objects so one retry never redoes more than that.
    // The largest objects are dealt first, one per task (`deal`): a
    // task holding two of them would finish last by their sum.
    val auto = math.ceil(units.size.toDouble /
      (spark.sparkContext.defaultParallelism.toDouble * 8)).toInt
    val k = math.min(32, math.max(1, auto))
    val batches = deal(units, math.ceil(units.size.toDouble / k).toInt)
      .map(_.map(u => (u, dest(u))))
    val outcomes = spark.sparkContext
      .parallelize(batches, batches.size) // one batch per task (see above)
      .mapPartitions { it =>
        // ONE Configuration copy per task, not per object: the copy ctor
        // re-walks the source's property overlay under its monitor, so
        // per-object copies cost ~1-2 ms of cpu each and contend on the
        // shared broadcast value. Single-threaded within the task, so
        // the objects of one batch can safely share the copy.
        val conf = confBc.value.value
        it.flatten.map { case (u, destStr) =>
        val t0 = System.currentTimeMillis()
        val src = new HPath(stripScheme(u.path))
        val dest = new HPath(destStr)
        try {
          val fs = src.getFileSystem(conf)
          // ONE stat answers both "does it exist" and the later
          // len/mtime capture (the former exists + getFileStatus pair)
          val stOpt =
            try Some(fs.getFileStatus(src))
            catch { case _: java.io.FileNotFoundException => None }
          val mfs = dest.getFileSystem(conf)
          val marker = doneMarker(dest, jobId)
          val markerExists = localPath(mfs, marker) match {
            case Some(p) => java.nio.file.Files.exists(p)
            case None => mfs.exists(marker)
          }
          if (stOpt.isEmpty && u.ignoreObjectNotFound)
            // reference main.py:213-231: missing object + the mapper's
            // IgnoreObjectNotFoundExceptions flag ⇒ skip, not fail
            TaskOutcome(u.path, ok = false, 0, 0,
              System.currentTimeMillis() - t0, rollbackFailed = false,
              s"${u.path} not found (skipped)", "", skipped = true)
          else if (markerExists) {
            // a prior attempt of THIS job already committed this object
            // (executor lost before reporting / speculative duplicate):
            // replay its recorded counts instead of re-rewriting —
            // Spark dropped the lost attempt's accumulator updates
            val (p0, d0) = readDoneMarker(mfs, marker)
            accProcessed.add(p0)
            accDeleted.add(d0)
            TaskOutcome(u.path, ok = true, p0, d0,
              System.currentTimeMillis() - t0, rollbackFailed = false, "", "")
          } else {
          // missing object without the ignore flag: re-raise the real
          // FileNotFoundException the former getFileStatus threw here
          val st = stOpt.getOrElse(fs.getFileStatus(src))
          val (srcLen, srcMtime) = (st.getLen, st.getModificationTime)
          val staged = stagingPath(dest, tag)
          // CSE seam (cse.py:27-36,85-104): decode the envelope to an
          // EXECUTOR-LOCAL plaintext copy (plain java.io — never the
          // source filesystem, which may be a remote shared store),
          // rewrite that, re-encode the output. The finally below
          // guarantees decrypted plaintext never survives a failed task.
          val plainLocal: Option[java.io.File] =
            if (codec eq PayloadCodec.Identity) None
            else {
              val tmp =
                java.io.File.createTempFile("graft-cse-", "-" + src.getName)
              val in = fs.open(src)
              val bytes = try in.readAllBytes() finally in.close()
              val os = new java.io.FileOutputStream(tmp)
              try os.write(codec.decode(bytes)) finally os.close()
              Some(tmp)
            }
          try {
            val plainSrc =
              plainLocal.map(f => new HPath(f.toURI)).getOrElse(src)
            val rewrite = rewriteOf(u.mapperId)
            val (processed, deleted) = u.format match {
              case DataFormat.Parquet =>
                rewrite.parquet(conf, plainSrc, staged)
              case DataFormat.JsonLines =>
                rewrite.json(conf, plainSrc, staged)
            }
            if (!(codec eq PayloadCodec.Identity)) {
              val sfs = staged.getFileSystem(conf)
              try {
                val in = sfs.open(staged)
                val plain = try in.readAllBytes() finally in.close()
                val out = sfs.create(staged, true)
                try out.write(codec.encode(plain)) finally out.close()
              } catch {
                case NonFatal(e) => sfs.delete(staged, false); throw e
              }
            }
            if (deleted == 0L) {
              fs.delete(staged, false)
              throw new ZeroDeletionError(rewrite.zeroChangeMessage(u.path))
            }
            // a rename keeps length and mtime: the staged copy's are the
            // committed object's
            val out = staged.getFileSystem(conf).getFileStatus(staged)
            commitTask(conf, src, dest, staged, srcLen, srcMtime,
              u.deleteOldVersions)
            writeDoneMarker(mfs, marker, processed, deleted)
            accProcessed.add(processed)
            accDeleted.add(deleted)
            TaskOutcome(u.path, ok = true, processed, deleted,
              System.currentTimeMillis() - t0, rollbackFailed = false, "", "",
              read = Some((srcLen, srcMtime)),
              committed = Some((out.getLen, out.getModificationTime)))
          } finally plainLocal.foreach { f => if (f.exists()) f.delete() }
          }
        } catch {
          case e: RollbackFailedError =>
            TaskOutcome(u.path, ok = false, 0, 0,
              System.currentTimeMillis() - t0, rollbackFailed = true,
              e.getMessage,
              Option(e.original).map(_.getMessage).getOrElse(""))
          case NonFatal(e) =>
            TaskOutcome(u.path, ok = false, 0, 0,
              System.currentTimeMillis() - t0, rollbackFailed = false,
              String.valueOf(e.getMessage), "")
        }
        }
      }
      .collect()

    // all attempts/retries are finished once collect() returns — sweep the
    // per-job commit markers (best-effort, map-only, no shuffle). ONE
    // pass per parent DIRECTORY — list once, delete this job's markers,
    // one emptiness re-check — never per object: a per-object sweep
    // re-lists the shared marker dir O(N²) times for N co-located
    // objects (measured: 27 s of a 34 s job at 1,024 objects in one
    // prefix).
    val markerDirs = units.map { u =>
      new HPath(new HPath(dest(u)).getParent, ".graft-done").toString
    }.distinct
    spark.sparkContext
      .parallelize(markerDirs, math.max(1, math.min(markerDirs.size, 64)))
      .foreach { dirStr =>
        val conf = confBc.value.value
        try {
          val dir = new HPath(dirStr)
          val dfs = dir.getFileSystem(conf)
          if (dfs.exists(dir)) {
            // EVERY marker in a directory this job touched goes: our
            // own are consumed (all attempts finished once collect()
            // returned), and a foreign one is an ABORTED run's leak —
            // its job died between a task's commit and its own sweep.
            // Safe under the one-concurrent-job invariant
            // (GraftApi.startJob): no other job is live while this
            // pass runs, so no marker here can be awaiting replay.
            dfs.listStatus(dir).foreach(st =>
              dfs.delete(st.getPath, false))
            // non-recursive: refuses (harmlessly) if a concurrent job
            // added markers between the list and this check
            if (dfs.listStatus(dir).isEmpty) dfs.delete(dir, false)
          }
          // reclaim ALL staging debris in the data dir: own-tag files
          // are a failed attempt's leftovers
          // (every live attempt is done), foreign-tag files are a
          // dead prior run's orphans — a task that died between its
          // staging write and swap. Dot-prefixed names are invisible
          // to readers, so until a job passes through this directory
          // the orphan is a disk leak, never corruption.
          val dataDir = dir.getParent
          dfs.listStatus(dataDir).foreach { st =>
            val n = st.getPath.getName
            if (n.startsWith(StagingPrefix) && n.length > StagingNameStart)
              dfs.delete(st.getPath, false)
          }
        } catch { case NonFatal(_) => () }
      }

    outcomes.toSeq
  }

  /** The job events of a rewrite job's outcomes, sorted by sk. */
  def events(jobId: String, outcomes: Seq[TaskOutcome]): Seq[JobEvent] = {
    def sk(): String = EventSk.next()
    outcomes.flatMap { o =>
      if (o.ok)
        Seq(JobEvent(jobId, sk(), JobEventName.ObjectUpdated,
          System.currentTimeMillis(), statsProcessed = o.processed,
          statsDeleted = o.deleted, timeTakenMs = o.ms, path = o.path))
      else if (o.skipped)
        Seq(JobEvent(jobId, sk(), JobEventName.ObjectUpdateSkipped,
          System.currentTimeMillis(), path = o.path, error = o.error))
      else if (o.rollbackFailed) {
        val orig =
          if (o.originalError.nonEmpty)
            Seq(JobEvent(jobId, sk(), JobEventName.ObjectUpdateFailed,
              System.currentTimeMillis(), path = o.path,
              error = o.originalError))
          else Nil
        orig :+ JobEvent(jobId, sk(), JobEventName.ObjectRollbackFailed,
          System.currentTimeMillis(), path = o.path, error = o.error)
      } else
        Seq(JobEvent(jobId, sk(), JobEventName.ObjectUpdateFailed,
          System.currentTimeMillis(), path = o.path, error = o.error))
    }.sortBy(_.sk)
  }

  /** parquet-mr reader/writer endpoints on the fastest correct IO
    * path: java.nio-backed LocalInputFile/LocalOutputFile on a local
    * FileSystem (no ChecksumFileSystem sidecar verify/write — see the
    * fast-path note above), the Hadoop file abstractions anywhere
    * else. */
  private def parquetInput(conf: Configuration,
                           src: HPath): org.apache.parquet.io.InputFile =
    localPath(src.getFileSystem(conf), src) match {
      case Some(p) => new org.apache.parquet.io.LocalInputFile(p)
      case None => HadoopInputFile.fromPath(src, conf)
    }

  /** The one parquet open in the engine, with the caller's conf: the
    * no-options open overload (like every ParquetReader.Builder ctor
    * but the ParquetConfiguration one) eagerly constructs a FRESH
    * `new Configuration()`, which re-parses core-default.xml and
    * core-site.xml out of the jars (~8 ms of Inflater + woodstox XML
    * work, not parquet) — a tax a many-small-object job would pay per
    * object. */
  private def openParquet(conf: Configuration,
                          src: HPath): ParquetFileReader =
    ParquetFileReader.open(parquetInput(conf, src),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())

  /** Footer read through [[openParquet]]; the Find phase's scan-bytes
    * stat ([[graft.tools.ParquetStats]]) uses it. */
  private[graft] def readFooter(conf: Configuration, src: HPath)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val r = openParquet(conf, src)
    try r.getFooter finally r.close()
  }

  private def groupWriterBuilder(conf: Configuration, staged: HPath)
      : org.apache.parquet.hadoop.example.ExampleParquetWriter.Builder =
    (localPath(staged.getFileSystem(conf), staged) match {
      case Some(p) =>
        ExampleParquetWriter.builder(new org.apache.parquet.io.LocalOutputFile(p))
      case None => ExampleParquetWriter.builder(staged)
    }).withConf(conf)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)

  /** Best-effort staged-file cleanup (error paths). */
  private def deleteStaged(conf: Configuration, staged: HPath): Unit = {
    val fs = staged.getFileSystem(conf)
    localPath(fs, staged) match {
      case Some(p) => java.nio.file.Files.deleteIfExists(p); ()
      case None => fs.delete(staged, false); ()
    }
  }

  /** `input_file_name()` yields a percent-encoded `file:` URI; decode it
    * to a real filesystem path (spaces, '%', unicode) — raw strings that
    * aren't URIs pass through unchanged. */
  private[graft] def stripScheme(p: String): String =
    if (p.startsWith("file:"))
      try new java.net.URI(p).getPath
      catch { case _: java.net.URISyntaxException => p.stripPrefix("file:") }
    else p

  /** The one parquet rewrite loop, writing to a given staging path (no
    * commit). ONE open per object: the schema and compression codec
    * come from that reader's footer, and the same reader then streams
    * its row groups, `getRowCount` records each. Every record goes to
    * the disposition `rw.records` binds to the footer's schema; the
    * writer reuses the source schema and codec.
    * Partial staged output is deleted on failure. */
  private def rewriteParquet(conf: Configuration, src: HPath, staged: HPath,
                             rw: RecordRewrite): (Long, Long) = {
    var processed = 0L
    var changed = 0L
    val reader = openParquet(conf, src)
    try {
      val footer = reader.getFooter
      val meta = footer.getFileMetaData
      val schema = meta.getSchema
      val codec =
        if (footer.getBlocks.isEmpty || footer.getBlocks.get(0).getColumns.isEmpty)
          CompressionCodecName.SNAPPY
        else footer.getBlocks.get(0).getColumns.get(0).getCodec
      val columnIO = new ColumnIOFactory(meta.getCreatedBy).getColumnIO(schema)
      val disposition = rw.records(schema)
      val writer: ParquetWriter[Group] = groupWriterBuilder(conf, staged)
        .withType(schema)
        .withCompressionCodec(codec)
        .build()
      try {
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val records = columnIO.getRecordReader(pages,
            new GroupRecordConverter(schema))
          var left = pages.getRowCount
          while (left > 0) {
            val g = records.read()
            processed += 1
            disposition(g) match {
              case Keep => writer.write(g)
              case Drop => changed += 1
              case Replace(r) => changed += 1; writer.write(r)
            }
            left -= 1
          }
          pages = reader.readNextRowGroup()
        }
      } finally writer.close()
      (processed, changed)
    } catch {
      case NonFatal(e) =>
        deleteStaged(conf, staged) // no partial staging
        throw e
    } finally reader.close()
  }

  /** Raw byte stream endpoints on the fastest correct IO path (the
    * [[parquetInput]] rule for line-format rewrites); the nio output
    * is buffered because line rewrites issue many small writes. */
  private def byteSource(conf: Configuration,
                         src: HPath): java.io.InputStream =
    localPath(src.getFileSystem(conf), src) match {
      case Some(p) => java.nio.file.Files.newInputStream(p)
      case None => src.getFileSystem(conf).open(src)
    }

  private def byteSink(conf: Configuration,
                       staged: HPath): java.io.OutputStream =
    localPath(staged.getFileSystem(conf), staged) match {
      case Some(p) => new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(p), 1 << 16)
      case None => staged.getFileSystem(conf).create(staged, true)
    }

  /** One mapper per JVM parses and re-serializes every JSON line
    * (thread-safe once built). */
  private lazy val jsonMapper = new ObjectMapper()

  /** The one JSON-lines rewrite loop: constant memory regardless of
    * (decompressed) object size — one pass splitting on '\n' bytes,
    * each line parsed ONCE and its node handed to `rw.line`. A kept
    * line is written as its raw bytes + '\n' (json_handler.py:70), a
    * replacement as the re-serialized node + '\n'; the final
    * unterminated line still counts (boto_utils.py:251-256). A line
    * that does not parse fails the object with its line number
    * (boto_utils.py:255-263). Partial staged output is deleted on
    * failure. */
  private def rewriteJson(conf: Configuration, src: HPath, staged: HPath,
                          rw: RecordRewrite): (Long, Long) = {
    import java.util.zip.{GZIPInputStream, GZIPOutputStream}
    val gz = src.getName.endsWith(".gz")
    var processed = 0L
    var changed = 0L
    val in = {
      val raw = byteSource(conf, src)
      if (gz) new GZIPInputStream(raw, 1 << 16) else raw
    }
    try {
      val outRaw = byteSink(conf, staged)
      val out = if (gz) new GZIPOutputStream(outRaw, 1 << 16) else outRaw
      try {
        val buf = new Array[Byte](1 << 16)
        val line = new java.io.ByteArrayOutputStream(1 << 12)
        def flushLine(): Unit = {
          val bytes = line.toByteArray
          line.reset()
          processed += 1
          val node =
            try jsonMapper.readTree(
              new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
            catch {
              case e: Exception =>
                throw new IllegalArgumentException(
                  s"Serialization error when parsing JSON lines: " +
                    s"line $processed: ${e.getMessage}", e)
            }
          rw.line(node) match {
            case Keep => out.write(bytes); out.write('\n')
            case Drop => changed += 1
            case Replace(n) =>
              changed += 1
              out.write(jsonMapper.writeValueAsBytes(n)); out.write('\n')
          }
        }
        var n = in.read(buf)
        while (n >= 0) {
          var start = 0
          var i = 0
          while (i < n) {
            if (buf(i) == '\n') {
              line.write(buf, start, i - start)
              flushLine()
              start = i + 1
            }
            i += 1
          }
          if (start < n) line.write(buf, start, n - start)
          n = in.read(buf)
        }
        if (line.size() > 0) flushLine() // no trailing newline
      } finally out.close()
      (processed, changed)
    } catch {
      case NonFatal(e) => deleteStaged(conf, staged); throw e
    } finally in.close()
  }
}
