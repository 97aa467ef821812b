package graft.forget

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path => HPath}
import java.util.UUID

/** Local-filesystem analog of S3 object versioning (SURVEY.md §2.1 S11,
  * §2.6 O4, §2.7 U2; reference: backend/ecs_tasks/delete_files/s3.py).
  *
  * Layout: versions of `<dir>/<name>` live under
  * `<dir>/.graft-versions/<name>/` as `<mtime>-<uuid>` files; delete
  * markers are zero-byte `<mtime>-<uuid>.deletemarker` entries.
  *
  *   - [[capture]] — snapshot the current object before an overwrite (the
  *     implicit new-version behavior of a versioned S3 PUT, s3.py:61-98).
  *   - [[listVersions]] — versions + delete markers UNIONED (U2,
  *     s3.py:256-259,318-320), sorted by modification time BEFORE any bulk
  *     delete (O4, s3.py:260-261).
  *   - [[deleteOldVersions]] — purge superseded versions + markers (the
  *     mapper's DeleteOldVersions flag, s3.py:244-281).
  *   - [[rollback]] — restore the newest captured version (s3.py:344-357).
  */
object VersionedStore {

  final case class Version(path: HPath, mtimeMs: Long,
                           isDeleteMarker: Boolean)

  private def versionsDir(obj: HPath): HPath =
    new HPath(obj.getParent, new HPath(".graft-versions", obj.getName))

  /** Copy the current object into its versions dir; no-op when the object
    * does not exist yet. Returns the version path.
    *
    * On a local filesystem the copy goes through java.nio: Hadoop's
    * ChecksumFileSystem costs ~50 ms per small-file copy (a .crc sidecar
    * create plus permission bookkeeping per file), which dominates the
    * per-object rewrite cost on many-small-object jobs. A version file
    * without a sidecar is fine — ChecksumFileSystem skips verification
    * when no .crc exists, and rollback's delete-then-rename removes the
    * object's own sidecar before the version takes its place. */
  def capture(fs: FileSystem, obj: HPath): Option[HPath] = {
    localPath(fs, obj) match {
      case Some(src) =>
        // ONE stat answers existence + mtime (no separate exists
        // call). Only the MISSING-object case maps to None: a transient
        // stat failure on an existing object (permissions, I/O error)
        // must propagate and abort the commit BEFORE any destructive
        // action — swallowing it would skip the rollback snapshot and
        // weaken the capture-check-swap guarantee.
        val mtime =
          try java.nio.file.Files
            .getLastModifiedTime(src).toMillis
          catch { case _: java.nio.file.NoSuchFileException => return None }
        val v = new HPath(versionsDir(obj),
          f"$mtime%013d-${UUID.randomUUID()}")
        val dst = java.nio.file.Paths.get(v.toUri.getPath)
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.copy(src, dst)
        Some(v)
      case None =>
        if (!fs.exists(obj)) return None
        val st = fs.getFileStatus(obj)
        val dir = versionsDir(obj)
        val v = new HPath(dir,
          f"${st.getModificationTime}%013d-${UUID.randomUUID()}")
        fs.mkdirs(dir)
        FileUtil.copy(fs, obj, fs, v, false, fs.getConf)
        Some(v)
    }
  }

  /** file:// (or scheme-less local) paths as java.nio paths. */
  private[forget] def localPath(fs: FileSystem,
                                p: HPath): Option[java.nio.file.Path] =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem =>
        Some(java.nio.file.Paths.get(p.toUri.getPath))
      case _ => None
    }

  /** Zero-byte delete marker (the versioned-bucket DELETE analog). */
  def putDeleteMarker(fs: FileSystem, obj: HPath): HPath = {
    val dir = versionsDir(obj)
    fs.mkdirs(dir)
    val m = new HPath(dir,
      f"${System.currentTimeMillis()}%013d-${UUID.randomUUID()}.deletemarker")
    fs.create(m, true).close()
    m
  }

  /** Versions + delete markers, UNIONED, sorted by captured mtime
    * ascending (encoded in the name, so the order survives copies). */
  def listVersions(fs: FileSystem, obj: HPath): Seq[Version] = {
    val dir = versionsDir(obj)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map { st =>
      val name = st.getPath.getName
      Version(st.getPath, name.takeWhile(_ != '-').toLong,
        name.endsWith(".deletemarker"))
    }.sortBy(v => (v.mtimeMs, v.path.getName))
  }

  /** Delete every stored version and marker (called after a successful
    * rewrite when DeleteOldVersions is set). Returns how many went. */
  def deleteOldVersions(fs: FileSystem, obj: HPath): Int = {
    val versions = listVersions(fs, obj) // sorted before bulk delete (O4)
    // version files are sidecar-free (written via java.nio on local
    // FS), so a plain nio delete skips ChecksumFileSystem's per-delete
    // sidecar stat
    versions.foreach(v => localPath(fs, v.path) match {
      case Some(p) => java.nio.file.Files.deleteIfExists(p); ()
      case None => fs.delete(v.path, false); ()
    })
    val dir = versionsDir(obj)
    if (fs.exists(dir) && fs.listStatus(dir).isEmpty) fs.delete(dir, true)
    versions.size
  }

  /** Restore the newest non-marker version over the object; the consumed
    * version entry is removed. False when there is nothing to restore. */
  def rollback(fs: FileSystem, obj: HPath): Boolean =
    listVersions(fs, obj).filterNot(_.isDeleteMarker).lastOption match {
      case Some(v) =>
        if (fs.exists(obj) && !fs.delete(obj, false)) return false
        val ok = fs.rename(v.path, obj)
        ok
      case None => false
    }
}
