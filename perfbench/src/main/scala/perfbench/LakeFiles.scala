package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Plain java.nio file helpers: copying a lake, removing it, listing its
  * objects. No engine code is involved, so the oracle can trust them. */
object LakeFiles {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Every regular file under `root`, relative path -> (bytes, mtime). */
  def listing(root: Path): Map[String, (Long, Long)] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      root.relativize(p).toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap finally s.close()
  }

  def dataBytes(root: Path): Long =
    listing(root).collect { case (k, (n, _)) if isData(k) => n }.sum

  /** A data object, as opposed to a hidden or underscore-prefixed
    * sidecar, marker or staging entry anywhere on its path. */
  def isData(rel: String): Boolean =
    rel.split('/').forall(s => !s.startsWith(".") && !s.startsWith("_"))
}
