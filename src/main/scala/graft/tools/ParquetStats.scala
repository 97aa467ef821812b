package graft.tools

import graft.forget.DistributedRewrite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import scala.jdk.CollectionConverters._

/** Footer-level parquet statistics.
  *
  * The reference's headline Find optimization is that the generated query
  * touches ONLY the identifier columns, so Athena scans 1.3-7% of the
  * table bytes (reference docs/COST_OVERVIEW.md:219,241; README.md:75-81).
  * Catalyst's column pruning gives the same plan; this helper measures it
  * from the column-chunk metadata: bytes of the pruned projection vs the
  * whole file — the BASELINE.md facet (a) scan ratio.
  *
  * Footers are read through [[DistributedRewrite.readFooter]] with the
  * caller's conf, so a per-object stat costs no fresh `Configuration`.
  */
object ParquetStats {

  final case class ScanBytes(selected: Long, total: Long, rows: Long) {
    def ratio: Double = if (total == 0) 0.0 else selected.toDouble / total
    def merge(o: ScanBytes): ScanBytes =
      ScanBytes(selected + o.selected, total + o.total, rows + o.rows)
  }

  /** Compressed bytes of the chunks belonging to `columns` (dot paths,
    * case-insensitive; a path selects its own chunk and any chunk nested
    * under it) vs all chunks of the file. */
  def columnBytes(conf: Configuration, file: String,
                  columns: Seq[String]): ScanBytes = {
    // Locale.ROOT: a tr-TR JVM lowercases "L_SHIPDATE" to "l_shıpdate"
    // (dotless ı), silently matching NO chunk — the selected-bytes ratio
    // would read 0 for any uppercase identifier. Case-insensitivity here
    // is an IDENTIFIER contract, never a linguistic one.
    val wanted = columns.map(_.toLowerCase(java.util.Locale.ROOT))
    var selected = 0L
    var total = 0L
    var rows = 0L
    DistributedRewrite.readFooter(conf, new HPath(file))
      .getBlocks.asScala.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.foreach { c =>
          val path = c.getPath.toDotString
            .toLowerCase(java.util.Locale.ROOT)
          total += c.getTotalSize
          if (wanted.exists(w => path == w || path.startsWith(w + ".")))
            selected += c.getTotalSize
        }
      }
    ScanBytes(selected, total, rows)
  }

  def columnBytes(conf: Configuration, files: Seq[String],
                  columns: Seq[String])(implicit d: DummyImplicit): ScanBytes =
    files.map(columnBytes(conf, _, columns))
      .foldLeft(ScanBytes(0, 0, 0))(_ merge _)

  /** Exact row count of a parquet file or directory from footer
    * metadata alone — a driver-side read of a few KB per file, NO Spark
    * job. The right way to size corpus-derived knobs (e.g. the LSH bit
    * width of [[graft.llm.RandomHyperplaneLsh.auto]]): a `df.count()`
    * action schedules a full scan stage for a number parquet already
    * stores in every footer. */
  def rowCount(conf: Configuration, path: String): Long = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory) {
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[HPath]
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (name.endsWith(".parquet") && !name.startsWith("_") &&
              !name.startsWith(".")) buf += f.getPath
        }
        buf.toSeq
      } else Seq(p)
    files.map(f => DistributedRewrite.readFooter(conf, f)
      .getBlocks.asScala.map(_.getRowCount).sum).sum
  }
}
