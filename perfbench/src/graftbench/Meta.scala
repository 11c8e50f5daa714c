package graftbench

import java.nio.file.Path
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.tables.SnapshotTable

/** What one snapshot commit wrote, read back from the metadata the
  * table already keeps (`snapshotInfo`, `filesMeta`). */
final case class Commit(layer: String, id: Long, operation: String,
    buckets: Int, bytes: Long, rows: Long, committedAtMs: Long)

object Meta {
  private def manifest(info: Map[String, String], key: String): Map[Int, Long] =
    info.get(key).filter(_.nonEmpty).map(_.split(";").map { e =>
      val Array(b, v) = e.split(":"); b.toInt -> v.toLong
    }.toMap).getOrElse(Map.empty)

  /** Every commit of `t` after snapshot `after`, oldest first. A
    * bucketed commit wrote the buckets its manifest now sources from
    * itself; a merge-on-read delta wrote only its own data dir, whose
    * rows are counted from the parquet footers. */
  def commitsAfter(layer: String, t: SnapshotTable, after: Long): Seq[Commit] =
    t.snapshots.filter(_ > after).map { id =>
      val info = t.snapshotInfo(id)
      val at = info.get("committedAtMs").map(_.toLong).getOrElse(0L)
      val op = info.getOrElse("operation", "")
      if (info.contains("deltaParent")) {
        val own = s"/data/$id/"
        val files = t.filesMeta(Some(id)).collect().toSeq
          .map(r => (r.getString(2), r.getLong(3))).filter(_._1.contains(own))
        val buckets = files.flatMap(f => "__b=(\\d+)".r.findFirstMatchIn(f._1).map(_.group(1)))
          .distinct.size
        Commit(layer, id, op, buckets, files.map(_._2).sum,
          files.map(f => footerRows(f._1)).sum, at)
      } else {
        val mine = manifest(info, "bucketSrc").filter(_._2 == id).keySet
        Commit(layer, id, op, mine.size,
          manifest(info, "bucketBytes").filter(e => mine(e._1)).values.sum,
          manifest(info, "bucketRows").filter(e => mine(e._1)).values.sum, at)
      }
    }

  private val hconf = new Configuration()

  private def footerRows(path: String): Long = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), hconf))
    try r.getRecordCount finally r.close()
  }

  /** Latest snapshot id of each table. */
  def heads(tables: Map[String, SnapshotTable]): Map[String, Long] =
    tables.map { case (n, t) => n -> t.currentSnapshot.getOrElse(0L) }

  /** Parquet files a full read of the current snapshot opens. */
  def readFiles(t: SnapshotTable): Long = t.filesMeta().count()

  def tablesAt(s: org.apache.spark.sql.SparkSession, root: Path,
      layers: Seq[String]): Map[String, SnapshotTable] =
    layers.map(l => l -> SnapshotTable.load(s, root.resolve(l).toString))
      .filter(_._2.currentSnapshot.nonEmpty).toMap
}
