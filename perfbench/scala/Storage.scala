package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Table-layer storage at the end of a run, from a walk of each table's
  * directory plus its `$files` and `$history` metadata tables.
  *
  * Stored bytes are every file under the table's directory (metadata under
  * `_graft`/`_iceberg`, everything else data or delete files) plus live
  * files that sit outside it (tables imported in place). User bytes are the
  * same live rows written once as plain parquet; for a table whose live
  * files all sit outside its directory with no delete files (imported in
  * place and never changed) those files are that copy. Hadoop `.crc` side
  * files are left out on both sides. */
final case class Storage(dataBytes: Long, metaBytes: Long, deleteBytes: Long,
    liveFiles: Long, deleteFiles: Long, historyLen: Long, userBytes: Long,
    bytesPerRow: Map[String, Double]) {

  def bytesPerUserByte: Double = (dataBytes + metaBytes + deleteBytes).toDouble / userBytes

  def write(j: Json): Unit = {
    j.num("data_bytes", dataBytes); j.num("meta_bytes", metaBytes)
    j.num("delete_bytes", deleteBytes); j.num("live_files", liveFiles)
    j.num("delete_files", deleteFiles); j.num("history_len", historyLen)
    j.num("user_bytes", userBytes)
  }

  def perLayer(p: Json, tr: Trace): Unit = {
    p.num("table.data_bytes", dataBytes); p.num("table.meta_bytes", metaBytes)
    p.num("table.delete_bytes", deleteBytes); p.num("table.live_files", liveFiles)
    p.num("table.delete_files", deleteFiles); p.num("table.history_len", historyLen)
    p.num("table.write_amp", tr.writeAmp(bytesPerRow))
    p.num("table.files_kept_ratio", tr.filesKeptRatio)
  }
}

object Storage {
  private def isMeta(p: Path): Boolean =
    p.iterator().asScala.exists(s => s.toString == "_graft" || s.toString == "_iceberg" ||
      s.toString.startsWith("_staging-"))

  private def walk(root: Path): Seq[(Path, Long)] =
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.endsWith(".crc"))
        .map(p => p.toAbsolutePath.normalize() -> Files.size(p)).toVector
      finally s.close()
    }

  /** Bytes under the warehouse directory (write amplification probe). */
  def warehouseBytes(b: LakeBench): Long = walk(Paths.get(b.warehouse)).map(_._2).sum

  private def resolve(root: Path, p: String): Path =
    if (p.startsWith("file:")) Paths.get(java.net.URI.create(p)).toAbsolutePath.normalize()
    else if (p.startsWith("/")) Paths.get(p).normalize()
    else root.resolve(p).toAbsolutePath.normalize()

  def measure(b: LakeBench): Storage = {
    val spark = b.spark
    val parts = Gen.par(b.workload.tables.map { t => () =>
      val root = Paths.get(b.warehouse, b.Ns, t).toAbsolutePath.normalize()
      val files = spark.sql(s"SELECT content, file_path, bytes, rows FROM ${b.tbl(s"`$t$$files`")}")
        .collect().map(r => (r.getString(0), resolve(root, r.getString(1)), r.getLong(2), r.getLong(3)))
      val deletes = files.filter(_._1 != "data").map(_._2).toSet
      val history = spark.table(b.tbl(s"`$t$$history`")).count()
      val inside = walk(root)
      val meta = inside.filter(f => isMeta(root.relativize(f._1))).map(_._2).sum
      val del = inside.filter(f => deletes(f._1)).map(_._2).sum
      val data = inside.map(_._2).sum - meta - del
      // live files imported in place live outside the table directory
      val outside = files.filterNot(f => f._2.startsWith(root))
      val (user, rows) =
        if (files.nonEmpty && outside.length == files.length && deletes.isEmpty)
          (outside.map(_._3).sum, outside.map(_._4).sum)
        else {
          val plain = s"${b.workDir}/plain/$t"
          spark.table(b.tbl(t)).write.parquet(plain)
          (walk(Paths.get(plain)).filter(_._1.toString.endsWith(".parquet")).map(_._2).sum,
            spark.read.parquet(plain).count())
        }
      (Storage(
        data + outside.filter(_._1 == "data").map(_._3).sum,
        meta,
        del + outside.filter(_._1 != "data").map(_._3).sum,
        files.count(_._1 == "data").toLong, deletes.size.toLong, history, user, Map.empty),
        t -> user.toDouble / math.max(1L, rows))
    })
    parts.map(_._1).reduce((a, c) => Storage(a.dataBytes + c.dataBytes,
      a.metaBytes + c.metaBytes, a.deleteBytes + c.deleteBytes, a.liveFiles + c.liveFiles,
      a.deleteFiles + c.deleteFiles, a.historyLen + c.historyLen, a.userBytes + c.userBytes,
      Map.empty)).copy(bytesPerRow = parts.map(_._2).toMap)
  }
}
