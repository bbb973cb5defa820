package graft.table

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Storage seam for the table layer: every byte of snapshot metadata and
  * every maintenance-side file operation (staging moves, orphan GC, size
  * probes) goes through this interface, backed by the Hadoop `FileSystem`
  * API — so pointing a table root at `hdfs://…` or `s3a://…` is pure
  * configuration (the reference keeps data + metadata on S3,
  * reference `main.tf:616-619`, `main.tf:436`). Data-file READS already go
  * through Hadoop via Spark's parquet scan; this closes the loop for the
  * metadata/maintenance plane.
  *
  * The commit CAS in terms of the FS contract ([[SnapshotLog]] uses
  * [[createExclusive]] as its compare-and-swap):
  *
  *  - `file:` / schemeless local — POSIX `link(2)` of a fully-written temp
  *    file into the target name: atomic, fails with `EEXIST` if the target
  *    exists, and the content appears all-or-nothing.
  *  - HDFS-contract stores (`hdfs:`, viewfs, …) — write a temp file, then
  *    `FileSystem.rename(tmp, dst)`: the NameNode serializes renames and a
  *    rename onto an existing destination returns `false`, which is exactly
  *    the lose-the-race signal. Content is complete before the rename, so
  *    readers never observe a partial snapshot JSON.
  *  - S3 and other stores whose rename is copy+delete (non-atomic, and not
  *    exists-failing) must NOT arbitrate commits through the filesystem —
  *    the same position Iceberg takes for its HadoopCatalog. Use the REST
  *    catalog ([[graft.rest.RestCatalogServer]]) as the commit arbiter
  *    (its CAS runs server-side); data files, manifest chunks and snapshot
  *    JSONs still live on the object store and flow through this interface.
  *
  * [[writeAtomicReplace]] (HEAD, refs.json) is POSIX-atomic locally and
  * rename-based elsewhere. Both targets tolerate a weaker contract by
  * design: HEAD is only a cache of "highest vN.json" — recovery derives it
  * by listing — and in REST mode head/ref moves are arbitrated server-side.
  *
  * `file:` roots resolve to [[LocalFs]] ([[FileIO.withLocalFs]]), for the
  * metadata plane here and the data plane in the parquet write job. Without
  * the native Hadoop library, Hadoop's own local filesystem forks a `chmod`
  * process for every file it creates and every directory it makes: 12-14 ms
  * p50 for a mkdir plus a create, against 0.3-1.1 ms with the same mode
  * bits set through `java.nio` (4-core VM), and 781 forks in one table-ops
  * benchmark run.
  */
trait FileIO {
  def mkdirs(dir: String): Unit
  def exists(p: String): Boolean
  def readString(p: String): String
  def readBytes(p: String): Array[Byte]
  /** Write-temp + rename-over: replaces any existing file. */
  def writeAtomicReplace(p: String, content: String): Unit
  /** Binary form of [[writeAtomicReplace]] (puffin stats files). */
  def writeBytesAtomicReplace(p: String, content: Array[Byte]): Unit
  /** Compare-and-swap create: true iff this call created `p`; the full
    * content is visible as soon as the file is. See the trait doc for the
    * per-store contract. */
  def createExclusive(p: String, content: String): Boolean
  /** Child names (not paths) of `dir`; empty if the directory is absent. */
  def listNames(dir: String): Seq[String]
  def isDirectory(p: String): Boolean
  /** Delete a file or empty directory; false if it did not exist. */
  def delete(p: String): Boolean
  def deleteRecursive(p: String): Unit
  def size(p: String): Long
  /** Move `src` to a not-yet-existing `dst` (staging promote). */
  def rename(src: String, dst: String): Unit
}

object FileIO {
  /** Resolve the IO binding for a table root: one Hadoop `FileSystem` per
    * log, scheme taken from the path (default FS for schemeless paths). */
  def forPath(p: String): FileIO = new HadoopFileIO(p)

  /** A fresh Hadoop conf for graft's own IO: the active session's, with
    * [[withLocalFs]]. */
  private[graft] def activeConf(): Configuration = withLocalFs(
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration()))

  /** Bind `file:` in `conf` to [[LocalFs]]; other schemes are untouched.
    * The JVM-wide `FileSystem` cache is keyed without the conf and already
    * holds the session's `file:` instance, so `file:` lookups through
    * `conf` bypass it. Only for confs graft builds itself, never the
    * session's shared one. Returns `conf`. */
  def withLocalFs(conf: Configuration): Configuration = {
    conf.set("fs.file.impl", classOf[LocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }
}

/** Hadoop-`FileSystem`-backed [[FileIO]]. The two atomicity-critical
  * primitives dispatch on the resolved scheme: `file:` gets the strict
  * POSIX implementation (link-into-place CAS, `rename(2)` replace — what
  * the concurrent-commit specs hammer), every other scheme gets the
  * HDFS-contract implementation described on [[FileIO]]. */
class HadoopFileIO(rootSpec: String, conf: Configuration = FileIO.activeConf())
  extends FileIO {

  private val fs: FileSystem = new HPath(rootSpec).getFileSystem(conf)
  private val posix: Boolean = fs.getScheme == "file"

  private def hp(p: String) = new HPath(p)
  /** Local filesystem view of a `file:`-schemed or schemeless path.
    * String surgery, not java.net.URI — these are plain paths, not
    * URI-encoded, so a space or bracket in a directory name must not throw
    * URISyntaxException. A `file://authority` segment is dropped, matching
    * Hadoop's RawLocalFileSystem (`path.toUri.getPath`) so the posix and
    * Hadoop views of one path never diverge. */
  private def lp(p: String) = Paths.get(
    if (!p.startsWith("file:")) p
    else {
      val rest = p.substring(5)
      if (!rest.startsWith("//")) rest
      else {
        val i = rest.indexOf('/', 2)
        if (i < 0) "/" else rest.substring(i)
      }
    })
  private def tmpName(p: String) = {
    val h = hp(p)
    new HPath(h.getParent, s".${h.getName}.tmp${util.Random.nextLong().abs}")
  }
  private def writeFully(p: HPath, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  override def mkdirs(dir: String): Unit = fs.mkdirs(hp(dir))
  override def exists(p: String): Boolean = fs.exists(hp(p))

  override def readString(p: String): String = {
    val in = fs.open(hp(p))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  override def readBytes(p: String): Array[Byte] = {
    val in = fs.open(hp(p))
    try in.readAllBytes() finally in.close()
  }

  override def writeBytesAtomicReplace(p: String, content: Array[Byte]): Unit =
    if (posix) {
      val target = lp(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.tmp${util.Random.nextLong().abs}")
      Files.write(tmp, content)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } else {
      val tmp = tmpName(p)
      val out = fs.create(tmp, true)
      try out.write(content) finally out.close()
      fileContext match {
        case Some(fc) =>
          fc.rename(hp(tmp.toString), hp(p), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        case None =>
          fs.delete(hp(p), false)
          if (!fs.rename(tmp, hp(p)))
            throw new java.io.IOException(s"rename $tmp -> $p failed")
      }
    }

  override def writeAtomicReplace(p: String, content: String): Unit =
    if (posix) {
      val target = lp(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.tmp${util.Random.nextLong().abs}")
      Files.write(tmp, content.getBytes(UTF_8))
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } else {
      val tmp = tmpName(p)
      writeFully(tmp, content)
      // Prefer FileContext rename-with-OVERWRITE: atomic on HDFS, so the
      // target never transiently disappears. Schemes without an
      // AbstractFileSystem binding fall back to delete+rename — a brief
      // not-exists window, which [[SnapshotLog]] tolerates (existence and
      // head checks recover by listing vN.json, see `exists`/`commitRaw`).
      fileContext match {
        case Some(fc) =>
          fc.rename(hp(tmp.toString), hp(p), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        case None =>
          fs.delete(hp(p), false)
          if (!fs.rename(tmp, hp(p)))
            throw new java.io.IOException(s"rename $tmp -> $p failed")
      }
    }

  /** Resolved ONCE per instance — FileContext has no cache (each
    * getFileContext builds a fresh AbstractFileSystem/client), so per-call
    * resolution would pay connection churn on every HEAD move. */
  private lazy val fileContext: Option[org.apache.hadoop.fs.FileContext] =
    try Some(org.apache.hadoop.fs.FileContext.getFileContext(new HPath(rootSpec).toUri, conf))
    catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None }

  override def createExclusive(p: String, content: String): Boolean =
    if (posix) {
      val target = lp(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.tmp${util.Random.nextLong().abs}")
      Files.write(tmp, content.getBytes(UTF_8))
      val won =
        try { Files.createLink(target, tmp); true }
        catch { case _: FileAlreadyExistsException => false }
      Files.deleteIfExists(tmp)
      won
    } else {
      val tmp = tmpName(p)
      writeFully(tmp, content)
      val won = fs.rename(tmp, hp(p)) // false if dst exists — the HDFS CAS
      if (!won) fs.delete(tmp, false)
      won
    }

  override def listNames(dir: String): Seq[String] =
    try fs.listStatus(hp(dir)).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  override def isDirectory(p: String): Boolean =
    try fs.getFileStatus(hp(p)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  override def delete(p: String): Boolean = fs.delete(hp(p), false)
  override def deleteRecursive(p: String): Unit = fs.delete(hp(p), true)
  override def size(p: String): Long = fs.getFileStatus(hp(p)).getLen

  override def rename(src: String, dst: String): Unit =
    require(fs.rename(hp(src), hp(dst)), s"rename $src -> $dst failed")
}
