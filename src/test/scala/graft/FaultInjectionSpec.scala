package graft

import java.io.IOException
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.table.{FileIO, GraftTable, SnapshotLog}

/** Crash atomicity under exhaustive fault injection: for every metadata
  * mutation a table operation performs, simulate a writer that DIES right
  * before it — the op's mutation prefix is durable, nothing after runs
  * (not even catch/finally cleanup IO) — then prove the table recovers to
  * a legal state from storage alone.
  *
  * Invariants after every induced crash (the ACID story the reference
  * stack gets from Iceberg's metadata protocol, reference `main.tf:795-801`):
  *  - the table stays readable: HEAD recovery resolves a current snapshot,
  *    it parses, and every data file it references exists;
  *  - the visible rows are EXACTLY the pre-op state or EXACTLY the post-op
  *    state — never a torn mixture (the exclusive create of vN.json is the
  *    single commit point);
  *  - the table is never wedged: if the op did not land, retrying it on
  *    the recovered table succeeds; either way a fresh append still works.
  */
class FaultInjectionSpec extends SparkSpec {

  // ---- fault-injecting IO ---------------------------------------------

  /** Counts MUTATING operations; the `failFrom`-th mutation throws before
    * executing, and EVERY later call (reads included) throws too — the
    * process-died-here model. */
  private class CrashingIO(inner: FileIO, failFrom: Int) extends FileIO {
    var muts = 0
    private var tripped = false
    private def gate(): Unit =
      if (tripped) throw new IOException("crashed (injected)")
    private def mut(): Unit = {
      gate()
      muts += 1
      if (failFrom > 0 && muts >= failFrom) {
        tripped = true
        throw new IOException(s"injected crash at mutation $muts")
      }
    }
    def mkdirs(dir: String): Unit = { mut(); inner.mkdirs(dir) }
    def exists(p: String): Boolean = { gate(); inner.exists(p) }
    def readString(p: String): String = { gate(); inner.readString(p) }
    def readBytes(p: String): Array[Byte] = { gate(); inner.readBytes(p) }
    def writeAtomicReplace(p: String, c: String): Unit = { mut(); inner.writeAtomicReplace(p, c) }
    def writeBytesAtomicReplace(p: String, c: Array[Byte]): Unit = { mut(); inner.writeBytesAtomicReplace(p, c) }
    def createExclusive(p: String, c: String): Boolean = { mut(); inner.createExclusive(p, c) }
    def listNames(dir: String): Seq[String] = { gate(); inner.listNames(dir) }
    def isDirectory(p: String): Boolean = { gate(); inner.isDirectory(p) }
    def delete(p: String): Boolean = { mut(); inner.delete(p) }
    def deleteRecursive(p: String): Unit = { mut(); inner.deleteRecursive(p) }
    def size(p: String): Long = { gate(); inner.size(p) }
    def rename(src: String, dst: String): Unit = { mut(); inner.rename(src, dst) }
  }

  // ---- harness ----------------------------------------------------------

  private def copyDir(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    } finally s.close()
  }

  private def scratch(tag: String): Path = {
    val p = Files.createTempDirectory(Paths.get("target"), s"crash-$tag-")
    Files.delete(p) // want the path free: copyDir recreates it
    p
  }

  private def rowsOf(dir: String): Seq[String] =
    GraftTable.load(spark, dir).read.collect()
      .map(_.toString).sorted.toSeq

  /** Readability invariant: current resolves + parses, all its files exist. */
  private def assertReadable(dir: String): Unit = {
    val t = GraftTable.load(spark, dir)
    val cur = t.log.current
    cur.files.foreach { f =>
      val abs = GraftTable.resolveUnder(t.path, f.path)
      assert(t.log.io.exists(abs), s"current references missing file ${f.path}")
    }
  }

  private def probe(tag: Int): DataFrame =
    spark.range(1000 + tag * 10, 1000 + tag * 10 + 3)
      .select(col("id"), (col("id") * 2).cast("double").as("v"))

  /** Build the base table: create (batch 0..99) + append (100..199). */
  private def buildBase(dir: String): Unit = {
    val b1 = spark.range(0, 100).select(col("id"), (col("id") * 2).cast("double").as("v"))
    val b2 = spark.range(100, 200).select(col("id"), (col("id") * 2).cast("double").as("v"))
    GraftTable.create(spark, dir, b1.repartition(2))
    GraftTable.load(spark, dir).append(b2.repartition(2))
  }

  /** Sweep every crash point of `op` over a fresh copy of the base table. */
  private def sweep(name: String)(op: GraftTable => Unit): Unit = {
    val base = scratch(s"$name-base")
    buildBase(base.toString)
    val oldRows = rowsOf(base.toString)

    // measure the mutation count + post-op state on a clean pass
    val clean = scratch(s"$name-clean")
    copyDir(base, clean)
    val counter = new CrashingIO(FileIO.forPath(clean.toString), failFrom = 0)
    op(GraftTable.load(spark, clean.toString, p => new SnapshotLog(p, counter)))
    val m = counter.muts
    val newRows = rowsOf(clean.toString)
    assert(m >= 1, s"$name performed no metadata mutations — nothing to sweep")

    for (n <- 1 to m) {
      val trial = scratch(s"$name-$n")
      copyDir(base, trial)
      val io = new CrashingIO(FileIO.forPath(trial.toString), failFrom = n)
      val attempt = scala.util.Try {
        op(GraftTable.load(spark, trial.toString, p => new SnapshotLog(p, io)))
      }
      // a best-effort tail (e.g. staging cleanup) may swallow the injection;
      // the op may then report success — legal iff the state is post-op
      assertReadable(trial.toString)
      val recovered = rowsOf(trial.toString)
      assert(recovered == oldRows || recovered == newRows,
        s"$name crash@$n: TORN state (" +
          s"${recovered.size} rows vs old ${oldRows.size} / new ${newRows.size})")
      if (attempt.isSuccess)
        assert(recovered == newRows, s"$name crash@$n: op reported success " +
          "but the post-op state is not visible")
      // never wedged, part 1: an unlanded op retries to completion
      if (recovered == oldRows && oldRows != newRows) {
        op(GraftTable.load(spark, trial.toString))
        assert(rowsOf(trial.toString) == newRows,
          s"$name crash@$n: retry did not converge to the post-op state")
      }
      // never wedged, part 2: the table still takes fresh writes
      GraftTable.load(spark, trial.toString).append(probe(n))
      assertReadable(trial.toString)
    }
  }

  // ---- scenarios ----------------------------------------------------------

  test("append: every crash point recovers to exactly-old or exactly-new") {
    sweep("append") { t =>
      t.append(spark.range(200, 260)
        .select(col("id"), (col("id") * 2).cast("double").as("v")).repartition(2))
    }
  }

  test("overwrite: full replace is all-or-nothing at every crash point") {
    sweep("overwrite") { t =>
      t.overwrite(spark.range(500, 550)
        .select(col("id"), (col("id") * 3).cast("double").as("v")).repartition(2))
    }
  }

  test("overwriteWhere: partial replace is all-or-nothing at every crash point") {
    sweep("overwhere") { t =>
      t.overwriteWhere(col("id") < 50L,
        spark.range(700, 720)
          .select(col("id"), (col("id") * 5).cast("double").as("v")).repartition(2))
    }
  }

  test("rewrite_data_files: compaction never loses or duplicates rows mid-crash") {
    sweep("rewrite") { t => t.rewriteDataFiles(1) }
  }

  test("refresh_stats: the stats-only rewrite never changes visible data mid-crash") {
    sweep("refresh") { t => t.refreshStats() }
  }

  test("expire_snapshots: the CURRENT snapshot survives every crash point") {
    sweep("expire") { t => t.expireSnapshots(1) }
  }

  test("rollback (setHead): fence+HEAD move is atomic-or-absent") {
    sweep("rollback") { t => t.log.setHead(0L) }
  }
}
