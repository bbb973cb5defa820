package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.DedupIndex
import graft.table.GraftTable

/** Incremental near-dup index (operators.DedupIndex): persisted band table
  * fidelity, CDC refresh ≡ full rebuild (appends, updates, deletes), no-op
  * refresh, and probe candidate soundness. The sketch math itself is
  * oracle-verified by q155/q41; this spec covers the PERSISTED lifecycle a
  * verify query can't (it must stay side-effect-free). */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), prefix).resolve("t").toString

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // enough 3-word shingles to band; near-dup pairs share most shingles
  private val corpus = Seq(
    1L -> "the quick brown fox jumps over the lazy dog today",
    2L -> "the quick brown fox jumps over the lazy dog tonight", // ~dup of 1
    3L -> "completely different text about distributed query engines and scale",
    4L -> "another unrelated document mentioning spark catalyst and tungsten runtime",
    5L -> "the quick brown fox jumps over the lazy dog today") // exact dup of 1

  private def indexRows(t: GraftTable): Seq[(Long, Int, String)] =
    t.read.select($"_id", $"b", $"bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      .sortBy(x => (x._1, x._2))

  test("persisted index ≡ in-memory band table; probe finds the planted dups") {
    val base = GraftTable.create(spark, tmp("didx-"), docs(corpus: _*))
    val idx = DedupIndex.buildIndexTableFrom(spark, base, "doc_id", "text", tmp("didx-i-"))

    val mem = DedupIndex.bandTable(base.read, "doc_id", "text")
      .select($"_id", $"b", $"bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      .sortBy(x => (x._1, x._2))
    assert(indexRows(idx) == mem)

    val batch = docs(
      10L -> "the quick brown fox jumps over the lazy dog today",   // dup of 1/5
      11L -> "nothing like anything in the corpus whatsoever rides here tonight ok")
    val pairs = DedupIndex.probe(idx.read, batch, "doc_id", "text", 0.5)
      .select($"new_id", $"dup_of").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((10L, 1L)) && pairs.contains((10L, 5L)), pairs)
    assert(!pairs.exists(_._1 == 11L), pairs)
    // exact dup scores a full-agreement signature
    val j = DedupIndex.probe(idx.read, batch, "doc_id", "text", 0.5)
      .filter($"new_id" === 10L && $"dup_of" === 1L)
      .select($"est_jaccard").head().getDouble(0)
    assert(j == 1.0)
  }

  test("append-only refresh ≡ rebuild; version stamp advances with the data") {
    val base = GraftTable.create(spark, tmp("didx-"), docs(corpus.take(3): _*))
    val path = tmp("didx-i-")
    DedupIndex.buildIndexTableFrom(spark, base, "doc_id", "text", path)

    base.append(docs(corpus.drop(3): _*))
    val refreshed = DedupIndex.refreshIndexTable(spark, path,
      GraftTable.load(spark, base.path), "doc_id", "text")

    val rebuilt = DedupIndex.buildIndexTableFrom(spark,
      GraftTable.load(spark, base.path), "doc_id", "text", tmp("didx-r-"))
    assert(indexRows(refreshed) == indexRows(rebuilt))
    assert(refreshed.log.current.properties(DedupIndex.IndexedVersionProp)
      == base.log.currentVersion.toString)
  }

  test("update re-sketches, delete evicts; refresh ≡ rebuild") {
    val base = GraftTable.create(spark, tmp("didx-"), docs(corpus: _*))
    val path = tmp("didx-i-")
    DedupIndex.buildIndexTableFrom(spark, base, "doc_id", "text", path)

    base.update($"doc_id" === 3L,
      Map("text" -> lit("the quick brown fox jumps over the lazy dog forever")))
    GraftTable.load(spark, base.path).delete($"doc_id" === 4L)
    val head = GraftTable.load(spark, base.path)
    val refreshed = DedupIndex.refreshIndexTable(spark, path, head, "doc_id", "text")

    val rebuilt = DedupIndex.buildIndexTableFrom(spark, head, "doc_id", "text", tmp("didx-r-"))
    assert(indexRows(refreshed) == indexRows(rebuilt))
    // the deleted doc is gone; the updated doc now bands with the dup group
    assert(refreshed.read.filter($"_id" === 4L).isEmpty)
    val pairs = DedupIndex.probe(refreshed.read,
        docs(20L -> "the quick brown fox jumps over the lazy dog forever"),
        "doc_id", "text", 0.5)
      .select($"dup_of").collect().map(_.getLong(0)).toSet
    assert(pairs.contains(3L), pairs)
  }

  test("probeTable prunes index files by the batch's bucket list; pairs ≡ full probe") {
    val base = GraftTable.create(spark, tmp("didx-"), docs(corpus: _*))
    val idx = DedupIndex.buildIndexTableFrom(spark, base, "doc_id", "text", tmp("didx-i-"))
    val batch = docs(10L -> "the quick brown fox jumps over the lazy dog today")

    val full = DedupIndex.probe(idx.read, batch, "doc_id", "text", 0.5)
      .select($"new_id", $"dup_of").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = DedupIndex.probeTable(idx, batch, "doc_id", "text", 0.5)
      .select($"new_id", $"dup_of").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == full && full.nonEmpty, s"pruned=$pruned full=$full")

    // the stats-pruned scan touches fewer files than the index holds: one
    // probe doc's 3 buckets against the range-clustered (b, bucket) layout
    val snap = idx.log.current
    val buckets = DedupIndex.bandTable(batch, "doc_id", "text")
      .select($"bucket").distinct().collect().map(_.getString(0))
    val touched = idx.pruneFiles(snap,
      Seq(org.apache.spark.sql.sources.In("bucket", buckets.map(x => x: Any))))
    assert(touched.size < snap.files.size,
      s"pruning read ${touched.size} of ${snap.files.size} files")
  }

  test("probeTable finds rows appended after the build only after a refresh") {
    val base = GraftTable.create(spark, tmp("didx-"), docs(corpus: _*))
    val path = tmp("didx-i-")
    DedupIndex.buildIndexTableFrom(spark, base, "doc_id", "text", path)
    GraftTable.load(spark, base.path).append(
      docs(40L -> "a late append left this sentence in the corpus unindexed"))
    val batch = docs(41L -> "a late append left this sentence in the corpus unindexed")
    def dupsOf(idx: GraftTable): Set[Long] =
      DedupIndex.probeTable(idx, batch, "doc_id", "text", 0.5)
        .select($"dup_of").collect().map(_.getLong(0)).toSet

    // the index still stands at the build's version: the appended row is
    // invisible to the probe until the catch-up reads the changelog
    assert(dupsOf(GraftTable.load(spark, path)).isEmpty)
    val head = GraftTable.load(spark, base.path)
    val refreshed = DedupIndex.refreshIndexTable(spark, path, head, "doc_id", "text")
    assert(refreshed.log.current.properties(DedupIndex.IndexedVersionProp)
      == head.log.currentVersion.toString)
    assert(dupsOf(refreshed) == Set(40L))
  }

  test("refresh at the indexed version is a no-op; rollback demands a rebuild") {
    val base = GraftTable.create(spark, tmp("didx-"), docs(corpus: _*))
    val path = tmp("didx-i-")
    val idx = DedupIndex.buildIndexTableFrom(spark, base, "doc_id", "text", path)
    val v = idx.log.currentVersion
    val again = DedupIndex.refreshIndexTable(spark, path, base, "doc_id", "text")
    assert(again.log.currentVersion == v) // no new commit

    val plain = GraftTable.create(spark, tmp("didx-p-"),
      DedupIndex.bandTable(docs(corpus: _*), "doc_id", "text"))
    val e = intercept[IllegalStateException] {
      DedupIndex.refreshIndexTable(spark, plain.path, base, "doc_id", "text")
    }
    assert(e.getMessage.contains(DedupIndex.IndexedVersionProp))
  }
}
