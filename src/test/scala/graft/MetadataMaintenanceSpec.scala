package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.table.GraftTable

/** The remaining §2.8 management rows: `$entries`/`$manifests` metadata
  * tables, rewrite_manifests, and partition-spec / write-order evolution. */
class MetadataMaintenanceSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(Paths.get("target"), prefix).resolve("t").toString

  test("entries metadata tracks added / existing / deleted per snapshot") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("entries-"), Seq(1L, 2L).toDF("id"))
    t.append(Seq(3L).toDF("id"))
    t.delete(org.apache.spark.sql.functions.col("id") === 1L)

    val e = t.entriesMeta.collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._1)
    assert(e(0L).map(_._2).forall(_ == "added"))             // create: all new
    assert(e(1L).map(_._2).toSet == Set("added", "existing")) // append
    assert(e(2L).map(_._2).contains("deleted"))              // delete rewrote a file
  }

  test("delete_files / position_deletes / all_files metadata tables") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = GraftTable.create(spark, tmp("delmeta-"),
      (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"),
      Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("id") <= 3L)              // positional deletes
    t.deleteByEquality(Seq(4L, 5L).toDF("id"))
    // $delete_files: one row per delete file, equality keys named
    val df = t.deleteFilesMeta.collect()
      .map(r => (r.getString(0), r.getSeq[String](5))).toSeq
    assert(df.count(_._1 == "position-deletes") == 1)
    assert(df.collect { case ("equality-deletes", cols) => cols }.head == Seq("id"))
    // $position_deletes: the actual dead positions, 3 of them, all
    // pointing at a real data file of the table
    val pd = t.positionDeletesMeta.collect()
    assert(pd.length == 3)
    assert(pd.map(_.getLong(1)).sorted.toSeq.forall(_ >= 0))
    assert(pd.forall(_.getString(2).endsWith("-deletes.parquet")))
    // $all_files: includes a data file REMOVED by a later CoW rewrite
    val t2 = GraftTable.create(spark, tmp("allf-"), Seq(1L, 2L).toDF("id"))
    t2.append(Seq(3L).toDF("id"))
    t2.delete(col("id") === 1L) // CoW: rewrites the first file away
    val all = t2.allFilesMeta.collect().map(_.getString(1)).toSet
    val current = t2.log.current.files.map(_.path).toSet
    assert(current.subsetOf(all))
    assert(all.size > current.size, "a rewritten-away file must still appear in $all_files")
    // and through SQL with the $-suffix
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", SparkSpec.warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    spark.sql("CREATE TABLE graft.meta.dm (id BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.meta.dm VALUES (1), (2), (3)")
    spark.sql("DELETE FROM graft.meta.dm WHERE id = 2")
    assert(spark.sql("SELECT * FROM graft.meta.`dm$position_deletes`").count() == 1)
    assert(spark.sql("SELECT * FROM graft.meta.`dm$delete_files`").count() == 1)
    assert(spark.sql("SELECT * FROM graft.meta.`dm$all_files`").count() >= 1)
    spark.sql("DROP TABLE graft.meta.dm")
  }

  test("bloom-filter table property lands real parquet bloom filters in data files") {
    import spark.implicits._
    val path = tmp("bloom-")
    val t = GraftTable.create(spark, path, spark.range(5000).toDF("id"),
      properties = Map("write.bloom-filter-columns" -> "id"))
    val file = t.log.current.files.head
    // read the parquet footer: the id column chunk must carry a bloom offset
    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$path/${file.path}"), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val idCol = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "id").get
      assert(idCol.getBloomFilterOffset > 0, "no bloom filter written for id")
    } finally reader.close()
    // and scans still answer exactly
    assert(t.read.filter($"id" === 4321L).count() == 1)
  }

  test("binpack rewrite compacts only small files; big files carry over untouched") {
    import spark.implicits._
    val path = tmp("binpack-")
    val t = GraftTable.create(spark, path, spark.range(20000).select($"id").toDF("id"))
    val bigPaths = t.log.current.files.map(_.path).toSet
    (1 to 5).foreach(i => t.append(Seq(100000L + i).toDF("id"))) // 5 tiny files
    val before = t.log.current.files
    assert(before.size == bigPaths.size + 5)
    t.rewriteSmallFiles(minBytes = 10000L, targetBytes = 64 * 1024 * 1024L)
    val after = GraftTable.load(spark, path).log.current
    // the big file(s) kept their identity — no rewrite, no data movement
    assert(bigPaths.subsetOf(after.files.map(_.path).toSet), "big files were rewritten")
    // the 5 tiny files merged into fewer outputs
    assert(after.files.size < before.size)
    assert(after.operation == "rewrite")
    assert(GraftTable.load(spark, path).read.count() == 20005)
  }

  test("per-commit changelog tags inserts/deletes with version and ordinal") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = tmp("cdc-ord-")
    val t = GraftTable.create(spark, path, Seq(1L, 2L).toDF("id")) // v0
    t.append(Seq(3L).toDF("id"))                                   // v1
    t.delete(col("id") === 1L)                                     // v2 (rewrite)
    t.append(Seq(4L).toDF("id"))                                   // v3
    val log = t.changelogDetailed(0L, 3L)
      .select("id", "_change_type", "_commit_version", "_change_ordinal")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .sortBy(x => (x._4, x._2, x._1))
    // v1: +3 @ord0; v2: -1 @ord1 (carryover of 2 filtered); v3: +4 @ord2
    assert(log.toSeq == Seq(
      (3L, "insert", 1L, 0),
      (1L, "delete", 2L, 1),
      (4L, "insert", 3L, 2)), log.mkString(", "))
  }

  test("zorder rewrite makes pruning bite on BOTH clustered columns") {
    import spark.implicits._
    import org.apache.spark.sql.sources.EqualTo
    val path = tmp("zorder-")
    // two independent uniform dimensions — row order correlates with neither
    val df = spark.range(4096).select(
      ($"id" * 2654435761L % 1000).as("x"),
      ($"id" * 40503L % 1000).as("y"),
      $"id".as("payload"))
    val t = GraftTable.create(spark, path, df)
    val before = t.read.orderBy("payload").collect()
    t.rewriteDataFilesZOrder(target = 8, zorderBy = Seq("x", "y"))
    val after = GraftTable.load(spark, path)
    val files = after.log.current.files
    assert(files.size >= 4, s"expected several z-files, got ${files.size}")
    // the z-curve gives every file a small x-range AND a small y-range, so
    // point filters on EITHER column prune (linear sort only does one)
    val px = after.pruneFiles(after.log.current, Seq(EqualTo("x", 500L)))
    val py = after.pruneFiles(after.log.current, Seq(EqualTo("y", 500L)))
    assert(px.size < files.size, s"x filter kept all ${files.size} files")
    assert(py.size < files.size, s"y filter kept all ${files.size} files")
    // compaction must not change a single row
    assert(after.read.orderBy("payload").collect().toSeq == before.toSeq)
    assert(after.log.current.operation == "rewrite")
  }

  test("append commit metadata is O(new files): version JSON size stays flat") {
    import spark.implicits._
    val path = tmp("chunked-")
    val t = GraftTable.create(spark, path, Seq(0L).toDF("id"))
    (1 to 12).foreach(i => t.append(Seq(i.toLong).toDF("id")))
    val meta = Paths.get(path, "_graft")
    def size(v: Long) = Files.size(meta.resolve(s"v$v.json"))
    // file list lives in shared chunks, so v12 (13 files tracked) is no
    // bigger than v2 (3 files) beyond the per-append chunk-name growth
    assert(size(12) < size(2) + 12 * 64,
      s"v12.json=${size(12)}B vs v2.json=${size(2)}B — commit metadata grows with table size")
    // each append wrote exactly one new chunk; carried files are shared
    def chunks = Files.list(meta).iterator().asScala
      .map(_.getFileName.toString).filter(n => n.startsWith("m-") && n.endsWith(".json")).toSeq
    assert(chunks.size == 13, s"expected 13 chunks, got ${chunks.size}")
    // hydrated view is unchanged
    assert(t.read.count() == 13)
    // expiring history GCs chunks no surviving snapshot references
    t.overwrite(Seq(99L).toDF("id")) // drops all prior files from the head
    t.expireSnapshots(keepLast = 1)
    assert(chunks.size == 1, s"unreferenced chunks survived GC: $chunks")
    assert(t.read.collect().map(_.getLong(0)).toSeq == Seq(99L))
  }

  test("manifests metadata lists one row per live snapshot JSON") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("manifests-"), Seq(1L).toDF("id"))
    t.append(Seq(2L).toDF("id"))
    val m = t.manifestsMeta.collect()
    assert(m.length == 2)
    assert(m.forall(_.getLong(1) > 0)) // real file lengths
    assert(m.map(_.getString(0)).forall(_.startsWith("_graft/v")))
  }

  test("rewriteManifests drops schema history unused by live files") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("rwm-"), Seq(1L, 2L).toDF("id"))
    t.addColumn("extra", org.apache.spark.sql.types.StringType)
    t.renameColumn("extra", "extra2")
    t.dropColumn("extra2")
    assert(t.log.current.schemas.size == 4)
    // data files were all written under schema 0; head uses schema 3
    t.rewriteManifests()
    assert(t.log.current.schemas.size == 2)
    assert(t.read.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L)) // still readable
  }

  test("partition-spec evolution changes layout for future writes only") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("pspec-"), Seq((1L, "x")).toDF("id", "k"))
    t.addPartitionField("k")
    assert(t.log.current.properties("write.partition-by") == "k")
    assert(t.log.current.operation == "replace-partition-spec")
    t.append(Seq((2L, "y")).toDF("id", "k")) // must not throw; new layout applies
    t.dropPartitionField("k")
    assert(t.log.current.properties("write.partition-by").isEmpty)
    intercept[IllegalArgumentException] { t.addPartitionField("nope") }
  }

  test("writeOrderedBy tightens per-file bounds for pruning") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp("worder-"), Seq((1L, 9L)).toDF("id", "v"))
    t.writeOrderedBy("v")
    assert(t.log.current.properties("write.sort-by") == "v")
    assert(t.log.current.operation == "set-write-order")
  }

  test("write.target-file-size-bytes coalesces the tiny-file spray and splits big writes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit, sha2}
    // 8 input partitions of trivial data + a 128 MB target: the AQE
    // rebalance coalesces to ONE output file instead of 8 tiny ones
    val one = GraftTable.create(spark, tmp("sized1-"),
      spark.range(0, 1000).toDF("id").repartition(8),
      Map("write.target-file-size-bytes" -> (128L * 1024 * 1024).toString))
    assert(one.log.current.files.size == 1,
      s"expected 1 coalesced file, got ${one.log.current.files.size}")
    // ~3 MB of incompressible-ish data + a 64 KB target: the rebalance
    // SPLITS the write into many near-target files
    val big = spark.range(0, 30000)
      .select($"id", sha2(concat($"id".cast("string"), lit("pad")), 512).as("payload"))
      .coalesce(1)
    val many = GraftTable.create(spark, tmp("sized2-"), big,
      Map("write.target-file-size-bytes" -> (64L * 1024).toString))
    assert(many.log.current.files.size > 4,
      s"expected a split write, got ${many.log.current.files.size} file(s)")
    // the advisory-size conf is restored after the write
    assert(spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes").isEmpty
      || spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") != "65536")
    // sizing composes with hidden partitioning: rebalance BY the transform
    // value keeps clustering (each file one bucket) while sizing files
    val parted = GraftTable.create(spark, tmp("sized3-"),
      spark.range(0, 1000).toDF("id").repartition(8),
      Map("write.partition-by" -> "bucket(2, id)",
          "write.target-file-size-bytes" -> (128L * 1024 * 1024).toString))
    assert(parted.read.count() == 1000)
    assert(parted.log.current.files.size <= 2, // one per bucket, not per task
      s"expected <=2 bucket-clustered files, got ${parted.log.current.files.size}")
  }

  test("SQL $entries and $manifests metadata tables resolve through the catalog") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", SparkSpec.warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    spark.sql("CREATE TABLE graft.meta.mt (id BIGINT)")
    spark.sql("INSERT INTO graft.meta.mt VALUES (1), (2)")
    assert(spark.sql("SELECT * FROM graft.meta.`mt$manifests`").count() == 2)
    assert(spark.sql("SELECT status FROM graft.meta.`mt$entries` WHERE snapshot_version = 1")
      .collect().map(_.getString(0)).contains("added"))
  }
}
