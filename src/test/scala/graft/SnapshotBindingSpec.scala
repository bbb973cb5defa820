package graft

import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.Count
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import graft.catalog.GraftDsv2Table
import graft.plans.{GraftMetadataAggregate, GraftNativeScan}
import graft.table.{GraftTable, Snapshot, SnapshotLog}

/** An optimizer rule that decides from a graft table's snapshot reads that
  * snapshot ONCE: an unpinned table re-reads HEAD per call, and a commit
  * landing between two reads must not mix two snapshots in one answer. */
class SnapshotBindingSpec extends SparkSpec {
  import spark.implicits._

  /** A log whose next `current` read still sees `stale` — the head a
    * concurrent commit is about to replace; every later read sees the
    * real head. */
  private class LaggingLog(root: String) extends SnapshotLog(root) {
    @volatile var stale: Option[Long] = None
    override def current: Snapshot = stale match {
      case Some(v) => stale = None; snapshot(v)
      case None => super.current
    }
  }

  private def tmpDir(): String = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), "bind-").resolve("t").toString

  /** v0: 10 rows; v1: +5 rows; then `more` runs (v2, …) on the same table. */
  private def lagged(props: Map[String, String])(more: GraftTable => Unit)
      : (GraftTable, LaggingLog) = {
    val dir = tmpDir()
    more(GraftTable.create(spark, dir, (1L to 10L).toDF("id"), props))
    val t = GraftTable.load(spark, dir, root => new LaggingLog(root))
    (t, t.log.asInstanceOf[LaggingLog])
  }

  test("metadata COUNT(*) answers from the snapshot its no-deletes guard read") {
    val (t, log) = lagged(Map("write.delete.mode" -> "merge-on-read")) { w =>
      w.append((11L to 15L).toDF("id"))
      w.delete($"id" <= 2L) // v2: merge-on-read delete file, data files unchanged
    }
    assert(log.current.deleteFiles.nonEmpty && log.current.version == 2L)
    val rel = DataSourceV2Relation.create(GraftDsv2Table(t, "t"), None, None)
    val agg = Aggregate(Nil, Seq(Alias(Count(Literal(1)).toAggregateExpression(), "n")()), rel)
    log.stale = Some(0L) // the guard's read sees v0; the head is v2 after it
    val answer = GraftMetadataAggregate(spark)(agg) match {
      case l: LocalRelation => Some(l.data.head.getLong(0))
      case _ => None // fell through to the scan: also consistent
    }
    // v0 holds 10 rows, v2 holds 13; 15 is v2's file totals with its deletes ignored
    assert(answer.forall(n => n == 10L || n == 13L), s"COUNT(*) answered $answer")
  }

  test("appendWithRetry writes its files against one head") {
    val (t, log) = lagged(Map.empty) { w =>
      w.addColumn("b", org.apache.spark.sql.types.IntegerType) // v1: schema 1
      w.setProperties(Map("write.partition-by" -> "bucket(4,b)")) // v2
    }
    log.stale = Some(0L) // the first read sees v0 (no `b`); the head is v2 after it
    val s = t.appendWithRetry((21L to 23L).toDF("id"))
    val added = s.files.filterNot(f => t.log.snapshot(2L).files.exists(_.path == f.path))
    // conformed to v0's schema, so tagged with v0's schema id and laid out
    // by v0's properties — not bucketed by a column the rows do not have
    assert(added.nonEmpty && added.forall(_.schemaId == 0), added)
    assert(added.forall(f => !f.stats.contains("bucket(4,b)")), added)
    assert(t.read.filter($"id" > 20L).select($"id", $"b").as[(Long, Option[Int])]
      .collect().sorted.toSeq == Seq((21L, None), (22L, None), (23L, None)))
  }

  test("native-scan swap reads and describes one snapshot") {
    val (t, log) = lagged(Map.empty)(_.append((11L to 15L).toDF("id")))
    val rowsByFiles = Seq(0L, 1L).map { v =>
      val s = t.log.snapshot(v)
      s.files.map(f => new java.io.File(f.path).getName).toSet -> s.files.map(_.rows).sum
    }.toMap
    val rel = DataSourceV2Relation.create(GraftDsv2Table(t, "t"), None, None)
    val builder = rel.table.asInstanceOf[GraftDsv2Table]
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    log.stale = Some(0L) // the scan's first read sees v0; the head is v1 after it
    val scan = DataSourceV2ScanRelation(rel, builder.build(),
      rel.output.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]))
    val swapped = GraftNativeScan(scan)
    val scans = swapped.collect { case lr: LogicalRelation => lr }
    assert(scans.size == 1, swapped.treeString)
    val read = scans.head.relation.asInstanceOf[
      org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.inputFiles.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    val described = scans.head.catalogTable.flatMap(_.stats).flatMap(_.rowCount)
    assert(rowsByFiles.get(read).map(BigInt(_)) == described,
      s"read $read but stats describe $described rows")
    assert(described.contains(BigInt(10)), "the scan's bound snapshot is v0")
  }
}
