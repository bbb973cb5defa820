package graft.catalog

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import graft.table.GraftTable

/** The reference's `CALL catalog.system.<proc>(...)` maintenance surface
  * (SURVEY.md §2.8 CALL rows; reference `main.tf:803` — Iceberg's stored
  * procedures), implemented on Spark 4's DSv2 `ProcedureCatalog` API so the
  * statements run as first-class SQL:
  *
  * {{{
  *   CALL graft.system.expire_snapshots(`table` => 'db.t', keep_last => 5)
  *   CALL graft.system.rollback_to_snapshot('db.t', 3)
  *   CALL graft.system.rewrite_data_files('db.t', 4)
  *   CALL graft.system.create_changelog_view('db.t', 0, 3, 'changes')
  *   CALL graft.system.import_parquet('db.t2', '/data/existing_parquet')
  * }}}
  *
  * Each procedure body delegates to the corresponding [[GraftTable]]
  * maintenance API; nothing here touches data except through those
  * snapshot-committing paths.
  */
private[catalog] object GraftProcedures {

  /** One IN parameter. */
  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  /** Self-binding procedure: fixed IN params, body over the coerced args. */
  private final class Proc(procName: String, desc: String,
      params: Seq[ProcedureParameter])(body: (SparkSession, InternalRow) => Unit)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): util.Iterator[Scan] = {
      body(SparkSession.active, input)
      util.Collections.emptyIterator[Scan]()
    }
  }

  /** Build the procedure registry against a `db.table -> path` resolver and
    * a table loader (the catalog passes its mode-appropriate loader, so in
    * REST mode every maintenance commit CASes through the server too). */
  def registry(tablePathOf: String => String,
      loadOf: (SparkSession, String) => GraftTable): Map[String, UnboundProcedure] = {
    def load(spark: SparkSession, row: InternalRow): GraftTable =
      loadOf(spark, row.getUTF8String(0).toString)
    val tbl = in("table", StringType)

    val procs: Seq[UnboundProcedure] = Seq(
      new Proc("rollback_to_snapshot", "move HEAD back to an existing snapshot",
        Seq(tbl, in("version", LongType)))((s, r) => load(s, r).rollbackTo(r.getLong(1))),
      new Proc("rollback_to_timestamp", "move HEAD to the snapshot current as of a timestamp (epoch ms)",
        Seq(tbl, in("timestamp_ms", LongType)))((s, r) => {
        val t = load(s, r); t.rollbackTo(t.log.snapshotAsOf(r.getLong(1)).version)
      }),
      new Proc("set_current_snapshot", "set HEAD to an arbitrary snapshot",
        Seq(tbl, in("version", LongType)))((s, r) => load(s, r).rollbackTo(r.getLong(1))),
      new Proc("cherrypick_snapshot", "re-apply a snapshot's added files onto HEAD",
        Seq(tbl, in("version", LongType)))((s, r) => load(s, r).cherrypick(r.getLong(1))),
      new Proc("publish_changes",
        "publish the staged write-audit-publish snapshot carrying wap_id onto HEAD",
        Seq(tbl, in("wap_id", StringType)))((s, r) =>
        load(s, r).publishChanges(r.getString(1))),
      new Proc("expire_snapshots",
        "drop all but the newest keep_last snapshots, then GC; older_than " +
        "(epoch ms) switches to age-based expiry retaining keep_last anyway",
        Seq(tbl, in("keep_last", LongType),
          ProcedureParameter.in("older_than", LongType).defaultValue("-1").build()))((s, r) =>
        if (r.getLong(2) >= 0)
          load(s, r).expireSnapshotsOlderThan(r.getLong(2), r.getLong(1).toInt)
        else load(s, r).expireSnapshots(r.getLong(1).toInt)),
      new Proc("remove_orphan_files", "delete data files no live snapshot references",
        Seq(tbl))((s, r) => load(s, r).removeOrphanFiles()),
      new Proc("rewrite_data_files", "compact into target_files files; zorder_by = comma-separated numeric columns for Z-order clustering; where = SQL predicate scoping the rewrite to files containing matching rows",
        Seq(tbl, in("target_files", LongType),
          ProcedureParameter.in("zorder_by", StringType).defaultValue("''").build(),
          ProcedureParameter.in("where", StringType).defaultValue("''").build()))((s, r) => {
        val zorder = r.getUTF8String(2).toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val where = r.getUTF8String(3).toString.trim
        require(zorder.isEmpty || where.isEmpty,
          "rewrite_data_files: zorder_by and where are mutually exclusive")
        if (where.nonEmpty)
          load(s, r).rewriteDataFilesWhere(org.apache.spark.sql.functions.expr(where),
            r.getLong(1).toInt)
        else if (zorder.isEmpty) load(s, r).rewriteDataFiles(r.getLong(1).toInt)
        else load(s, r).rewriteDataFilesZOrder(r.getLong(1).toInt, zorder)
      }),
      new Proc("rewrite_manifests", "compact snapshot metadata (drop dead schema history)",
        Seq(tbl))((s, r) => load(s, r).rewriteManifests()),
      new Proc("fast_forward", "advance a branch ref to the main HEAD",
        Seq(tbl, in("branch", StringType)))((s, r) =>
        load(s, r).fastForward(r.getUTF8String(1).toString)),
      new Proc("create_changelog_view", "register a temp view of CDC rows between two snapshots; per_commit=true adds _commit_version/_change_ordinal and filters carryovers per step",
        Seq(tbl, in("from_version", LongType), in("to_version", LongType),
          in("view_name", StringType),
          ProcedureParameter.in("per_commit", org.apache.spark.sql.types.BooleanType)
            .defaultValue("false").build()))((s, r) => {
        val t = load(s, r)
        val df = if (r.getBoolean(4)) t.changelogDetailed(r.getLong(1), r.getLong(2))
                 else t.changelog(r.getLong(1), r.getLong(2))
        df.createOrReplaceTempView(r.getUTF8String(3).toString)
      }),
      new Proc("rewrite_small_files", "binpack-compact files smaller than min_bytes into ~target_bytes outputs; right-sized files carry over",
        Seq(tbl, in("min_bytes", LongType), in("target_bytes", LongType)))((s, r) =>
        load(s, r).rewriteSmallFiles(r.getLong(1), r.getLong(2))),
      new Proc("analyze_table", "one distributed pass recording per-column approx NDV as stats.ndv.* properties (feeds the DSv2 column statistics / CBO)",
        Seq(tbl))((s, r) => load(s, r).computeColumnStats()),
      // Iceberg 1.9's procedure name for the same pass — both spellings work
      new Proc("compute_table_stats", "alias of analyze_table (Iceberg's procedure name): NDV + histogram + Puffin stats in one pass",
        Seq(tbl))((s, r) => load(s, r).computeColumnStats()),
      new Proc("refresh_stats", "re-record every data file's stats in the canonical pruning forms (UTC timestamp bounds, spec-integer transform values, all-null markers) — one distributed read, metadata-only commit, no data rewritten; the cheap cure for legacy tables whose stats carry no pruning claim",
        Seq(tbl))((s, r) => load(s, r).refreshStats()),
      new Proc("ancestors_of", "register a temp view of the HEAD's ancestor chain (version, timestamp, operation), newest first — Iceberg's ancestors_of",
        Seq(tbl, in("view_name", StringType)))((s, r) => {
        val t = load(s, r)
        import s.implicits._
        val chain = Iterator.iterate(t.log.currentVersion)(v => t.log.snapshot(v).parent)
          .takeWhile(_ >= 0).map(t.log.snapshot)
          .map(sn => (sn.version, new java.sql.Timestamp(sn.timestampMs), sn.operation))
          .toSeq
        chain.toDF("version", "committed_at", "operation")
          .createOrReplaceTempView(r.getUTF8String(1).toString)
      }),
      new Proc("rewrite_position_delete_files", "compact positional-delete files into one, dropping entries whose target data file left the snapshot",
        Seq(tbl))((s, r) => load(s, r).rewritePositionDeleteFiles()),
      new Proc("materialize_agg", "CTAS a GROUP BY (count, decimal sums, optional min/max) materialization of source_table, stamped with the source version for incremental refresh",
        Seq(tbl, in("mat_table", StringType), in("keys", StringType),
          in("sum_cols", StringType),
          ProcedureParameter.in("minmax_cols", StringType).defaultValue("''").build()))((s, r) => {
        graft.operators.IncrementalAgg.materialize(s, load(s, r),
          tablePathOf(r.getUTF8String(1).toString),
          r.getUTF8String(2).toString.split(",").toSeq.filter(_.nonEmpty),
          r.getUTF8String(3).toString.split(",").toSeq.filter(_.nonEmpty),
          r.getUTF8String(4).toString.split(",").toSeq.filter(_.nonEmpty))
      }),
      new Proc("refresh_agg", "catch a materialized aggregate up to its source's HEAD from the net CDC changelog (exact decimal maintenance, crash-safe stamp)",
        Seq(tbl, in("mat_table", StringType)))((s, r) =>
        graft.operators.IncrementalAgg.refresh(s, load(s, r),
          tablePathOf(r.getUTF8String(1).toString))),
      new Proc("register_agg_rewrite", "re-attach a materialized aggregate to the transparent query-rewrite registry (materialize_agg/refresh_agg attach automatically; this is the after-restart path)",
        Seq(in("mat_table", StringType)))((s, r) =>
        graft.operators.IncrementalAgg.registerRewrite(s,
          tablePathOf(r.getUTF8String(0).toString))),
      new Proc("deregister_agg_rewrite", "detach a materialized aggregate from the transparent query-rewrite registry",
        Seq(in("mat_table", StringType)))((s, r) =>
        // normalize through the loader so the path matches the registered one
        graft.operators.IncrementalAgg.deregisterRewrite(
          GraftTable.load(s, tablePathOf(r.getUTF8String(0).toString)).path)),
      new Proc("build_dedup_index", "persist a MinHash/LSH near-dup signature index of the table's (id_col, text_col) as index_table, stamped with the source version for incremental refresh",
        Seq(tbl, in("index_table", StringType), in("id_col", StringType),
          in("text_col", StringType)))((s, r) =>
        graft.operators.DedupIndex.buildIndexTableFrom(s, load(s, r),
          r.getUTF8String(2).toString, r.getUTF8String(3).toString,
          tablePathOf(r.getUTF8String(1).toString))),
      new Proc("refresh_dedup_index", "catch a near-dup signature index up to its source table's HEAD reading only the changelog span since the stamped version",
        Seq(tbl, in("index_table", StringType), in("id_col", StringType),
          in("text_col", StringType)))((s, r) =>
        graft.operators.DedupIndex.refreshIndexTable(s,
          tablePathOf(r.getUTF8String(1).toString), load(s, r),
          r.getUTF8String(2).toString, r.getUTF8String(3).toString)),
      new Proc("dedup_probe", "register a temp view of near-dup (new_id, dup_of, est_jaccard) pairs between batch_view rows and the signature index",
        Seq(in("index_table", StringType), in("batch_view", StringType),
          in("id_col", StringType), in("text_col", StringType),
          in("view_name", StringType),
          ProcedureParameter.in("min_jaccard", org.apache.spark.sql.types.DoubleType)
            .defaultValue("0.5").build()))((s, r) =>
        graft.operators.DedupIndex.probeTable(
            GraftTable.load(s, tablePathOf(r.getUTF8String(0).toString)),
            s.table(r.getUTF8String(1).toString),
            r.getUTF8String(2).toString, r.getUTF8String(3).toString,
            r.getDouble(5))
          .createOrReplaceTempView(r.getUTF8String(4).toString)),
      new Proc("import_parquet", "register an existing parquet directory as a new graft table (migrate/add_files)",
        Seq(tbl, in("source_dir", StringType)))((s, r) =>
        GraftTable.importParquet(s, r.getUTF8String(1).toString,
          tablePathOf(r.getUTF8String(0).toString))),
      new Proc("import_iceberg", "load a real Iceberg table (metadata.json or table root) as a new graft table, data files in place",
        Seq(tbl, in("source", StringType)))((s, r) =>
        graft.table.IcebergImport.importTable(s, r.getUTF8String(1).toString,
          tablePathOf(r.getUTF8String(0).toString))),
      // the migration-out counterpart of import_iceberg: write the full
      // Iceberg v2 metadata tree (HadoopTables layout, real Avro manifests,
      // version-hint.text) for a graft table so any Iceberg reader opens it
      // in place — no REST server required
      new Proc("export_iceberg", "render the table as Iceberg metadata under out_dir (HadoopTables layout); data files referenced in place; format_version 3 renders MOR deletes as Puffin deletion vectors",
        Seq(tbl, in("out_dir", StringType),
          ProcedureParameter.in("format_version", IntegerType).defaultValue("2").build()))((s, r) =>
        graft.table.IcebergExport.export(load(s, r), r.getUTF8String(1).toString,
          r.getInt(2))),
      // branch/tag DDL rides the CALL surface instead of a parser extension:
      // same capability as Iceberg's ALTER TABLE ... CREATE BRANCH/TAG.
      // version defaults to -1 = "the current snapshot" (Iceberg's
      // snapshot_id is likewise optional).
      new Proc("create_branch", "create a branch ref at the current (or given) snapshot",
        Seq(tbl, in("name", StringType),
          ProcedureParameter.in("version", LongType).defaultValue("-1").build()))((s, r) => {
        val t = load(s, r)
        val v = r.getLong(2)
        t.createBranch(r.getUTF8String(1).toString, if (v < 0) t.log.currentVersion else v)
      }),
      new Proc("create_tag", "create a tag ref at the current (or given) snapshot",
        Seq(tbl, in("name", StringType),
          ProcedureParameter.in("version", LongType).defaultValue("-1").build()))((s, r) => {
        val t = load(s, r)
        val v = r.getLong(2)
        t.createTag(r.getUTF8String(1).toString, if (v < 0) t.log.currentVersion else v)
      }),
      new Proc("drop_ref", "drop a branch or tag ref",
        Seq(tbl, in("name", StringType)))((s, r) =>
        load(s, r).dropRef(r.getUTF8String(1).toString)),
      // ALTER TABLE ... ADD/DROP PARTITION FIELD is Iceberg parser-extension
      // syntax; the capability rides the CALL surface instead. `spec` is an
      // identity column or transform: bucket(n,col) truncate(w,col)
      // years/months/days/hours(col).
      new Proc("add_partition_field", "add an identity or transform partition field to the spec",
        Seq(tbl, in("spec", StringType)))((s, r) =>
        load(s, r).addPartitionField(r.getUTF8String(1).toString)),
      new Proc("drop_partition_field", "remove a partition field from the spec",
        Seq(tbl, in("spec", StringType)))((s, r) =>
        load(s, r).dropPartitionField(r.getUTF8String(1).toString)))

    procs.map(p => p.name() -> p).toMap
  }
}
