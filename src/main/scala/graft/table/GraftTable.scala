package graft.table

import java.nio.file.Paths
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types._

/** Snapshot-versioned Parquet table with Iceberg semantics, Spark-native.
  *
  * Re-expresses the capability surface the reference stack gets from
  * `IcebergSparkSessionExtensions` + the Iceberg 1.9.1 runtime (reference
  * `main.tf:803`, `README.md:36`; SURVEY.md §2.1/§2.8): ACID append/
  * overwrite, row-level DELETE / UPDATE / MERGE as copy-on-write file
  * rewrites, time travel by version and timestamp, branch/tag refs,
  * rollback / cherry-pick, snapshot expiry + orphan-file GC, compaction,
  * CDC changelog, schema evolution (add/rename/drop column, ID-based so
  * renames never rewrite data), and queryable metadata tables.
  *
  * Everything data-sized runs as DataFrame ops (distributed, codegen'd);
  * only file *lists* ever reach the driver — at 100 TB that is thousands of
  * entries, not rows. Copy-on-write touches only files that contain matched
  * rows; untouched files carry over by reference.
  */
class GraftTable private (val spark: SparkSession, rawPath: String,
    logFactory: String => SnapshotLog = p => new SnapshotLog(p)) {

  /** Absolute table root — `_metadata.file_path` comparisons and snapshot
    * entries must agree regardless of how the caller spelled the path.
    * URI-schemed roots (`file://…`, `hdfs://…`, `s3a://…`) pass through
    * verbatim — the [[FileIO]] binding and Spark's parquet scan both
    * resolve them via the Hadoop `FileSystem` API. */
  val path: String =
    // Scheme detection matches canon's: any RFC-3986 scheme followed by a
    // slash. `file:/tmp/t` (Hadoop Path.toString's single-slash rendering)
    // is a URI too — a bare "://" test would send it through Paths.get and
    // resolve to <cwd>/file:/tmp/t, creating the table in the wrong place.
    if (rawPath.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*")) rawPath.stripSuffix("/")
    else Paths.get(rawPath).toAbsolutePath.normalize.toString

  /** All commits funnel through here — swapping the factory swaps the
    * commit transport (local filesystem CAS vs REST-catalog CAS) without
    * touching any operator. */
  val log: SnapshotLog = logFactory(path)

  // ------------------------------------------------------------------ reads

  /** Current-snapshot read. */
  def read: DataFrame = readSnapshot(log.current)

  /** Time travel: `VERSION AS OF v` (SURVEY.md §2.8). */
  def readVersion(v: Long): DataFrame = readSnapshot(log.snapshot(v))

  /** Time travel: `TIMESTAMP AS OF ts` — latest snapshot committed <= tsMs. */
  def readAsOf(tsMs: Long): DataFrame = readSnapshot(log.snapshotAsOf(tsMs))

  /** Read a named tag/branch. */
  def readRef(name: String): DataFrame = {
    val r = log.refs.getOrElse(name, throw new IllegalArgumentException(s"no ref $name"))
    readVersion(r.version)
  }

  def schema: StructType = { val s = log.current; schemaOf(s, s.currentSchemaId) }

  /** The schema a given snapshot reads with (branch heads may have evolved
    * independently of main). */
  def schemaOfSnapshot(s: Snapshot): StructType = schemaOf(s, s.currentSchemaId)

  private[table] def schemaOf(s: Snapshot, id: Int): StructType =
    DataType.fromJson(s.schemas(id.toString)).asInstanceOf[StructType]

  private[graft] def fieldId(f: StructField): Int = f.metadata.getLong("graft.id").toInt

  /** Schema (with field-id metadata) in effect at snapshot `v` — lets the
    * streaming CDC source map its pinned field ids onto the column names a
    * changelog batch carries. */
  private[graft] def schemaAtVersion(v: Long): StructType = {
    val s = log.snapshot(v)
    schemaOf(s, s.currentSchemaId)
  }

  /** Resolve a DataFile path: table-relative (`data/x.parquet`) or absolute
    * (imported in place by [[GraftTable.importParquet]]). */
  private[table] def resolve(p: String): String =
    if (p.startsWith("/") || p.contains("://")) p else s"$path/$p"

  /** Canonical comparison/IO form of a data-file location. The ONLY
    * divergence between `_metadata.file_path` renderings (`file:/a`,
    * `hcfs:/a` — Hadoop `Path.toString` collapses an EMPTY authority) and
    * [[resolve]] outputs (`file:///a`, `hcfs:///a`) is the slash count
    * after an empty authority, so canon strips `scheme:` / `scheme://`
    * only when an absolute path follows. Authority-bearing URIs
    * (`s3a://bucket/k`, `hdfs://nn:8020/a`) render identically on both
    * sides and MUST pass through untouched — stripping them would leave a
    * relative path that mis-resolves against the FileSystem working dir
    * (or parses `nn:8020` as a scheme). The result stays directly usable
    * for [[FileIO]] calls. Same normalization the codegen'd regexp in
    * [[rewritePositionDeleteFiles]] applies row-side. */
  private def canon(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?+(?=/)", "")
    // (//)?+ is POSSESSIVE: on s3a://bucket the // must not backtrack to let
    // the lookahead match the authority's leading slash — that would strip
    // the scheme after all

  private[table] def readWithMeta(s: Snapshot): DataFrame = readSnapshot(s, withMeta = true)

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  private def stripIds(s: StructType): StructType =
    StructType(s.fields.map(_.copy(metadata = Metadata.empty)))

  /** True when snapshot `s` opts into footer-field-id column resolution
    * (tables imported from real Iceberg metadata, [[IcebergImport]]): files
    * written before a rename resolve correctly even though the import has
    * no per-file schema history. Resolution reads each flagged file's own
    * FOOTER (driver-side metadata, cached for the JVM — data files are
    * immutable once committed) and renames the read schema to the footer's
    * physical names by parquet field id ([[GraftTable.physicalize]]). Never
    * flips Spark's session-global `spark.sql.parquet.fieldId.read.enabled`
    * gate: that would change column-resolution semantics for unrelated
    * parquet reads in the same session, and a per-read option cannot scope
    * it (DataFrameReader options are case-insensitively lowercased, so a
    * camelCase SQLConf key never survives into the scan's hadoopConf). */
  private def byFieldId(s: Snapshot): Boolean =
    s.properties.get("graft.read.by-field-id").contains("true")

  /** Normalized read of a snapshot: files are grouped by the schema they
    * were written with and projected, ID-wise, onto the current schema —
    * renamed columns map by field id, added columns null-fill, dropped
    * columns vanish. `withMeta` threads parquet `_metadata` row identity
    * through for copy-on-write DML. */
  private def readSnapshot(s: Snapshot, withMeta: Boolean = false): DataFrame =
    readFilesOf(s, s.files, withMeta)

  /** Schema of a positional-delete file: the deleted row's data-file URI (as
    * `_metadata.file_path` renders it) and row index. */
  /** Equi-height histogram resolution recorded by ANALYZE (33 KLL
    * quantile endpoints → 32 bins — Spark's own ANALYZE default
    * `spark.sql.statistics.histogram.numBins` resolution class). */
  private[graft] val HistBins = 32

  private val deleteSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  private def readFilesOf(s: Snapshot, fileSet: Seq[DataFile], withMeta: Boolean,
      applyDeletes: Boolean = true, schemaIdOverride: Option[Int] = None): DataFrame = {
    val cur = schemaOf(s, schemaIdOverride.getOrElse(s.currentSchemaId))
    val out = stripIds(cur)
    if (fileSet.isEmpty) {
      val base = if (withMeta)
        StructType(out.fields :+ StructField("_graft_path", StringType)
          :+ StructField("_graft_pos", LongType))
      else out
      return emptyDf(base)
    }
    val mor = applyDeletes && s.deleteFiles.nonEmpty
    val eqDels = if (applyDeletes) s.eqDeleteFiles else Seq.empty
    val idRead = byFieldId(s)
    val needMeta = withMeta || mor
    // Spark-native co-located bucketing fast path: when every file was
    // written under the CURRENT schema with a conforming `_NNNNN` bucket
    // suffix and no positional deletes / metadata columns are in play, read
    // through a bucket-spec'd relation — the scan then reports
    // HashPartitioning(bucketCol, n), so joins and aggregations on the
    // bucket key skip their exchange entirely (the bucketed-join layout;
    // schema evolution or MOR deletes simply fall back to the general path)
    GraftTable.bucketByOf(s.properties) match {
      case Some((n, bcols)) if !needMeta && eqDels.isEmpty && schemaIdOverride.isEmpty &&
          fileSet.forall(_.schemaId == s.currentSchemaId) &&
          fileSet.forall(f => GraftTable.BucketSuffix.matcher(f.path).matches()) &&
          bcols.forall(out.fieldNames.contains) =>
        return org.apache.spark.sql.graftglue.Bridge.bucketedParquetDf(
          spark, fileSet.map(f => resolve(f.path)), out, n, bcols)
      case _ =>
    }
    // Equality-delete applicability buckets: a delete applies to files with
    // a strictly lower data sequence, so files sharing the COUNT of
    // higher-seq deletes share the exact applicable subset (seqs are
    // sorted). Grouping by (schema, bucket) bounds the plan at
    // #schemas × (#eq-delete-commits + 1) scan branches — compaction folds
    // deletes away, so the second factor stays small by maintenance, never
    // by file count.
    val delSeqs = eqDels.map(_.seq).distinct.sorted
    def eqBucket(f: DataFile): Int = delSeqs.count(_ > f.seq)
    val conf = if (idRead) FileIO.activeConf() else null
    // id-resolved files further subgroup by the PHYSICAL schema their
    // footers give the recorded field ids — post-rename files read under
    // the names actually in the file, pre-rename ones under theirs. One
    // signature (and so one scan branch) per distinct physical naming,
    // which only multiplies when a rename actually happened.
    val groups = fileSet.groupBy(f =>
        (f.schemaId, eqBucket(f), idRead && f.footerIds)).toSeq.flatMap {
      case ((sid, _, useIds), files) =>
        val fileSchema = schemaOf(s, sid)
        if (!useIds) Seq((fileSchema, None, files))
        else files.groupBy(f => GraftTable.physicalize(fileSchema,
            GraftTable.footerSchema(resolve(f.path), conf))).toSeq
          .map { case (phys, fs) => (fileSchema, Some(phys), fs) }
    }.map { case (fileSchema, physOpt, files) =>
      val readSchema = physOpt.getOrElse(stripIds(fileSchema))
      val df = spark.read.schema(readSchema)
        .parquet(files.map(f => resolve(f.path)): _*)
      // physical field aligned (positionally) with each recorded field
      val physByName = physOpt.map(p =>
        fileSchema.fields.zip(p.fields).map { case (rf, pf) => rf.name -> pf }.toMap)
      val cols = cur.fields.map { f =>
        val ff = counterpart(fileSchema, f)
        val src = ff.map { x =>
          physByName.flatMap(_.get(x.name)) match {
            // a positional cast back to the RECORDED shape renames nested
            // struct fields too, so [[project]]'s name-wise recursion below
            // keeps resolving against recorded names (nullability widened:
            // footer schemas report optional containers and the required
            // form would be an illegal downcast)
            case Some(pf) if pf.name != x.name ||
                wideNullable(pf.dataType) != wideNullable(stripNested(x.dataType)) =>
              qcol(pf.name).cast(wideNullable(stripNested(x.dataType)))
            case _ => qcol(x.name)
          }
        }
        project(src, ff, f).as(f.name)
      }
      val metaCols =
        if (needMeta) Seq(col("_metadata.file_path").as("_graft_path"),
                          col("_metadata.row_index").as("_graft_pos"))
        else Seq.empty
      val base = df.select(cols ++ metaCols: _*)
      applyEqDeletes(base, eqDels.filter(_.seq > files.head.seq), cur, idRead)
    }
    val unioned = groups.reduce(_ unionAll _)
    // merge-on-read: anti-join the positional deletes so deleted rows
    // vanish without their data files being rewritten. SIZE-GATED: a small
    // delete set (the maintained steady state) rides to the data as an
    // explicit broadcast — read cost scales with the DELETE set, not the
    // table. Past the threshold a broadcast would OOM the driver/executors,
    // so the plan degrades to a shuffled hash anti-join (correct, heavy)
    // and logs the cure: rewrite_position_delete_files.
    val live = if (mor) {
      val dels = spark.read.schema(deleteSchema)
        .parquet(s.deleteFiles.map(f => resolve(f.path)): _*)
      // canon BOTH path sides (same codegen'd regexp as canon() /
      // rewritePositionDeleteFiles): graft's own deletes record
      // _metadata.file_path verbatim, but the published commit contract
      // lets FOREIGN writers register delete files too, and imported
      // Iceberg deletes render the scheme differently (file:/ vs
      // file:///) — equality must be rendering-insensitive everywhere.
      val cond = GraftTable.canonCol(unioned("_graft_path")) ===
        GraftTable.canonCol(dels("file_path")) &&
        unioned("_graft_pos") === dels("pos")
      val delBytes = s.deleteFiles.map(_.bytes).sum
      if (delBytes <= morBroadcastThreshold)
        unioned.join(broadcast(dels), cond, "left_anti")
      else {
        GraftTable.logger.warn(
          s"table $path carries $delBytes bytes of positional-delete files " +
            s"(threshold $morBroadcastThreshold): applying deletes as a " +
            "SHUFFLED anti-join — run rewrite_position_delete_files to " +
            "compact them and restore the broadcast plan")
        unioned.join(dels.hint("shuffle_hash"), cond, "left_anti")
      }
    } else unioned
    if (withMeta) live else live.drop("_graft_path", "_graft_pos")
  }

  /** Broadcast ceiling for merge-on-read delete application, in bytes of
    * accumulated positional-delete files: Spark's own auto-broadcast
    * threshold (disabled → never broadcast). */
  private def morBroadcastThreshold: Long = {
    val conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    if (conf.startsWith("-")) 0L
    else scala.util.Try(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf))
      .getOrElse(10L * 1024 * 1024)
  }

  /** Current-schema column name of an equality-delete key: resolved by
    * FIELD ID (rename-proof — Iceberg's equality_ids) when recorded, by the
    * stored name for legacy entries. A dropped key column fails loudly — a
    * delete that can no longer be applied must not be silently ignored. */
  private def eqKeyNames(d: EqDeleteFile, cur: StructType): Seq[String] =
    if (d.colIds.isEmpty) d.cols
    else d.colIds.zip(d.cols).map { case (id, orig) =>
      cur.fields.find(f => f.metadata.contains("graft.id") &&
          f.metadata.getLong("graft.id").toInt == id)
        .getOrElse(throw new IllegalStateException(
          s"equality-delete key column '$orig' (field id $id) is no longer in the " +
          "schema; run rewrite_data_files to materialize the delete first"))
        .name
    }

  /** Anti-join each applicable equality-delete key set against `base`
    * (null-safe — in Iceberg's equality matching null is a value and matches
    * null). Key columns select from the delete file under their AS-WRITTEN
    * names but compare against the CURRENT names, so renames keep matching.
    * The key sets are small, so AQE broadcasts these joins. */
  private def applyEqDeletes(base: DataFrame, dels: Seq[EqDeleteFile],
      cur: StructType, byId: Boolean = false): DataFrame =
    dels.groupBy(d =>
        (eqKeyNames(d, cur), d.cols, byId && d.file.footerIds)).toSeq
      .foldLeft(base) { case (acc, ((curNames, storedNames, useIds), ds)) =>
        // dedup of the key sets goes through Bridge.distinctRows: this plan
        // can be spliced in during operator optimization (a materialized
        // view's read), where a `Deduplicate` node would no longer be rewritten
        val keys =
          if (useIds && ds.head.colIds.nonEmpty) {
            // imported tables: the delete parquet's own column names are
            // unknown (written under whatever schema the foreign writer
            // had) — resolve each file's physical key names from its FOOTER
            // by field id, like the data files (no session-global flag)
            val conf = FileIO.activeConf()
            val ids = ds.head.colIds
            val curFields = curNames.map(cn => cur.fields.find(_.name == cn).get)
            val parts = ds.groupBy { d =>
              val footer = GraftTable.footerSchema(resolve(d.file.path), conf)
              ids.zip(storedNames).map { case (id, sn) =>
                GraftTable.topLevelNameById(footer, id + 1).getOrElse(sn) }
            }.toSeq.map { case (physNames, dsub) =>
              val schema = StructType(physNames.zip(curFields).map { case (pn, cf) =>
                StructField(pn, stripNested(cf.dataType), nullable = true) })
              spark.read.schema(schema)
                .parquet(dsub.map(d => resolve(d.file.path)): _*)
                .select(physNames.zip(storedNames).map { case (pn, sn) =>
                  qcol(pn).as(s"_eq_$sn") }: _*)
            }
            Bridge.distinctRows(parts.reduce(_ unionAll _))
          } else
            Bridge.distinctRows(
              spark.read.parquet(ds.map(d => resolve(d.file.path)): _*)
                .select(storedNames.map(c => qcol(c).as(s"_eq_$c")): _*))
        acc.join(keys,
          curNames.zip(storedNames)
            .map { case (cn, sn) => qcol(cn) <=> qcol(s"_eq_$sn") }.reduce(_ && _),
          "left_anti")
      }

  /** Field in a file schema matching a current-schema field: by graft.id
    * when both carry one (rename-proof), by name as the fallback for legacy
    * nested fields written before nested ids existed. */
  private def counterpart(in: StructType, want: StructField): Option[StructField] = {
    def idOf(f: StructField): Option[Int] =
      if (f.metadata.contains("graft.id")) Some(f.metadata.getLong("graft.id").toInt) else None
    idOf(want).flatMap(id => in.fields.find(f => idOf(f).contains(id)))
      .orElse(in.fields.find(_.name == want.name))
  }

  /** ID-wise projection of one file-side column onto the current schema,
    * recursing into structs so NESTED add/rename/drop/widen evolve too:
    * renamed nested fields map by id, added ones null-fill, dropped ones
    * vanish, and a null struct stays null (never a struct of nulls). Arrays/
    * maps project as leaves (cast). */
  private def project(fileCol: Option[Column], fileF: Option[StructField],
      curF: StructField): Column = (fileCol, fileF.map(_.dataType), curF.dataType) match {
    case (Some(fc), Some(fs: StructType), cs: StructType) =>
      val children = cs.fields.map { nf =>
        val nff = counterpart(fs, nf)
        project(nff.map(x => fc.getField(x.name)), nff, nf).as(nf.name)
      }
      when(fc.isNotNull, struct(children: _*))
    case (Some(fc), Some(fsDt), dt) =>
      // cast targets are nullability-WIDENED: a scan schema rebuilt from a
      // parquet footer reports optional containers, and Spark refuses the
      // (value-preserving) cast down to a required one — nullability flags
      // never need a cast, only the value type does
      if (wideNullable(stripNested(fsDt)) == wideNullable(stripNested(dt))) fc
      else fc.cast(wideNullable(stripNested(dt)))
    case _ =>
      // column absent from the file: initial default if one was declared
      // when the column was added (Iceberg v3), else null
      if (curF.metadata.contains("graft.default"))
        expr(curF.metadata.getString("graft.default")).cast(wideNullable(stripNested(curF.dataType)))
      else lit(null).cast(wideNullable(stripNested(curF.dataType)))
  }

  private def stripNested(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = stripNested(f.dataType), metadata = Metadata.empty)))
    case ArrayType(e, n) => ArrayType(stripNested(e), n)
    case MapType(k, v, n) => MapType(stripNested(k), stripNested(v), n)
    case other => other
  }

  /** Same shape with every nullability flag widened to nullable — the cast
    * target for read-side projections (see [[project]]). */
  private def wideNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = wideNullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(wideNullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(wideNullable(k), wideNullable(v), valueContainsNull = true)
    case other => other
  }

  /** Operations whose snapshot only ADDS rows never seen before — safe to
    * emit into an incremental stream. Everything else either removes rows or
    * re-adds pre-existing rows in new files (overwrite/delete/update/merge/
    * rewrite), which a file-granular increment would replay as duplicates. */
  private val appendOps = Set("create", "import", "append", "append-branch", "cherrypick")
  private val metadataOps = Set("rewrite-manifests", "set-properties",
    "replace-partition-spec", "set-write-order", "add-column", "rename-column",
    "drop-column", "update-column-type", "analyze", "rewrite-deletes")

  /** Rows in data files added between snapshot `fromV` (exclusive) and `toV`
    * (inclusive) — the append-stream increment (`fromV = -1` means everything
    * in `toV`). Powers the table-as-stream source
    * ([[graft.streaming.GraftSourceProvider]]): file-granular, no diffing of
    * row contents, so an increment costs a scan of only the new files.
    *
    * Walks the parent chain from `toV` down to `fromV` so every intermediate
    * snapshot's operation is inspected (Iceberg incremental-read semantics):
    * a data-rewriting snapshot in the range (overwrite / DELETE / UPDATE /
    * MERGE / compaction) FAILS the batch rather than silently re-emitting
    * pre-existing rows as new — pass `skipRewrites = true` to ignore those
    * snapshots' file additions and keep streaming the genuine appends
    * (Iceberg's streaming-skip-overwrite/delete-snapshots). An expired
    * start/intermediate snapshot fails with the cause named. */
  def readAppended(fromV: Long, toV: Long, skipRewrites: Boolean = false,
      projectToSchemaId: Option[Int] = None): DataFrame = {
    val to = log.snapshot(toV)
    projectToSchemaId.foreach { id =>
      require(to.schemas.contains(id.toString),
        s"schema id $id (pinned when the stream started) is no longer in the " +
        s"table's schema history; restart the stream from a fresh checkpoint")
    }
    if (fromV < 0)
      return readFilesOf(to, to.files, withMeta = false,
        schemaIdOverride = projectToSchemaId)
    val newFiles = scala.collection.mutable.ArrayBuffer.empty[DataFile]
    var cur = to
    while (cur.version != fromV) {
      if (cur.parent < 0)
        throw new IllegalStateException(
          s"stream start snapshot v$fromV is not an ancestor of v$toV")
      val parent =
        try log.snapshot(cur.parent)
        catch { case e: IllegalArgumentException =>
          throw new IllegalStateException(
            s"snapshot v${cur.parent} in the stream range (v$fromV, v$toV] has been " +
            s"removed by expire_snapshots; restart the stream from a fresh checkpoint " +
            s"or keep at least the checkpointed range un-expired", e)
        }
      val parentPaths = parent.files.map(_.path).toSet
      val added = cur.files.filterNot(f => parentPaths.contains(f.path))
      if (appendOps.contains(cur.operation) || metadataOps.contains(cur.operation)) {
        newFiles.prependAll(added)
      } else if (!skipRewrites) {
        throw new IllegalStateException(
          s"snapshot v${cur.version} in the stream range is a '${cur.operation}' — " +
          s"its files contain pre-existing rows and streaming them would duplicate " +
          s"data; set the skipRewrites option to ignore rewrite snapshots, or stream " +
          s"an append-only table")
      } // else: skip this snapshot's additions
      cur = parent
    }
    val distinct = newFiles.groupBy(_.path).map(_._2.head).toSeq
    readFilesOf(to, distinct, withMeta = false, schemaIdOverride = projectToSchemaId)
  }

  // ----------------------------------------------------------------- writes

  /** Append: write new data files, commit a new snapshot referencing old +
    * new files (Iceberg append — SURVEY.md §2.1 "Iceberg append write").
    * `extraProps` lands in the SAME commit as the data — the hook the
    * streaming sink uses to record its batch id atomically (exactly-once). */
  def append(df: DataFrame, extraProps: Map[String, String] = Map.empty): Snapshot = {
    val head = log.current
    val newFiles = writeFiles(conform(df, head), head.currentSchemaId, head.properties)
    log.commit(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(),
      operation = "append", files = head.files ++ newFiles,
      properties = head.properties ++ extraProps))
  }

  /** Append under contention: retry the CAS on [[CommitConflictException]]
    * with the standard optimistic-concurrency loop (files are written once;
    * only the metadata commit retries — same as Iceberg's commit retry).
    * The files are written against ONE head: its schema conforms the rows,
    * its schema id tags them and its properties lay them out. */
  def appendWithRetry(df: DataFrame, maxRetries: Int = 10): Snapshot = {
    val base = log.current
    val staged = writeFiles(conform(df, base), base.currentSchemaId, base.properties)
    var attempt = 0
    while (true) {
      val head = log.current
      try {
        return log.commit(head.version, v => head.copy(
          version = v, parent = head.version, timestampMs = now(),
          operation = "append", files = head.files ++ staged))
      } catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Replace the whole table content (INSERT OVERWRITE semantics). */
  def overwrite(df: DataFrame): Snapshot = {
    val head = log.current
    val newFiles = writeFiles(conform(df, head), head.currentSchemaId, head.properties)
    log.commit(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(),
      operation = "overwrite", files = newFiles, deleteFiles = Seq.empty,
      eqDeleteFiles = Seq.empty))
  }

  /** Re-run a whole copy-on-write operation when its commit loses the CAS to
    * a concurrent writer (Iceberg's commit-retry): the body re-reads the
    * head, so a retry operates on the NEW table state — correctness never
    * depends on the loser's stale file list. Files written by a failed
    * attempt become orphans and are collected by removeOrphanFiles. */
  private[table] def retryOnConflict[A](attempts: Int = 3)(body: => A): A = {
    var i = 0
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          i += 1
          if (i >= attempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Row-level DELETE. Default mode is copy-on-write: only files containing
    * matching rows are rewritten, the rest carry over by reference
    * (SURVEY.md §2.8). With table property `write.delete.mode =
    * merge-on-read` the delete instead WRITES a small positional-delete file
    * (Iceberg v2 semantics) — O(matches) write cost instead of O(touched
    * files), the right trade for frequent small deletes; reads anti-join the
    * delete entries until a compaction materializes them. Retries against
    * the new head if a concurrent commit wins the CAS. */
  def delete(cond: Column): Snapshot = retryOnConflict() {
    val head = log.current
    if (head.properties.get("write.delete.mode").contains("merge-on-read"))
      deleteMergeOnRead(head, cond)
    else {
      val df = readSnapshot(head, withMeta = true)
      val touched = touchedPaths(df.filter(cond))
      if (touched.isEmpty) head
      else {
        val keep = df.filter(col("_graft_path").isin(touched: _*) && !coalesce(cond, lit(false)))
          .drop("_graft_path", "_graft_pos")
        replaceFiles(head, touched, keep, "delete")
      }
    }
  }

  private def deleteMergeOnRead(head: Snapshot, cond: Column): Snapshot = {
    // readSnapshot applies the EXISTING deletes, so only live rows match —
    // a position is never deleted twice
    val matches = readSnapshot(head, withMeta = true).filter(cond)
      .select(col("_graft_path").as("file_path"), col("_graft_pos").as("pos"))
    val newDeletes = writeDeleteFiles(matches)
    if (newDeletes.isEmpty) head
    else log.commit(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(),
      operation = "delete", deleteFiles = head.deleteFiles ++ newDeletes))
  }

  /** Equality DELETE (Iceberg v2 `write.delete.mode = merge-on-read` with
    * equality-delete files — the CDC-writer fast path): register the given
    * key rows as an equality-delete file; on read, any row in a data file
    * committed BEFORE this delete whose `keys`-column values match (null-safe)
    * vanishes. No data scan at all — O(keys) write cost, which is why
    * streaming upsert writers (Flink CDC into Iceberg) emit these instead of
    * positional deletes. Key rows appended AFTER the delete are untouched
    * (data-sequence-number scoping). A compaction
    * ([[rewriteDataFiles]]) materializes and drops the delete. */
  def deleteByEquality(keys: DataFrame): Snapshot = retryOnConflict() {
    val head = log.current
    val curMeta = schemaOf(head, head.currentSchemaId)
    val cols = keys.columns.toSeq
    cols.foreach(c => require(curMeta.fieldNames.contains(c),
      s"equality-delete column $c is not in the table schema"))
    // record field ids (Iceberg equality_ids) so the keys keep matching
    // after the table column is renamed
    val colIds = cols.map(c => fieldId(curMeta(curMeta.fieldIndex(c))))
    val keySchema = StructType(cols.map(c =>
      stripIds(curMeta)(curMeta.fieldIndex(c)).copy(nullable = true, metadata = Metadata.empty)))
    val typed = keys.select(cols.map(c =>
      qcol(c).cast(keySchema(c).dataType).as(c)): _*).dropDuplicates()
    val fs = writeDeleteFiles(typed, keySchema,
      fieldIds = cols.zip(colIds).map { case (c, id) => c -> (id + 1L) }.toMap)
    if (fs.isEmpty) head
    else log.commit(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(),
      operation = "delete",
      eqDeleteFiles = head.eqDeleteFiles ++ fs.map(f => EqDeleteFile(f, cols, v, colIds))))
  }

  /** Write (file_path, pos) rows as positional-delete parquet files in the
    * table's data dir, stats included (file_path bounds could prune delete
    * application per data file), computed in the write tasks. With an
    * explicit `schema`, writes arbitrary-keyed EQUALITY-delete files
    * instead. A write with no rows commits no file. */
  private[table] def writeDeleteFiles(df: DataFrame,
      schema: StructType = deleteSchema,
      // Iceberg's RESERVED field ids for positional-delete columns; equality
      // deletes pass their key columns' table ids instead
      fieldIds: Map[String, Long] =
        Map("file_path" -> 2147483546L, "pos" -> 2147483545L)): Seq[DataFile] = {
    val tagged = StructType(df.schema.fields.map(f =>
      fieldIds.get(f.name).map(id => f.copy(metadata =
        new MetadataBuilder().withMetadata(f.metadata)
          .putLong("parquet.field.id", id).build())).getOrElse(f)))
    val layout = StatLayout(schema, Seq.empty)
    writeStaged(df, tagged, Map.empty, layout, _ => s"${UUID.randomUUID()}-deletes.parquet")
      .map { case (name, raw) => dataFile(name, raw, -1, layout) }
  }

  /** Overwrite only rows matching `cond` with `df`, in ONE snapshot commit
    * (Iceberg's overwrite-by-filter / static `INSERT OVERWRITE … WHERE`):
    * files containing matching rows are rewritten without them, the new
    * data lands alongside, untouched files carry over by reference. */
  def overwriteWhere(cond: Column, df: DataFrame): Snapshot = retryOnConflict() {
    val head = log.current
    val full = readSnapshot(head, withMeta = true)
    val touched = touchedPaths(full.filter(cond))
    val keep = full.filter(col("_graft_path").isin(touched: _*) && !coalesce(cond, lit(false)))
      .drop("_graft_path", "_graft_pos")
    replaceFiles(head, touched, keep, "overwrite", extraRows = Some(conform(df, head)))
  }

  /** Row-level UPDATE as copy-on-write rewrite of touched files — or, under
    * `write.delete.mode = merge-on-read`, as positional deletes of the old
    * rows plus an append of their updated copies in the SAME commit
    * (Iceberg v2 MOR update: O(matches) write cost). Retries against the new
    * head if a concurrent commit wins the CAS. */
  def update(cond: Column, set: Map[String, Column]): Snapshot = retryOnConflict() {
    val head = log.current
    val cur = stripIds(schemaOf(head, head.currentSchemaId))
    val df = readSnapshot(head, withMeta = true)
    // Iceberg's per-op mode: write.update.mode, falling back to the
    // table-wide write.delete.mode switch
    if (head.properties.get("write.update.mode")
        .orElse(head.properties.get("write.delete.mode")).contains("merge-on-read")) {
      val matched = df.filter(cond).cache()
      try {
        val newDeletes = writeDeleteFiles(
          matched.select(col("_graft_path").as("file_path"), col("_graft_pos").as("pos")))
        if (newDeletes.isEmpty) head
        else {
          val updated = enforceChecks(matched.select(cur.fields.map { f =>
            set.get(f.name) match {
              case Some(v) => v.cast(f.dataType).as(f.name)
              case None    => qcol(f.name)
            }
          }: _*), head)
          val newFiles = writeFiles(updated, head.currentSchemaId, head.properties)
          log.commit(head.version, v => head.copy(
            version = v, parent = head.version, timestampMs = now(),
            operation = "update", files = head.files ++ newFiles,
            deleteFiles = head.deleteFiles ++ newDeletes))
        }
      } finally matched.unpersist()
    } else {
      val touched = touchedPaths(df.filter(cond))
      if (touched.isEmpty) head
      else {
        // CHECK constraints see the post-update images of the hit rows
        // only (carried-over rows re-validate nothing — Delta semantics)
        enforceChecks(df.filter(cond).select(cur.fields.map { f =>
          set.get(f.name) match {
            case Some(v) => v.cast(f.dataType).as(f.name)
            case None    => qcol(f.name)
          }
        }: _*), head)
        val hit = coalesce(cond, lit(false))
        val rewritten = df.filter(col("_graft_path").isin(touched: _*))
          .select(cur.fields.map { f =>
            set.get(f.name) match {
              case Some(v) => when(hit, v.cast(f.dataType)).otherwise(qcol(f.name)).as(f.name)
              case None    => qcol(f.name)
            }
          }: _*)
        replaceFiles(head, touched, rewritten, "update")
      }
    }
  }

  /** Start a MERGE INTO builder (reference `main.tf:803` headline DML). */
  def merge(source: DataFrame, condition: Column): MergeBuilder =
    new MergeBuilder(this, source, condition)

  // ---------------------------------------------------------- maintenance

  /** `CALL rollback_to_snapshot` / `set_current_snapshot`: move HEAD. */
  def rollbackTo(v: Long): Unit = log.setHead(v)

  /** `CALL cherrypick_snapshot`: re-apply the files an (append) snapshot
    * added onto the current head. */
  def cherrypick(v: Long): Snapshot = cherrypick(v, Map.empty)

  private def cherrypick(v: Long, summary: Map[String, String]): Snapshot = {
    val snap = log.snapshot(v)
    val parentFiles =
      if (snap.parent < 0) Set.empty[String]
      else log.snapshot(snap.parent).files.map(_.path).toSet
    val added = snap.files.filterNot(f => parentFiles.contains(f.path))
    val head = log.current
    val have = head.files.map(_.path).toSet
    log.commit(head.version, nv => head.copy(
      version = nv, parent = head.version, timestampMs = now(),
      operation = "cherrypick", summary = summary,
      // donor files re-enter with a FRESH sequence number (seq 0 = let the
      // commit stamp it) — Iceberg's cherry-pick likewise re-sequences, so
      // equality deletes issued since the donor don't hit the re-applied rows
      files = head.files ++ added.filterNot(f => have(f.path)).map(_.copy(seq = 0L))))
  }

  /** The live table properties (HEAD snapshot's property map). */
  def currentProperties: Map[String, String] = log.current.properties

  // ------------------------------------------------------ write-audit-publish

  /** WAP stage (Iceberg `spark.wap.id` flow): write the append's data files
    * and commit a DETACHED snapshot stamped `wap.id` in its summary — HEAD
    * does not move, so readers cannot see the rows until
    * [[publishChanges]]. The audit step reads the staged snapshot directly
    * (`VERSION AS OF` the returned version). */
  def stageWapAppend(df: DataFrame, wapId: String): Snapshot = {
    require(wapId.nonEmpty, "wap id must be non-empty")
    val head = log.current
    val newFiles = writeFiles(conform(df, head), head.currentSchemaId, head.properties)
    log.commitDetached(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(),
      operation = "append", files = head.files ++ newFiles,
      summary = Map("wap.id" -> wapId)))
  }

  /** `CALL publish_changes`: cherry-pick the staged snapshot carrying
    * `wap.id = wapId` onto HEAD, stamping `published-wap-id` so a second
    * publish of the same audit id is rejected (Iceberg's duplicate-WAP
    * guard). Appends that landed between stage and publish are preserved —
    * the publish merges files like any cherry-pick. */
  def publishChanges(wapId: String): Snapshot = {
    val already = mainLineage(log.current)
      .exists(_.summary.get("published-wap-id").contains(wapId))
    if (already)
      throw new IllegalStateException(s"wap id '$wapId' is already published")
    val staged = log.listVersions.map(log.snapshot)
      .filter(_.summary.get("wap.id").contains(wapId))
    staged match {
      case Seq(s) => cherrypick(s.version,
        Map("published-wap-id" -> wapId, "source-snapshot-id" -> s.version.toString))
      case Seq() => throw new IllegalArgumentException(s"no staged snapshot with wap id '$wapId'")
      case many => throw new IllegalStateException(
        s"ambiguous wap id '$wapId': versions ${many.map(_.version).mkString(",")}")
    }
  }

  /** HEAD's ancestor chain (main lineage), newest first. */
  private def mainLineage(from: Snapshot): Iterator[Snapshot] =
    Iterator.iterate(Option(from)) {
      case Some(s) if s.parent >= 0 => Some(log.snapshot(s.parent))
      case _ => None
    }.takeWhile(_.isDefined).map(_.get)

  /** `CALL expire_snapshots`: drop all but the newest `keepLast` snapshot
    * JSONs (HEAD and ref targets always survive), then GC data files no
    * remaining snapshot references. */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1)
    val vs = log.listVersions
    val keepFrom = vs.takeRight(keepLast).headOption.getOrElse(return Seq.empty)
    val expired = log.expireMetadata(keepFrom)
    removeOrphanFiles()
    expired
  }

  /** Timestamp form (Iceberg `expire_snapshots(older_than, retain_last)`):
    * expire snapshots committed strictly before `olderThanMs`, but always
    * retain the newest `retainLast` regardless of age (and, through
    * [[SnapshotLog.expireMetadata]], HEAD and every ref target). */
  def expireSnapshotsOlderThan(olderThanMs: Long, retainLast: Int = 1): Seq[Long] = {
    require(retainLast >= 1)
    val vs = log.listVersions
    if (vs.isEmpty) return Seq.empty
    val byAge = vs.filter(v => log.snapshot(v).timestampMs >= olderThanMs)
    val protectedTail = vs.takeRight(retainLast)
    val keepFrom = (byAge ++ protectedTail).minOption.getOrElse(vs.last)
    val expired = log.expireMetadata(keepFrom)
    removeOrphanFiles()
    expired
  }

  /** `CALL remove_orphan_files`: delete data files not referenced by any
    * live snapshot, plus Puffin statistics files under `_graft/stats` that
    * no retained snapshot's `stats.puffin.path` points at (each ANALYZE
    * writes a fresh versioned stats file, and a retryOnConflict re-run can
    * orphan an unreferenced one — without this sweep they accumulate
    * forever, ADVICE r10). */
  def removeOrphanFiles(): Seq[String] = {
    val snaps = log.listVersions.map(log.snapshot)
    val referenced = snaps.flatMap { s =>
      (s.files ++ s.deleteFiles ++ s.eqDeleteFiles.map(_.file)).map(_.path)
    }.toSet
    val existing = log.io.listNames(log.dataDir)
    val orphans = existing.filterNot(n => referenced.contains(s"data/$n"))
    orphans.foreach(n => log.io.delete(s"${log.dataDir}/$n"))
    val liveStats = snaps.flatMap(_.properties.get("stats.puffin.path")).toSet
    val statOrphans = log.io.listNames(s"$path/_graft/stats")
      .filterNot(n => liveStats.contains(s"_graft/stats/$n"))
    statOrphans.foreach(n => log.io.delete(s"$path/_graft/stats/$n"))
    orphans ++ statOrphans.map(n => s"_graft/stats/$n")
  }

  /** `CALL rewrite_data_files`: compaction — same rows, `target` files. */
  def rewriteDataFiles(target: Int): Snapshot = {
    val head = log.current
    val df = readSnapshot(head).repartition(target)
    val newFiles = writeFiles(df, head.currentSchemaId, head.properties)
    // a full rewrite reads through the delete filters, so the output is
    // clean — positional AND equality deletes are materialized and dropped
    log.commit(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(),
      operation = "rewrite", files = newFiles, deleteFiles = Seq.empty,
      eqDeleteFiles = Seq.empty))
  }

  /** PREDICATE-SCOPED compaction (`CALL rewrite_data_files(..., where =>
    * ...)` — Iceberg's scoped rewrite): compact only files containing rows
    * matching `cond` into `target` outputs, carrying every other file over
    * by reference. The real-world maintenance shape — compact yesterday's
    * hot partition, not the whole 100 TB table. Touched files read THROUGH
    * the delete filters, so their rewritten form is clean (their MOR
    * deletes materialize); untouched files keep their delete scoping
    * untouched. Stale delete entries targeting departed paths anti-join
    * nothing and are swept by rewrite_position_delete_files. */
  def rewriteDataFilesWhere(cond: Column, target: Int): Snapshot = retryOnConflict() {
    val head = log.current
    val touched = touchedPaths(readSnapshot(head, withMeta = true).filter(cond))
    if (touched.isEmpty) head
    else {
      val touchedSet = touched.map(canon).toSet
      val files = head.files.filter(f => touchedSet.contains(canon(resolve(f.path))))
      val df = readFilesOf(head, files, withMeta = false)
        .repartition(math.max(target, 1))
      replaceFiles(head, touched, df, "rewrite")
    }
  }

  /** Binpack compaction (Iceberg's default rewrite strategy): coalesce only
    * files SMALLER than `minBytes` into ~`targetBytes`-sized outputs,
    * carrying every right-sized file over by reference. On a 100 TB table
    * this is the difference between rewriting the 1% of small files an
    * hourly stream produced and rewriting everything. */
  def rewriteSmallFiles(minBytes: Long, targetBytes: Long): Snapshot = retryOnConflict() {
    val head = log.current
    val small = head.files.filter(_.bytes < minBytes)
    if (small.size <= 1) head
    else {
      val parts = math.max(1, (small.map(_.bytes).sum / math.max(targetBytes, 1L)).toInt)
      val df = readFilesOf(head, small, withMeta = false).repartition(parts)
      val newFiles = writeFiles(df, head.currentSchemaId, head.properties)
      val smallPaths = small.map(_.path).toSet
      log.commit(head.version, v => head.copy(
        version = v, parent = head.version, timestampMs = now(),
        operation = "rewrite",
        files = head.files.filterNot(f => smallPaths.contains(f.path)) ++ newFiles))
    }
  }

  /** `CALL rewrite_position_delete_files` (Iceberg maintenance): compact
    * the accumulated positional-delete files into one, dropping entries
    * whose target data file left the snapshot (rewritten or removed — such
    * entries are dead weight anti-joined on every read). Touches no data
    * files; visible rows are unchanged. */
  def rewritePositionDeleteFiles(): Snapshot = retryOnConflict() {
    val head = log.current
    if (head.deleteFiles.isEmpty) head
    else {
      import spark.implicits._
      // file_path is the parquet _metadata rendering — normalize the
      // empty-authority scheme prefix with a codegen'd regexp (no UDF in
      // the path; same rule as canon), then keep only entries whose target
      // data file is still in the snapshot, via a broadcast semi-join
      // against the live file list (thousands of paths: too many for isin
      // literals, trivially broadcastable as a frame).
      val live = head.files.map(f => canon(resolve(f.path))).toDF("live_path")
      val targetBytes = head.properties.get("write.target-file-size-bytes")
        .map(_.toLong).getOrElse(128L * 1024 * 1024)
      val parts = math.max(1,
        (head.deleteFiles.map(_.bytes).sum / targetBytes).toInt)
      val kept = spark.read.schema(deleteSchema)
        .parquet(head.deleteFiles.map(f => resolve(f.path)): _*)
        .join(broadcast(live),
          regexp_replace(col("file_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?+(?=/)", "")
            === col("live_path"), "left_semi")
        .repartition(parts)
      val newDeletes = writeDeleteFiles(kept)
      log.commit(head.version, v => head.copy(
        version = v, parent = head.version, timestampMs = now(),
        operation = "rewrite-deletes", deleteFiles = newDeletes))
    }
  }

  /** Z-ORDER compaction (`CALL rewrite_data_files(..., zorder_by)` — the
    * Iceberg rewrite strategy): rows are range-partitioned and sorted on an
    * interleaved-bit curve over the given NUMERIC columns, so each output
    * file covers a small hyper-rectangle and min/max pruning bites on EVERY
    * zorder column — linear sort only ever tightens the leading one.
    *
    * Scale shape: per-column [min,max] comes from the snapshot's existing
    * file stats (driver metadata, no scan); the z-value is pure codegen'd
    * arithmetic (normalize to 16 bits, interleave via shift/and/or);
    * `repartitionByRange` samples the z-values to cut `target` balanced
    * ranges. One full read + write, like any compaction. */
  def rewriteDataFilesZOrder(target: Int, zorderBy: Seq[String]): Snapshot = {
    require(zorderBy.nonEmpty, "zorder needs at least one column")
    val head = log.current
    val cur = stripIds(schemaOf(head, head.currentSchemaId))
    val bounds = zorderBy.map { c =>
      val f = cur.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column $c"))
      require(f.dataType.isInstanceOf[NumericType],
        s"zorder column $c must be numeric, is ${f.dataType.simpleString}")
      // all-null marker entries carry empty bounds — no value to anchor
      // the z-range on (review r17: "".toDouble failed the whole rewrite)
      val sts = head.files.flatMap(_.stats.get(c)).filter(_.min.nonEmpty)
      require(sts.nonEmpty, s"no stats for zorder column $c")
      c -> (sts.map(_.min.toDouble).min, sts.map(_.max.toDouble).max)
    }.toMap
    val k = zorderBy.length
    val zCol = zorderBy.zipWithIndex.map { case (c, j) =>
      val (mn, mx) = bounds(c)
      val range = if (mx > mn) mx - mn else 1.0
      val nz = least(greatest(
        floor((qcol(c).cast("double") - mn) / range * 65535.0), lit(0.0)), lit(65535.0))
        .cast("long")
      // spread bit b of column j to position b*k + j (disjoint positions, so
      // summing across columns IS the bitwise-or interleave)
      (0 until 16).map(b =>
        shiftleft(shiftrightunsigned(nz, b).bitwiseAND(lit(1L)), b * k + j): Column)
        .reduce(_ + _)
    }.reduce(_ + _)
    val out = readSnapshot(head)
      .withColumn("_z", zCol)
      .repartitionByRange(target, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
    val newFiles = writeFiles(out, head.currentSchemaId,
      // bypass the write-distribution re-shuffle: the z-curve IS the layout
      head.properties - "write.partition-by" - "write.sort-by")
    log.commit(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(),
      operation = "rewrite", files = newFiles, deleteFiles = Seq.empty,
      eqDeleteFiles = Seq.empty))
  }

  /** ANALYZE TABLE: one distributed pass computing per-column approximate
    * NDV (HLL sketch, partial→final — map-side combinable at any scale)
    * over the current snapshot, recorded as `stats.ndv.<col>` table
    * properties in a metadata-only commit. Feeds the DSv2 COLUMN statistics
    * ([[graft.catalog.GraftDsv2Table]]) so Spark's cost-based optimizer
    * sees distinct counts without any plan-time scan — the analogue of
    * Iceberg's `ANALYZE TABLE` / compute_table_stats Puffin theta
    * sketches. Min/max/null-count column stats need no analyze pass: they
    * merge from the per-file manifest bounds the writes already keep. */
  def computeColumnStats(): Snapshot = retryOnConflict() {
    val head = log.current
    val stamped = schemaOf(head, head.currentSchemaId)
    val cur = stripIds(stamped)
    val statCols = cur.fields.filter(f => StatLayout.isStatType(f.dataType)).map(_.name).toSeq
    if (statCols.isEmpty) head
    else {
      // ONE distributed pass computes both stat families: HLL NDV (the
      // DSv2/CBO numbers) and a theta-family KMV sketch per column — the
      // payload of the Iceberg Puffin statistics file the declared stack's
      // ANALYZE writes. Both are map-side-combinable aggregates, so the
      // pass shuffles sketch state, never rows.
      val sketchCols = cur.fields
        .filter(f => graft.functions.ThetaSketch.supports(f.dataType))
        .map(_.name).toSeq
      // EQUI-HEIGHT HISTOGRAMS for the CBO's range-predicate estimation
      // (what NDV cannot give): a KLL quantile sketch per numeric column
      // in the SAME pass, its 33 quantile endpoints recorded as
      // `stats.hist.<col>` — the splice serves them as a Spark Histogram,
      // so `v > K` over a skewed column estimates from the actual mass
      // distribution instead of uniform min/max interpolation
      val histCols = cur.fields.filter(f => f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType => true
        case _ => false
      }).map(_.name).toSeq
      val aggs = statCols.map(c => approx_count_distinct(qcol(c)).as(c)) ++
        sketchCols.map(c => graft.functions.ThetaSketch(qcol(c)).as(s"__sk_$c")) ++
        histCols.map(c => graft.functions.KllSketch(qcol(c).cast("double")).as(s"__kll_$c"))
      val row = readSnapshot(head).agg(aggs.head, aggs.tail: _*).collect()(0)
      val props = statCols.zipWithIndex
        .map { case (c, i) => s"stats.ndv.$c" -> row.getLong(i).toString }.toMap ++
        histCols.zipWithIndex.flatMap { case (c, j) =>
          val blob = row.getAs[Array[Byte]](statCols.size + sketchCols.size + j)
          if (graft.functions.KllSketch.countFrom(blob) == 0L) None
          else Some(s"stats.hist.$c" -> (0 to HistBins).map(i =>
            graft.functions.KllSketch.quantileFrom(blob, i.toDouble / HistBins))
            .mkString(","))
        }.toMap

      // Puffin file: one theta blob per sketched column, stamped with the
      // ANALYZED snapshot (stats describe the data as of `head`) and the
      // Iceberg field id (graft.id + 1 — what the exported schema renders)
      val fieldIdOf = stamped.fields.map(f =>
        f.name -> (f.metadata.getLong("graft.id").toInt + 1)).toMap
      val blobs = sketchCols.zipWithIndex.map { case (c, j) =>
        val payload = row.getAs[Array[Byte]](statCols.size + j)
        Puffin.Blob(Puffin.ThetaBlobType, Seq(fieldIdOf(c)),
          snapshotId = head.version, sequenceNumber = head.version,
          payload = payload,
          properties = Map("ndv" -> math.round(
            graft.functions.ThetaSketch.estimateFrom(payload)).toString))
      }
      val (bytes, _) = Puffin.write(blobs,
        Map("created-by" -> s"graft ${org.apache.spark.SPARK_VERSION}"))
      val rel = s"_graft/stats/puffin-v${head.version + 1}.bin"
      log.io.mkdirs(s"$path/_graft/stats")
      log.io.writeBytesAtomicReplace(s"$path/$rel", bytes)

      log.commit(head.version, v => head.copy(
        version = v, parent = head.version, timestampMs = now(),
        operation = "analyze", properties = head.properties ++ props +
          ("stats.puffin.path" -> rel) +
          ("stats.puffin.snapshot-id" -> head.version.toString)))
    }
  }

  /** `CALL refresh_stats` (VERDICT r17 #1): re-record every data file's
    * per-file stats in the CANONICAL forms the pruners understand — UTC
    * 'T'-separator timestamp bounds, Iceberg-spec-integer transform
    * values, the all-null marker — in ONE distributed read pass and a
    * METADATA-ONLY commit: file paths, sequence numbers, deletes and
    * layout are untouched, no data is written. The cheap cure for pre-r17
    * tables whose legacy session-zone stat renderings carry no pruning
    * claim under the r17 read-compat shim: the only alternative was a
    * full `rewrite_data_files` — a table-sized WRITE for a metadata fix;
    * at 100 TB this pass is one distributed read (column-pruned to the
    * statted columns) instead.
    *
    * Two bonuses fall out of re-statting from current metadata: files
    * written BEFORE a partition-spec evolution gain the transform stats
    * of the current `write.partition-by` (their data always had the
    * values; only the stats were missing), and files whose columns were
    * RENAMED since they were written re-key their stats to the CURRENT
    * column names via field ids — write-time-name stats stop matching
    * filters after a rename, so both classes of file regain pruning. */
  def refreshStats(): Snapshot = retryOnConflict() {
    val head = log.current
    if (head.files.isEmpty) head
    else {
      // transform-version UPGRADE rides the same pass (VERDICT r17 #3):
      // when every file can be re-statted, transform stats are recomputed
      // with the v2 (zone-free) semantics and the table is stamped v2 —
      // stats-based pruning is layout-independent, so a legacy
      // session-zone bucket(ts) LAYOUT stays correct under v2 stats (its
      // per-file bucket ranges are just wider until a rewrite re-clusters)
      // ... and only when NO file keeps a stale entry (a skipped file's
      // old v1 transform stats must not sit under a v2 stamp)
      val canUpgrade = head.files.forall(f =>
        head.schemas.contains(f.schemaId.toString) && !f.footerIds)
      // FORCE the stamp (not stampVersion, which honors an existing pin):
      // upgrading pinned-v1 tables is this procedure's purpose — every
      // file's transform stats are recomputed below under v2 semantics in
      // the same commit, so stats and version can never disagree
      val newProps =
        if (canUpgrade) head.properties + (PartitionTransform.VersionKey -> "2")
        else head.properties
      val curStamped = schemaOf(head, head.currentSchemaId)
      val idToCur: Map[Long, String] = curStamped.fields
        .filter(_.metadata.contains("graft.id"))
        .map(f => f.metadata.getLong("graft.id") -> f.name).toMap
      val refreshedByPath: Map[String, DataFile] =
        head.files.groupBy(_.schemaId).toSeq.flatMap { case (sid, fs0) =>
          // two classes of file cannot be re-read faithfully and keep their
          // entries as they are: a group whose write-time schema is no
          // longer recorded, and footer-field-id files (Iceberg imports
          // resolve columns BY ID — a by-name re-read of a file whose
          // parquet names predate an Iceberg-side rename would read nulls
          // and record FALSE all-null markers, i.e. unsound pruning)
          val fs = fs0.filterNot(_.footerIds)
          if (!head.schemas.contains(sid.toString) || fs.isEmpty) Seq.empty
          else {
            val stamped = schemaOf(head, sid)
            val sch = stripIds(stamped)
            // write-time name -> current name (field-id join)
            val rekey: Map[String, String] = stamped.fields
              .filter(_.metadata.contains("graft.id"))
              .flatMap(f => idToCur.get(f.metadata.getLong("graft.id"))
                .map(f.name -> _)).toMap
            // write-time column names whose id was DROPPED from the current
            // schema: their stats must not pass through — a later column
            // RENAMED onto the dropped name would inherit the dead column's
            // bounds as its own (wrong stats → wrong pruning)
            val dropped: Set[String] = stamped.fields
              .filter(f => f.metadata.contains("graft.id") &&
                !idToCur.contains(f.metadata.getLong("graft.id")))
              .map(_.name).toSet
            // transform stats recompute only when every source column
            // resolves in this group's write-time schema under its current
            // name (the no-rename common case); a group written before the
            // source column existed keeps no transform stats — same
            // conservative behavior as today
            val derived = scala.util.Try(PartitionTransform
                .parseListFrom(newProps, sch))
              .getOrElse(Seq.empty)
              .filterNot(_.isInstanceOf[PartitionTransform.Identity])
            val origOf = fs.map(f => GraftTable.canonStr(resolve(f.path)) -> f).toMap
            statFiles(fs.map(f => resolve(f.path)), sch, sid,
                a => origOf(GraftTable.canonStr(a)).path, derived)
              .map { nf =>
                val orig = origOf(GraftTable.canonStr(resolve(nf.path)))
                val renamed = nf.stats.flatMap { case (k, v) =>
                  if (dropped(k)) None // dead column: no claim to carry
                  else Some(rekey.getOrElse(k, k) -> v) // transform keys pass
                }
                orig.path -> orig.copy(rows = nf.rows, bytes = nf.bytes,
                  stats = renamed)
              }
          }
        }.toMap
      // zero-row parts yield no stat group: those files keep their entry
      val files = head.files.map(f => refreshedByPath.getOrElse(f.path, f))
      log.commit(head.version, v => head.copy(version = v,
        parent = head.version, timestampMs = now(),
        operation = "refresh-stats", files = files, properties = newProps))
    }
  }

  /** `CALL create_changelog_view`: NET CDC rows between two snapshots —
    * bag-semantics diff (exceptAll both ways), `_change_type` in
    * {insert, delete}. */
  def changelog(fromV: Long, toV: Long): DataFrame = {
    val a = readVersion(fromV)
    val b = readVersion(toV)
    b.exceptAll(a).withColumn("_change_type", lit("insert"))
      .unionAll(a.exceptAll(b).withColumn("_change_type", lit("delete")))
  }

  /** Per-commit changelog (Iceberg changelog-with-ordinals semantics): one
    * insert/delete row set PER SNAPSHOT in `(fromV, toV]`, tagged with
    * `_commit_version` and a dense `_change_ordinal`, carryover rows
    * (rewritten unchanged by compaction/DML) filtered out by the per-step
    * bag diff. Each step reads only the files that changed in that commit —
    * never the whole table. */
  def changelogDetailed(fromV: Long, toV: Long): DataFrame = {
    // ancestors of toV back to fromV, oldest first; fromV < 0 replays from
    // BEFORE the first snapshot (bootstrap: the root commit is a step whose
    // every row is an insert)
    val chain = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
    var cur = log.snapshot(toV)
    var atRoot = false
    while (!atRoot && cur.version != fromV) {
      chain.prepend(cur)
      if (cur.parent < 0) {
        require(fromV < 0, s"v$fromV is not an ancestor of v$toV")
        atRoot = true
      } else cur = log.snapshot(cur.parent)
    }
    // every step projects through toV's snapshot: its schema registry holds
    // all schemas ever written, so ID-wise projection lands each step's rows
    // on ONE common (end-of-range) schema regardless of mid-range evolution
    val to = log.snapshot(toV)
    val steps = chain.toSeq.zipWithIndex.map { case (s, ord) =>
      // a root step has no parent: everything it holds is an insert
      val parent =
        if (s.parent >= 0) log.snapshot(s.parent)
        else s.copy(files = Seq.empty, deleteFiles = Seq.empty, eqDeleteFiles = Seq.empty)
      val parentPaths = parent.files.map(_.path).toSet
      val curPaths = s.files.map(_.path).toSet
      // the END state's delete filter must not leak into intermediate steps
      // (a row appended at ord 0 and MOR-deleted at ord 2 is an insert THEN
      // a delete, not nothing) — added files read raw; removed files read
      // through the PARENT's delete entries, because rows already
      // MOR-deleted before this step were not alive to be "removed" by it
      val added = readFilesOf(to, s.files.filterNot(f => parentPaths.contains(f.path)),
        withMeta = false, applyDeletes = false)
      val parentCtx = to.copy(deleteFiles = parent.deleteFiles,
        eqDeleteFiles = parent.eqDeleteFiles)
      val removed = readFilesOf(parentCtx, parent.files.filterNot(f => curPaths.contains(f.path)),
        withMeta = false)
      val fileDiff = added.exceptAll(removed)
        .withColumn("_change_type", lit("insert"))
        .unionAll(removed.exceptAll(added)
          .withColumn("_change_type", lit("delete")))
      // merge-on-read delete step: the data files didn't change — the
      // deleted rows are the ones the step's NEW delete entries point at
      val parentDeletes = parent.deleteFiles.map(_.path).toSet
      val newDeletes = s.deleteFiles.filterNot(f => parentDeletes.contains(f.path))
      val step =
        if (newDeletes.isEmpty) fileDiff
        else {
          val dels = spark.read.schema(deleteSchema)
            .parquet(newDeletes.map(f => resolve(f.path)): _*)
          val data = readFilesOf(to, s.files, withMeta = true, applyDeletes = false)
          // rendering-insensitive path equality, like the read-side MOR
          // anti-join: imported/foreign delete files may render file: URIs
          // differently than _metadata.file_path does
          val morDeleted = data.join(dels,
            GraftTable.canonCol(data("_graft_path")) ===
              GraftTable.canonCol(dels("file_path")) &&
              data("_graft_pos") === dels("pos"),
            "left_semi")
            .drop("_graft_path", "_graft_pos")
            .withColumn("_change_type", lit("delete"))
          fileDiff.unionAll(morDeleted)
        }
      // equality-delete step: data files unchanged — the deleted rows are
      // the parent-alive rows the step's NEW equality keys match. Bag-exact:
      // survivors via the same anti-join chain the read path uses, deleted =
      // alive \ survivors.
      val parentEqPaths = parent.eqDeleteFiles.map(_.file.path).toSet
      val newEq = s.eqDeleteFiles.filterNot(f => parentEqPaths.contains(f.file.path))
      val step2 =
        if (newEq.isEmpty) step
        else {
          val alive = readFilesOf(parentCtx, parent.files, withMeta = false)
          val survivors = applyEqDeletes(alive, newEq, schemaOf(to, to.currentSchemaId))
          step.unionAll(alive.exceptAll(survivors)
            .withColumn("_change_type", lit("delete")))
        }
      step2
        .withColumn("_commit_version", lit(s.version))
        .withColumn("_change_ordinal", lit(ord))
    }
    steps.reduceOption(_ unionAll _)
      .getOrElse(emptyDf(StructType(stripIds(schema).fields
        :+ StructField("_change_type", StringType)
        :+ StructField("_commit_version", LongType)
        :+ StructField("_change_ordinal", IntegerType))))
  }

  // ------------------------------------------------------------------ refs

  def createTag(name: String, v: Long = log.currentVersion): Unit =
    log.setRef(name, Ref(v, "tag"))
  def createBranch(name: String, v: Long = log.currentVersion): Unit =
    log.setRef(name, Ref(v, "branch"))
  def dropRef(name: String): Unit = log.dropRef(name)

  /** Branch write (Iceberg branch semantics, SURVEY.md §2.8): append onto a
    * branch head without touching main — a detached commit whose parent is
    * the branch's snapshot, then the ref fast-forwards to it. */
  def appendToBranch(name: String, df: DataFrame): Snapshot = retryOnConflict() {
    val r = log.refs.getOrElse(name, throw new IllegalArgumentException(s"no ref $name"))
    require(r.refType == "branch", s"$name is a tag — tags are immutable")
    val base = log.snapshot(r.version)
    val newFiles = writeFiles(conform(df, base), base.currentSchemaId, base.properties)
    val snap = log.commitDetached(base.version, v => base.copy(
      version = v, parent = base.version, timestampMs = now(),
      operation = "append-branch", files = base.files ++ newFiles))
    log.setRef(name, r.copy(version = snap.version))
    snap
  }
  /** Fast-forward a branch to the current head. */
  def fastForward(name: String): Unit = {
    val r = log.refs.getOrElse(name, throw new IllegalArgumentException(s"no ref $name"))
    require(r.refType == "branch", s"$name is a tag")
    log.setRef(name, r.copy(version = log.currentVersion))
  }

  // ------------------------------------------------------ schema evolution

  /** ALTER TABLE ADD COLUMN — null-filled for existing files, no rewrite.
    * A multi-part path (`Seq("address", "zip")`) adds a NESTED struct field
    * (Iceberg nested evolution); the new field gets a fresh graft.id so
    * later renames stay metadata-only. */
  def addColumn(name: String, dataType: DataType): Snapshot = addColumn(Seq(name), dataType)
  def addColumn(path: Seq[String], dataType: DataType): Snapshot =
    addColumn(path, dataType, None)
  /** With `defaultSql` (a SQL literal/expression string), the column gets an
    * Iceberg-v3-style INITIAL DEFAULT: rows in files written BEFORE the
    * column existed read the default instead of null — pure metadata, the
    * files never change. Rows written after carry their own values. */
  def addColumn(path: Seq[String], dataType: DataType, defaultSql: Option[String]): Snapshot =
    evolveSchema("add-column") { cur =>
      var id = maxId(cur) // fresh ids for the field and any nested structs inside it
      def next(): Int = { id += 1; id }
      mapStructAt(cur, path.init) { parent =>
        require(!parent.fieldNames.contains(path.last), s"column ${path.mkString(".")} exists")
        val ownId = next()
        val mb = new MetadataBuilder().putLong("graft.id", ownId.toLong)
        defaultSql.foreach(mb.putString("graft.default", _))
        StructType(parent.fields :+ StructField(path.last, withIds(dataType, next _),
          nullable = true, mb.build()))
      }
    }

  /** ALTER TABLE RENAME COLUMN — pure metadata, ID keeps file mapping.
    * Multi-part paths rename nested struct fields. */
  def renameColumn(from: String, to: String): Snapshot = renameColumn(Seq(from), to)
  def renameColumn(path: Seq[String], to: String): Snapshot =
    evolveSchema("rename-column") { cur =>
      mapStructAt(cur, path.init) { parent =>
        require(parent.fieldNames.contains(path.last), s"no column ${path.mkString(".")}")
        require(!parent.fieldNames.contains(to), s"column $to exists")
        StructType(parent.fields.map(f => if (f.name == path.last) f.copy(name = to) else f))
      }
    }

  /** ALTER TABLE ALTER COLUMN TYPE (widening, e.g. INT→BIGINT — the change
    * MERGE WITH SCHEMA EVOLUTION requests when the source is wider): pure
    * metadata; old files cast ID-wise to the new type on read. */
  def updateColumnType(name: String, dataType: DataType): Snapshot =
    updateColumnType(Seq(name), dataType)
  def updateColumnType(path: Seq[String], dataType: DataType): Snapshot =
    evolveSchema("update-column-type") { cur =>
      mapStructAt(cur, path.init) { parent =>
        require(parent.fieldNames.contains(path.last), s"no column ${path.mkString(".")}")
        StructType(parent.fields.map(f =>
          if (f.name == path.last) f.copy(dataType = dataType) else f))
      }
    }

  /** ALTER TABLE DROP COLUMN — pure metadata, data files untouched.
    * Multi-part paths drop nested struct fields. */
  def dropColumn(name: String): Snapshot = dropColumn(Seq(name))
  def dropColumn(path: Seq[String]): Snapshot = {
    // a live equality delete keyed on this column could never apply again —
    // refuse instead of silently un-deleting rows (Iceberg protects its
    // identifier fields the same way)
    if (path.length == 1) {
      val head = log.current
      val cur = schemaOf(head, head.currentSchemaId)
      cur.fields.find(_.name == path.head).map(fieldId).foreach { fid =>
        val referenced = head.eqDeleteFiles.exists(d =>
          d.colIds.contains(fid) || (d.colIds.isEmpty && d.cols.contains(path.head)))
        if (referenced) throw new IllegalStateException(
          s"column ${path.head} is an equality-delete key of a live delete file; " +
          "run rewrite_data_files to materialize the deletes before dropping it")
      }
    }
    evolveSchema("drop-column") { cur =>
      mapStructAt(cur, path.init) { parent =>
        require(parent.fieldNames.contains(path.last), s"no column ${path.mkString(".")}")
        require(parent.fields.length > 1, "cannot drop the last field")
        StructType(parent.fields.filterNot(_.name == path.last))
      }
    }
  }

  /** Field at a (possibly nested) struct path in the current schema. */
  def fieldAt(path: Seq[String]): Option[StructField] = {
    def walk(s: StructType, p: Seq[String]): Option[StructField] = p match {
      case Seq(last) => s.fields.find(_.name == last)
      case head +: rest => s.fields.find(_.name == head).flatMap(_.dataType match {
        case st: StructType => walk(st, rest)
        case _ => None
      })
      case _ => None
    }
    walk(schema, path)
  }

  /** Apply `f` to the struct at a field path (empty path = the root). */
  private def mapStructAt(root: StructType, path: Seq[String])(f: StructType => StructType): StructType =
    path match {
      case Seq() => f(root)
      case head +: rest =>
        require(root.fieldNames.contains(head), s"no column $head")
        StructType(root.fields.map { fld =>
          if (fld.name != head) fld
          else fld.dataType match {
            case st: StructType => fld.copy(dataType = mapStructAt(st, rest)(f))
            case other => throw new IllegalArgumentException(
              s"$head is ${other.simpleString}, not a struct — cannot evolve nested field")
          }
        })
    }

  /** Highest graft.id anywhere in the schema tree. */
  private def maxId(s: StructType): Int =
    s.fields.map { f =>
      val own = if (f.metadata.contains("graft.id")) f.metadata.getLong("graft.id").toInt else -1
      val nested = f.dataType match { case st: StructType => maxId(st); case _ => -1 }
      own max nested
    }.foldLeft(-1)(_ max _)

  /** Recursively stamp fresh graft.ids onto a (possibly struct) type. */
  private def withIds(dt: DataType, next: () => Int): DataType = dt match {
    case st: StructType => StructType(st.fields.map { f =>
      val id = next()
      f.copy(dataType = withIds(f.dataType, next),
        metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong("graft.id", id.toLong).build())
    })
    case other => other
  }

  private def evolveSchema(op: String)(f: StructType => StructType): Snapshot = {
    val head = log.current
    val next = f(schemaOf(head, head.currentSchemaId))
    val nextId = head.schemas.keys.map(_.toInt).max + 1
    log.commit(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(), operation = op,
      currentSchemaId = nextId,
      schemas = head.schemas + (nextId.toString -> next.json)))
  }

  /** Set write-distribution / ordering properties (`WRITE DISTRIBUTED BY /
    * ORDERED BY` — SURVEY.md §2.8): `write.partition-by`, `write.sort-by`
    * (comma-separated column lists applied on every write). */
  def setProperties(props: Map[String, String]): Snapshot =
    commitProperties("set-properties", props)

  /** `ALTER TABLE … UNSET TBLPROPERTIES`. */
  def removeProperties(keys: Seq[String]): Snapshot = {
    val head = log.current
    log.commit(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(),
      operation = "set-properties", properties = head.properties -- keys))
  }

  /** `ALTER TABLE … ALTER COLUMN SET/DROP NOT NULL` — metadata-only; making
    * a column non-nullable requires proof no live file holds a null in it
    * (from the null-count stats), matching Iceberg's refusal to narrow
    * nullability blindly. */
  def updateColumnNullability(name: String, nullable: Boolean): Snapshot =
    evolveSchema("update-nullability") { cur =>
      require(cur.fieldNames.contains(name), s"no column $name")
      if (!nullable) {
        val unproven = log.current.files.exists(f =>
          f.stats.get(name).forall(_.nullCount != 0L))
        require(!unproven,
          s"cannot set $name NOT NULL: existing files may contain nulls")
      }
      StructType(cur.fields.map(f =>
        if (f.name == name) f.copy(nullable = nullable) else f))
    }

  private def commitProperties(op: String, props: Map[String, String]): Snapshot = {
    val head = log.current
    log.commit(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(),
      operation = op, properties = head.properties ++ props))
  }

  // -------------------------------------- partition-spec / write-order DDL

  private def partitionFields: Seq[String] =
    PartitionTransform.parseList(log.current.properties.get("write.partition-by"),
      stripIds(schema)).map(_.canonical)

  /** `ALTER TABLE … ADD PARTITION FIELD` (SURVEY.md §2.8 partition-spec
    * evolution): accepts an identity column or a hidden-partitioning
    * transform spec — `bucket(n, col)`, `truncate(w, col)`,
    * `years/months/days/hours(col)` ([[PartitionTransform]]). Existing files
    * keep their layout — only future writes hash-distribute on the new spec,
    * exactly like Iceberg spec evolution never rewrites data. */
  def addPartitionField(spec: String): Snapshot = {
    val t = PartitionTransform.parse(spec, stripIds(schema)) // validates
    require(!partitionFields.contains(t.canonical), s"${t.canonical} already a partition field")
    commitProperties("replace-partition-spec",
      Map("write.partition-by" -> (partitionFields :+ t.canonical).mkString(",")))
  }

  /** `ALTER TABLE … DROP PARTITION FIELD`. */
  def dropPartitionField(spec: String): Snapshot = {
    val t = PartitionTransform.parse(spec, stripIds(schema))
    require(partitionFields.contains(t.canonical), s"${t.canonical} is not a partition field")
    commitProperties("replace-partition-spec",
      Map("write.partition-by" -> partitionFields.filterNot(_ == t.canonical).mkString(",")))
  }

  /** `ALTER TABLE … WRITE ORDERED BY cols` — future writes sort within
    * partitions so column bounds tighten and scan pruning bites. */
  def writeOrderedBy(columns: String*): Snapshot = {
    columns.foreach(c => require(schema.fieldNames.contains(c), s"no column $c"))
    commitProperties("set-write-order", Map("write.sort-by" -> columns.mkString(",")))
  }

  // ------------------------------------------------------- metadata tables

  /** `t.history` — version lineage (SURVEY.md §2.1 metadata tables). */
  def history: DataFrame = {
    import spark.implicits._
    log.listVersions.map { v =>
      val s = log.snapshot(v)
      (s.version, s.parent, new java.sql.Timestamp(s.timestampMs), s.operation,
        s.version == log.currentVersion)
    }.toDF("version", "parent", "made_current_at", "operation", "is_current")
  }

  /** `t.snapshots` — per-snapshot file/row/byte totals. */
  def snapshotsMeta: DataFrame = {
    import spark.implicits._
    log.listVersions.map { v =>
      val s = log.snapshot(v)
      // added-* mirror Iceberg's snapshot-summary counts: files whose path
      // is new relative to the parent (O(files) per snapshot, metadata-grain)
      val parentPaths =
        if (s.parent < 0) Set.empty[String]
        else log.snapshot(s.parent).files.map(_.path).toSet
      val added = s.files.filterNot(f => parentPaths.contains(f.path))
      (s.version, new java.sql.Timestamp(s.timestampMs), s.operation,
        s.files.size, s.files.map(_.rows).sum, s.files.map(_.bytes).sum,
        added.size, added.map(_.rows).sum, s.summary)
    }.toDF("version", "committed_at", "operation", "n_files", "total_rows",
      "total_bytes", "added_files", "added_rows", "summary")
  }

  /** `t.files` — current snapshot's data AND delete files with per-column
    * bounds (`content` mirrors Iceberg's $files: data / position-deletes /
    * equality-deletes; `data_seq` is the sequence number equality deletes
    * scope by). */
  def filesMeta: DataFrame = {
    import spark.implicits._
    val s = log.current
    def boundsOf(f: DataFile) = f.stats.map { case (c, st) => c -> s"[${st.min},${st.max}]" }
    val rows =
      s.files.map(f => ("data", f.path, f.rows, f.bytes, f.schemaId, f.seq, boundsOf(f))) ++
      s.deleteFiles.map(f =>
        ("position-deletes", f.path, f.rows, f.bytes, f.schemaId, f.seq, boundsOf(f))) ++
      s.eqDeleteFiles.map(e =>
        ("equality-deletes", e.file.path, e.file.rows, e.file.bytes, e.file.schemaId,
          e.seq, boundsOf(e.file)))
    rows.toDF("content", "file_path", "rows", "bytes", "schema_id", "data_seq", "bounds")
  }

  /** `t.delete_files` — the delete half of `$files` alone, with the
    * equality key columns named (Iceberg's $delete_files). */
  def deleteFilesMeta: DataFrame = {
    import spark.implicits._
    val s = log.current
    val rows =
      s.deleteFiles.map(f =>
        ("position-deletes", f.path, f.rows, f.bytes, f.seq, Seq.empty[String])) ++
      s.eqDeleteFiles.map(e =>
        ("equality-deletes", e.file.path, e.file.rows, e.file.bytes, e.seq, e.cols))
    rows.toDF("content", "file_path", "rows", "bytes", "data_seq", "equality_columns")
  }

  /** `t.position_deletes` — the actual positional delete ROWS of the
    * current snapshot (Iceberg's $position_deletes): which position of
    * which data file is dead, and the delete file that says so. The ONE
    * metadata table that reads data (the delete parquet — small by
    * construction; rewrite_position_delete_files compacts it). */
  def positionDeletesMeta: DataFrame = {
    import spark.implicits._
    val s = log.current
    if (s.deleteFiles.isEmpty)
      return Seq.empty[(String, Long, String)].toDF("file_path", "pos", "delete_file_path")
    s.deleteFiles.map { f =>
      val abs = if (f.path.startsWith("/") || f.path.contains("://")) f.path
                else s"$path/${f.path}"
      spark.read.parquet(abs)
        .select(col("file_path"), col("pos"), lit(f.path).as("delete_file_path"))
    }.reduce(_ unionAll _)
  }

  /** `t.all_files` — every data/delete file referenced by ANY live
    * snapshot (Iceberg's $all_files), deduped by path, tagged with the
    * first snapshot that referenced it. Pure metadata. */
  def allFilesMeta: DataFrame = {
    import spark.implicits._
    val seen = scala.collection.mutable.Map.empty[String, (String, String, Long, Long, Long, Long)]
    log.listVersions.foreach { v =>
      val s = log.snapshot(v)
      def put(content: String, f: DataFile, seq: Long): Unit =
        if (!seen.contains(f.path)) seen(f.path) = (content, f.path, f.rows, f.bytes, seq, v)
      s.files.foreach(f => put("data", f, f.seq))
      s.deleteFiles.foreach(f => put("position-deletes", f, f.seq))
      s.eqDeleteFiles.foreach(e => put("equality-deletes", e.file, e.seq))
    }
    seen.values.toSeq
      .toDF("content", "file_path", "rows", "bytes", "data_seq", "first_snapshot")
  }

  /** `t.refs` — named tags/branches. */
  def refsMeta: DataFrame = {
    import spark.implicits._
    log.refs.toSeq.map { case (n, r) => (n, r.refType, r.version) }
      .toDF("name", "type", "version")
  }

  /** `t.partitions` — per-partition file/row totals derived from file stats
    * when a write distribution is declared (`write.partition-by`): a file
    * whose min==max bound for the partition column belongs wholly to that
    * partition (the normal case under hash distribution), otherwise it
    * reports as "mixed". Pure metadata — no data scan. */
  def partitionsMeta: DataFrame = {
    import spark.implicits._
    // stats are keyed by the canonical spec: a plain column name for
    // identity, the transform string (e.g. "days(ts)") otherwise
    val partCol = PartitionTransform.parseList(
      log.current.properties.get("write.partition-by"), stripIds(schema))
      .headOption.map(_.canonical)
    val rows = log.current.files.map { f =>
      val value = partCol.flatMap(c => f.stats.get(c))
        .map(st =>
          // all-null marker: the file's partition value is genuinely NULL,
          // not the empty string (review r17)
          if (st.min.isEmpty && st.max.isEmpty && st.nullCount == f.rows) "null"
          else if (st.min == st.max) st.min else "mixed")
        .getOrElse("(unpartitioned)")
      (value, f.rows, f.bytes)
    }
    rows.toDF("partition", "rows", "bytes")
      .groupBy("partition")
      .agg(count(lit(1)).as("n_files"), sum("rows").as("total_rows"),
        sum("bytes").as("total_bytes"))
  }

  /** `t.manifests` — one row per live snapshot-metadata JSON (the format's
    * manifest analogue): its path, size, and the file totals it tracks. */
  def manifestsMeta: DataFrame = {
    import spark.implicits._
    log.listVersions.map { v =>
      val s = log.snapshot(v)
      (s"_graft/v$v.json", log.io.size(s"${log.metaDir}/v$v.json"), s.version, s.operation,
        s.files.size, s.files.map(_.rows).sum, s.schemas.size)
    }.toDF("path", "length", "version", "operation", "n_files", "total_rows", "n_schemas")
  }

  /** `t.entries` — per-(snapshot, file) manifest-entry view: which files
    * each snapshot added, carried over, or deleted relative to its parent
    * (Iceberg `$entries` statuses). Pure metadata — no data scan. */
  def entriesMeta: DataFrame = {
    import spark.implicits._
    val live = log.listVersions.toSet
    val rows = log.listVersions.flatMap { v =>
      val s = log.snapshot(v)
      // three parent states: none (root), live (diff normally), expired —
      // an expired parent means add/delete attribution is UNKNOWABLE, so
      // report "unknown" rather than misstating carried-over files as added
      val parentExpired = s.parent >= 0 && !live.contains(s.parent)
      val parentFiles =
        if (s.parent >= 0 && live.contains(s.parent))
          log.snapshot(s.parent).files.map(f => f.path -> f).toMap
        else Map.empty[String, DataFile]
      val cur = s.files.map(_.path).toSet
      s.files.map { f =>
        val status =
          if (parentExpired) "unknown"
          else if (parentFiles.contains(f.path)) "existing"
          else "added"
        (v, status, f.path, f.rows, f.bytes, f.schemaId)
      } ++ parentFiles.collect { case (p, f) if !cur.contains(p) =>
        (v, "deleted", f.path, f.rows, f.bytes, f.schemaId)
      }
    }
    rows.toDF("snapshot_version", "status", "file_path", "rows", "bytes", "schema_id")
  }

  /** Export the table as a spec-compliant Apache Iceberg v2 metadata tree
    * (`metadata.json` + Avro manifest lists/manifests under
    * `outDir/metadata`, data files referenced in place) so a real Iceberg
    * reader — the Trino connector the reference wires at
    * reference `main.tf:809-820`, pyiceberg, DuckDB's iceberg extension —
    * can load it. See [[IcebergExport]] for the mapping. Returns the
    * metadata.json path. */
  def exportIcebergMetadata(outDir: String): String = IcebergExport.export(this, outDir)
  /** v3 form: positional deletes render as Puffin deletion vectors. */
  def exportIcebergMetadata(outDir: String, formatVersion: Int): String =
    IcebergExport.export(this, outDir, formatVersion)

  /** `CALL rewrite_manifests` analogue: re-commit the head with metadata
    * compacted — schema entries no live file references are dropped, so the
    * per-snapshot JSON stops growing with schema-evolution history. Data
    * files untouched. */
  def rewriteManifests(): Snapshot = {
    val head = log.current
    val liveIds = head.files.map(_.schemaId).toSet + head.currentSchemaId
    log.commit(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(),
      operation = "rewrite-manifests",
      schemas = head.schemas.view.filterKeys(k => liveIds.contains(k.toInt)).toMap))
  }

  // -------------------------------------------------------------- internals

  private def now(): Long = System.currentTimeMillis()

  /** Align an incoming DataFrame to the table schema (names positional-free:
    * match by name, cast types). A missing column with a declared DEFAULT
    * fills with it (write-side default); otherwise missing is an error. */
  private def conform(df: DataFrame, head: Snapshot): DataFrame = {
    val cur = schemaOf(head, head.currentSchemaId) // unstripped: defaults live in metadata
    val cols = cur.fields.map { f =>
      if (df.columns.contains(f.name))
        qcol(f.name).cast(stripNested(f.dataType)).as(f.name)
      else if (f.metadata.contains("graft.default"))
        expr(f.metadata.getString("graft.default")).cast(stripNested(f.dataType)).as(f.name)
      else throw new IllegalArgumentException(s"append missing column ${f.name}")
    }
    enforceChecks(df.select(cols.toIndexedSeq: _*), head)
  }

  /** Write-time CHECK-constraint enforcement: every table property
    * `graft.check.<name> = '<sql predicate>'` must not evaluate to FALSE
    * on any incoming row (SQL-standard CHECK: NULL passes). Runs after
    * [[conform]] so defaults are already applied, and guards EVERY new-row
    * ingest path — append (+retry/branch/WAP stage), overwrite, and
    * overwrite-by-filter — the governance twin of the q130 read-side audit
    * ("audit then publish" becomes "never commit bad rows at all").
    *
    * Cost model: tables with no checks pay nothing; with checks, one extra
    * codegen'd filter pass over the incoming BATCH (never the table),
    * short-circuiting at the first violation via take(1). The error names
    * every violated constraint and carries one offending row. */
  private[table] def enforceChecks(df: DataFrame, head: Snapshot): DataFrame = {
    val checks = head.properties.toSeq.collect {
      case (k, v) if k.startsWith("graft.check.") => k.stripPrefix("graft.check.") -> v
    }.sortBy(_._1)
    if (checks.isEmpty) df
    else {
      val viol = checks.map { case (n, p) => n -> not(coalesce(expr(p), lit(true))) }
      val bad = df
        .filter(viol.map(_._2).reduce(_ || _))
        .select(
          array(viol.map { case (n, c) => when(c, lit(n)) }.toIndexedSeq: _*).as("_violated"),
          to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("_row"))
        .take(1)
      bad.headOption.foreach { r =>
        val names = r.getSeq[String](0).filter(_ != null)
        val defs = checks.filter(c => names.contains(c._1))
          .map { case (n, p) => s"$n ($p)" }.mkString(", ")
        throw new IllegalArgumentException(
          s"CHECK constraint violated: $defs on row ${r.getString(1)}")
      }
      df
    }
  }

  /** Distinct file paths of a (filtered, withMeta) DataFrame — the only
    * data-dependent collect in the DML path, and it is file-grained. */
  private def touchedPaths(df: DataFrame): Seq[String] =
    df.select("_graft_path").distinct().collect().map(_.getString(0)).toSeq

  /** Live rows (deletes applied) of only the given `_graft_path` files, with
    * `_graft_path`/`_graft_pos` row identity — the second pass of the
    * single-pass MERGE rescans exactly the touched files instead of
    * re-evaluating the source join. */
  private[table] def readTouchedWithMeta(s: Snapshot, touched: Seq[String]): DataFrame = {
    val touchedSet = touched.map(canon).toSet
    readFilesOf(s, s.files.filter(f => touchedSet.contains(canon(resolve(f.path)))),
      withMeta = true)
  }

  /** Commit a copy-on-write rewrite: `touched` absolute paths are replaced
    * by the freshly-written `rewritten` rows; all other files carry over. */
  private[table] def replaceFiles(head: Snapshot, touched: Seq[String],
      rewritten: DataFrame, op: String, extraRows: Option[DataFrame] = None,
      props: Map[String, String] = Map.empty): Snapshot = {
    val out = extraRows.map(rewritten.unionByName(_)).getOrElse(rewritten)
    val newFiles = writeFiles(out, head.currentSchemaId, head.properties)
    val touchedSet = touched.map(canon).toSet
    val kept = head.files.filterNot(f => touchedSet.contains(canon(resolve(f.path))))
    log.commit(head.version, v => head.copy(
      version = v, parent = head.version, timestampMs = now(),
      operation = op, files = kept ++ newFiles,
      properties = head.properties ++ props))
  }

  /** The schema `df`'s files are written with: `parquet.field.id` (=
    * graft.id + 1, the same mapping [[IcebergExport]] publishes) stamped at
    * every nesting level, so Spark's parquet writer embeds REAL field ids in
    * the file footers — an Iceberg reader then resolves columns by id
    * directly; the exported name mapping stays only for files written
    * before this. Best-effort: a frame whose names don't line up with the
    * id-bearing table schema (imports, legacy paths) writes without ids,
    * exactly as before. */
  private def fieldIdSchema(df: DataFrame, schemaId: Int,
      explicitIdSchema: Option[StructType]): StructType = {
    def addIds(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val nested = f.copy(dataType = addIds(f.dataType))
        if (f.metadata.contains("graft.id"))
          nested.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong("parquet.field.id", f.metadata.getLong("graft.id") + 1).build())
        else nested
      })
      case a: ArrayType => a.copy(elementType = addIds(a.elementType))
      case m: MapType   => m.copy(keyType = addIds(m.keyType), valueType = addIds(m.valueType))
      case other        => other
    }
    val idSchema: Option[StructType] =
      if (df.schema.fields.exists(_.metadata.contains("graft.id"))) Some(df.schema)
      else explicitIdSchema.orElse( // create: first commit not published yet
        scala.util.Try(schemaOf(log.current, schemaId)).toOption)
        .filter(_.fieldNames.sameElements(df.schema.fieldNames))
    // frame's structure/types/nullability (what the rows physically are),
    // tagged schema's metadata (where names line up)
    def mergeMeta(frame: DataType, tagged: DataType): DataType = (frame, tagged) match {
      case (fs: StructType, ts: StructType) => StructType(fs.fields.map { f =>
        ts.fields.find(_.name == f.name) match {
          case Some(t) => f.copy(dataType = mergeMeta(f.dataType, t.dataType),
            metadata = t.metadata)
          case None    => f
        }
      })
      case (fa: ArrayType, ta: ArrayType) =>
        fa.copy(elementType = mergeMeta(fa.elementType, ta.elementType))
      case (fm: MapType, tm: MapType) => fm.copy(
        keyType = mergeMeta(fm.keyType, tm.keyType),
        valueType = mergeMeta(fm.valueType, tm.valueType))
      case _ => frame
    }
    idSchema.map(s => mergeMeta(df.schema, addIds(s)).asInstanceOf[StructType])
      .getOrElse(df.schema)
  }

  /** Write rows as immutable data files, laid out by the write properties
    * ([[arrange]]). The task writing each file records its stats
    * ([[FileStatsTracker]]), so no pass re-reads the new files: row count,
    * min/max and null count per comparable column (the bounds Iceberg
    * keeps in manifests for scan pruning), bounded value sets, and — for
    * partition transforms — the transform VALUE's bounds and sets, keyed
    * by the canonical transform spec, so [[pruneFiles]] can skip files
    * from filters on the source column. Zero-row files are not committed. */
  private[table] def writeFiles(df: DataFrame, schemaId: Int,
      props: Map[String, String],
      idSchema: Option[StructType] = None): Seq[DataFile] = {
    // `write.bloom-filter-columns`: per-column parquet Bloom filters — the
    // point-lookup complement to min/max bounds. A random-id equality rarely
    // prunes on ranges (every file spans the id space); the Bloom filter
    // skips row groups that provably lack the value, applied inside Spark's
    // vectorized reader from the pushed predicate, no engine code needed.
    val bloomOpts = props.get("write.bloom-filter-columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
    val schema = stripIds(df.schema)
    val layout = StatLayout(schema, PartitionTransform.parseListFrom(props, schema)
      .filterNot(_.isInstanceOf[PartitionTransform.Identity]))
    val bucketed = GraftTable.bucketByOf(props).isDefined
    // bucketed writes keep the task's partition index as Spark's `_NNNNN`
    // bucket suffix (partition i = bucket i under the repartition(n, col)
    // layout) so the read side can group by bucket
    def dataName(staged: String): String =
      if (bucketed) {
        val m = GraftTable.StagedPart.matcher(staged)
        require(m.find(), s"unexpected staged part name: $staged")
        f"${UUID.randomUUID()}_${m.group(1).toInt}%05d.parquet"
      } else s"${UUID.randomUUID()}.parquet"
    val arranged = arrange(df, props)
    withTargetFileSize(props) {
      writeStaged(arranged, fieldIdSchema(arranged, schemaId, idSchema), bloomOpts,
        layout, dataName)
    }.map { case (name, raw) => dataFile(name, raw, schemaId, layout) }
  }

  /** Write `df` into a fresh staging dir (with `schema`'s field ids) and
    * move every file that holds rows into the data dir under
    * `dataName(stagedName)`; zero-row files (Spark writes one for an empty
    * frame) are dropped with the staging dir, which never outlives the
    * call. Returns each kept file's data-dir name and raw stats. */
  private def writeStaged(df: DataFrame, schema: StructType, options: Map[String, String],
      layout: StatLayout, dataName: String => String): Seq[(String, RawFile)] = {
    val staging = s"${log.root}/_staging-${UUID.randomUUID()}"
    val tracker = FileStatsTracker(df, layout, spark.conf.get("spark.sql.session.timeZone"))
    try {
      org.apache.spark.sql.graftglue.Bridge.writeParquet(df, staging, schema, options, tracker)
      val stats = tracker.files
      log.io.listNames(staging).filter(_.endsWith(".parquet")).sorted.flatMap { p =>
        val raw = stats.getOrElse(p,
          throw new IllegalStateException(s"no write statistics for staged file $p"))
        if (raw.rows == 0L) None
        else {
          val name = dataName(p)
          log.io.rename(s"$staging/$p", s"${log.dataDir}/$name")
          Some(name -> raw)
        }
      }
    } finally log.io.deleteRecursive(staging)
  }

  /** The snapshot entry of data-dir file `name` from its raw stats. */
  private def dataFile(name: String, raw: RawFile, schemaId: Int,
      layout: StatLayout): DataFile =
    DataFile(s"data/$name", raw.rows, log.io.size(s"${log.dataDir}/$name"), schemaId,
      layout.render(raw))

  /** Stat parquet files graft did NOT write — imports and `refresh_stats`
    * re-stats — in one distributed read: the same [[StatLayout]] figures
    * the write tasks record, aggregated per file. `storeAs` maps an
    * absolute path to the path recorded in the snapshot (relative for
    * owned files, absolute for imported ones). Zero-row files yield no
    * group and are therefore excluded. */
  private[table] def statFiles(absPaths: Seq[String], schema: StructType,
      schemaId: Int, storeAs: String => String,
      transforms: Seq[PartitionTransform] = Seq.empty): Seq[DataFile] = {
    val layout = StatLayout(schema, transforms)
    // TimestampType bounds aggregate as unix_micros — `cast(ts as string)`
    // is a SESSION-ZONE rendering, and per-file bounds must be zone-free
    // so the REST plan endpoint (and any later session) can compare them
    // (VERDICT r16 #1); the layout renders the micros canonically.
    // min/max over micros == min/max over the timestamps (monotone).
    def statVal(f: StructField): Column = f.dataType match {
      case TimestampType => unix_micros(qcol(f.name))
      case _ => qcol(f.name) // NTZ cast-to-string is already zone-free
    }
    import graft.functions.BoundedSetAgg
    val aggs = Seq(count(lit(1)).as("_rows")) ++
      layout.bounded.zipWithIndex.flatMap { case (f, i) => Seq(
        min(statVal(f)).cast("string").as(s"_min_$i"),
        max(statVal(f)).cast("string").as(s"_max_$i"),
        sum(when(qcol(f.name).isNull, 1L).otherwise(0L)).as(s"_nulls_$i")) ++
        (if (StatLayout.valueSet(f.dataType))
          Seq(BoundedSetAgg(qcol(f.name).cast("string"),
            GraftTable.MaxPlainValues, GraftTable.MaxPlainLen).as(s"_set_$i"))
         else Seq.empty) } ++
      transforms.zipWithIndex.flatMap { case (t, i) =>
        val ex = t.column(qcol(t.source))
        Seq(min(ex).cast("string").as(s"_tmin_$i"),
          max(ex).cast("string").as(s"_tmax_$i")) ++
        (if (StatLayout.transformSet(t))
          Seq(BoundedSetAgg(ex.cast("string"), GraftTable.MaxStatValues,
            StatLayout.TransformSetLen).as(s"_tset_$i"))
         else Seq.empty) }
    spark.read.schema(schema).parquet(absPaths: _*)
      .groupBy(col("_metadata.file_path").as("_fp"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        // _metadata.file_path is a URI RENDERING — percent-encoded ("a b"
        // → "a%20b") — while absPaths and FileIO speak raw strings; decode
        // before the io.size call or any imported file with a space/UTF-8
        // name dies here. URI.getPath decodes without '+'-as-space damage.
        val decoded = scala.util.Try {
          val u = new java.net.URI(r.getString(0))
          if (u.getScheme == null) r.getString(0)
          else if (u.getAuthority == null || u.getAuthority.isEmpty) u.getPath
          else s"${u.getScheme}://${u.getAuthority}${u.getPath}"
        }.getOrElse(r.getString(0))
        val local = canon(decoded)
        // BoundedSetAgg answers null on overflow: no set
        def setOf(kept: Boolean, name: String): Option[Seq[String]] =
          if (!kept) None else Option(r.getAs[scala.collection.Seq[String]](name)).map(_.toSeq)
        val raw = RawFile(r.getAs[Long]("_rows"),
          layout.bounded.zipWithIndex.map { case (f, i) => RawStat(r.getAs[String](s"_min_$i"),
            r.getAs[String](s"_max_$i"), r.getAs[Long](s"_nulls_$i"),
            setOf(StatLayout.valueSet(f.dataType), s"_set_$i")) },
          transforms.zipWithIndex.map { case (t, i) => RawStat(r.getAs[String](s"_tmin_$i"),
            r.getAs[String](s"_tmax_$i"), -1L,
            setOf(StatLayout.transformSet(t), s"_tset_$i")) })
        DataFile(storeAs(local), raw.rows, log.io.size(local), schemaId, layout.render(raw))
      }.toSeq
  }

  /** Apply write-distribution properties: hash-distribute on the
    * `write.partition-by` TRANSFORM VALUES (identity column, bucket,
    * truncate, time truncation — [[PartitionTransform]]), sort within
    * partitions on `write.sort-by`.
    *
    * `write.target-file-size-bytes` switches the distribution to an AQE
    * REBALANCE (by the same transform values when partitioned): the runtime
    * coalesces undersized shuffle partitions and SPLITS oversized/skewed
    * ones to the advisory size, so output files land near the target
    * instead of one-per-input-partition — at high parallelism a plain
    * append otherwise sprays one tiny file per task (the small-file
    * problem), and a hot partition value otherwise becomes one giant file.
    * The advisory size is scoped to this write and restored after. */
  private def arrange(df: DataFrame, props: Map[String, String]): DataFrame = {
    val transforms = PartitionTransform.parseListFrom(props, stripIds(df.schema))
    val tcols = transforms.map(t => t.column(qcol(t.source)))
    val sized = props.get("write.target-file-size-bytes").isDefined
    val parted =
      // co-located bucketing first: repartition(n, col) IS Spark's bucket
      // hash (murmur3 pmod n) — partition index i becomes bucket file i.
      // Explicit numPartitions, so AQE never coalesces the layout away.
      if (GraftTable.bucketByOf(props).isDefined) {
        val (n, cs) = GraftTable.bucketByOf(props).get
        df.repartition(n, cs.map(c => qmaybe(df, c)): _*)
      }
      else if (sized && tcols.isEmpty) df.hint("rebalance")
      else if (sized) {
        // REBALANCE accepts attributes only: materialize the transform
        // values, rebalance on them, then project them back out
        val names = tcols.indices.map(i => s"__graft_rebal_$i")
        val withVals = tcols.zip(names).foldLeft(df) { case (d, (c, n)) => d.withColumn(n, c) }
        withVals.hint("rebalance", names.map(col): _*).drop(names: _*)
      }
      else if (transforms.isEmpty) df
      else df.repartition(tcols: _*)
    props.get("write.sort-by").filter(_.nonEmpty) match {
      case Some(cols) => parted.sortWithinPartitions(SortField.parseList(cols).map { sf =>
        val c = qmaybe(df, sf.name)
        (sf.desc, sf.nullsLast) match {
          case (false, false) => c.asc_nulls_first
          case (false, true)  => c.asc_nulls_last
          case (true, false)  => c.desc_nulls_first
          case (true, true)   => c.desc_nulls_last
        }
      }: _*)
      case None => parted
    }
  }

  /** Run `body` with the AQE advisory partition size set to the table's
    * target file size (shuffle bytes ≈ parquet bytes — both compressed), so
    * the REBALANCE in [[arrange]] aims partitions at the file target. */
  private def withTargetFileSize[A](props: Map[String, String])(body: => A): A =
    props.get("write.target-file-size-bytes") match {
      case None => body
      case Some(t) =>
        val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        val old = spark.conf.getOption(key)
        spark.conf.set(key, t)
        try body
        finally old match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
    }

  private def qcol(n: String): Column = GraftTable.qcol(n)

  /** Quote a USER-SUPPLIED name (write.sort-by / bucket-by values) only
    * when it names a top-level column verbatim; nested paths or
    * pre-backticked spellings pass through for the parser. */
  private def qmaybe(df: DataFrame, c: String): Column =
    if (df.columns.contains(c)) GraftTable.qcol(c) else col(c)

  /** Prune a snapshot's file list with data-source filters (the pushdown
    * entry used by the DSv2 scan): a file is dropped only when a filter
    * PROVES no row can match its [min,max] bounds; unknown filter shapes and
    * stat-less files are kept. The same metadata-only pruning Iceberg's
    * ScanBuilder does from manifest column bounds (reference `main.tf:803`;
    * SURVEY.md §4 row 1). The body is [[GraftTable.pruneFilesByStats]]; a
    * table instance adds its session's Spark eval for the bucket literals
    * (float/decimal/NTZ renderings) no pure evaluator covers. */
  private[graft] def pruneFiles(s: Snapshot,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[DataFile] =
    GraftTable.pruneFilesByStats(s, filters, transformLiteral)

  /** Evaluate a transform over a filter literal, string-canonicalized the
    * same way the per-file stats were (cast to string under the session
    * zone) — a driver-local LocalRelation job, cached per pruneFiles call.
    * None (no pruning) when the literal can't be lifted. */
  private def transformLiteral(t: PartitionTransform, v: Any): Option[String] =
    try Option(spark.range(1).select(t.column(lit(v)).cast("string")).head.getString(0))
    catch { case scala.util.control.NonFatal(_) => None }

  /** File-pruned read of a snapshot: the production read path for catalog
    * and path-source SELECTs, which the [[graft.plans.GraftNativeScan]]
    * swap splices in for a graft scan. The file list is SERVER-planned
    * when the table sits behind a REST catalog, locally pruned otherwise. */
  private[graft] def readPruned(s: Snapshot,
      filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame =
    readFilesOf(s, serverPlanned(s, filters).getOrElse(pruneFiles(s, filters)),
      withMeta = false)

  /** Dogfood of the REST catalog's scan-planning endpoint (VERDICT r15 #1
    * — the surface foreign engines use must also be the surface the engine
    * itself exercises, or it rots). A REST-catalog-backed table asks the
    * CATALOG for its file list (`POST …/tables/{t}/plan`, filters
    * serialized as Iceberg expression JSON) instead of pruning the
    * snapshot log itself — the reference's IRC-centric split
    * (`main.tf:795-801`): the catalog holds the bounds, the catalog plans.
    * At 100 TB that converts per-engine manifest listing into one
    * metadata-sized (paged) response. Falls back to local pruning on ANY
    * failure (4xx/5xx/transport, or a response naming a path the snapshot
    * doesn't hold or naming one twice): planning is an optimization, never
    * a correctness dependency. The server prunes through the SAME
    * [[GraftTable.pruneFilesByStats]] body the engine uses locally, so its
    * soundness rides that shared evaluator's exactness; the parquet scan's
    * own row-group pruning still applies either way. */
  private def serverPlanned(s: Snapshot,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Option[Seq[DataFile]] =
    log match {
      case r: graft.rest.RestSnapshotLog =>
        try {
          val planned = r.planDataFiles(
            graft.rest.IcebergFilterJson.of(filters), Some(s.version))
            .map(GraftTable.canonStr)
          val byCanon = s.files.map(f =>
            GraftTable.canonStr(resolve(f.path)) -> f).toMap
          val hits = planned.map(byCanon.get)
          if (hits.exists(_.isEmpty) || planned.distinct.size != planned.size) {
            // a path the snapshot doesn't know, or one listed twice (its
            // rows would be read twice): never guess — plan locally
            GraftTable.logger.warn(
              s"plan endpoint returned unknown or repeated file(s) for $path; using local pruning")
            None
          } else {
            GraftTable.serverPlanCount.incrementAndGet()
            Some(hits.flatten)
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            GraftTable.logger.warn(
              s"server-side scan planning failed for $path; using local pruning", e)
            None
        }
      case _ => None
    }
}

object GraftTable {

  private[table] val logger = org.slf4j.LoggerFactory.getLogger(classOf[GraftTable])

  /** Successful server-side scan plans (test observability: proves a read
    * genuinely planned through the REST endpoint rather than silently
    * falling back to local pruning). */
  private[graft] val serverPlanCount = new java.util.concurrent.atomic.AtomicLong()

  // ---- session-free stats pruning ------------------------------------
  // The pruning body behind [[GraftTable.pruneFiles]], session-free so the
  // REST server's spec scan-planning endpoint (which runs WITHOUT a
  // SparkSession) prunes from the same per-file bounds with the same
  // conservatism.

  /** EXACT numeric compare over stat/literal strings. BigDecimal first:
    * 64-bit integral values above 2^53 (snowflake-style ids ~1e18) are
    * distinct here where a double round-trip collapses them — a collapsed
    * compare could PROVE exclusion of a file whose bound genuinely clears
    * the literal and silently drop matching rows (worse through the REST
    * /plan endpoint, where the foreign engine never sees the file to
    * re-filter). NaN/Infinity renderings (floating-column stats) are not
    * BigDecimal-parsable and fall back to Double semantics, where
    * exactness is moot. A genuinely non-numeric operand still throws
    * NumberFormatException — the BAD FILTER signal callers surface as a
    * 400, never as a pruning decision. */
  private[graft] def numCmp(a: String, b: String): Int =
    try new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    catch { case _: NumberFormatException =>
      java.lang.Double.compare(a.toDouble, b.toDouble) }

  // ---- canonical timestamp bounds (VERDICT r16 #1) --------------------
  // Per-file timestamp min/max are stored as UTC ISO-8601 with a 'T'
  // separator and a FIXED 6-digit micro fraction ("2026-01-01T12:00:00.
  // 000000") — zone-free, lexically ordered, and exactly re-parsable, so
  // the REST plan endpoint can prune event-time ranges with the same
  // fidelity as local pruning. The 'T' doubles as the format marker:
  // legacy logs hold session-zone `cast(ts as string)` renderings (space
  // separator) whose zone is unknowable at read time — [[tsStatMicros]]
  // refuses them, so legacy files are simply never timestamp-pruned until
  // a rewrite refreshes their stats (the read-compat shim).

  private[graft] def tsCanon(micros: Long): String = {
    val ldt = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d" +
      f"T${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d" +
      f".${ldt.getNano / 1000}%06d"
  }

  /** Canonical stat string → micros; None = legacy/foreign form, which
    * carries no provable instant (conservative: keep the file). */
  private[graft] def tsStatMicros(s: String): Option[Long] =
    if (s == null || !s.contains('T')) None
    else scala.util.Try {
      val ldt = java.time.LocalDateTime.parse(s)
      Math.addExact(Math.multiplyExact(
        ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L), ldt.getNano / 1000L)
    }.toOption

  /** Filter literal → micros: java.sql.Timestamp / Instant (TimestampType
    * pushdown under either datetime.java8API setting), LocalDateTime
    * (TimestampNTZ — its wall-clock taken AS the UTC instant, matching the
    * stat side's same convention), and ISO strings (the REST plan wire;
    * 'Z'/offset forms and space-separated UTC forms both accepted). */
  private[graft] def tsLitMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => tsLitMicros(t.toInstant)
    case i: java.time.Instant => scala.util.Try(Math.addExact(
      Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)).toOption
    case l: java.time.LocalDateTime => scala.util.Try(Math.addExact(
      Math.multiplyExact(l.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
      l.getNano / 1000L)).toOption
    case s: String =>
      val t = s.trim
      scala.util.Try(java.time.Instant.parse(t)).toOption
        .flatMap(tsLitMicros)
        // Iceberg's timestamptz single-value form carries an explicit
        // offset ("…+00:00") — accept any offset, normalized to UTC
        .orElse(scala.util.Try(java.time.OffsetDateTime.parse(t)).toOption
          .flatMap(o => tsLitMicros(o.toInstant)))
        .orElse(tsStatMicros(t.replace(' ', 'T')))
    case _ => None
  }

  /** Column-name → comparison typing for min/max bounds, resolved ONCE per
    * pruning pass (the schema JSON parse must not run per file × filter —
    * on a many-file snapshot that would make planning JSON-parse-bound). */
  private[graft] final class StatsComparator(schema: StructType) {
    private val numeric: Set[String] =
      schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSet
    private val ts: Set[String] = schema.fields.collect {
      case f if f.dataType == TimestampType || f.dataType == TimestampNTZType => f.name
    }.toSet
    /** Pruning claims are only valid for SCHEMA columns: a filter term that
      * happens to spell a transform-stat key ("days(ts)") must not compare
      * against those stats under column typing — transform-domain pruning
      * goes through [[GraftTable.transformExcluded]] on the SOURCE column. */
    def knows(column: String): Boolean = known(column)
    private val known: Set[String] = schema.fieldNames.toSet
    /** Canonical literal rendering for pruning comparisons against this
      * column's stats; None = the literal carries no comparable claim. */
    def litStr(column: String, v: Any): Option[String] =
      if (v == null) None
      else if (ts(column)) tsLitMicros(v).map(tsCanon)
      else Some(v.toString)
    /** PROVEN three-way comparison; None when a side is not canonically
      * comparable (a legacy zone-rendered timestamp stat — the read-compat
      * shim: no claim, keep the file). Numeric columns still surface
      * NumberFormatException on a type-mismatched literal — the BAD FILTER
      * signal the REST plan route turns into a 400. */
    def cmpOpt(column: String, a: String, b: String): Option[Int] =
      if (ts(column))
        for (x <- tsStatMicros(a); y <- tsStatMicros(b))
          yield java.lang.Long.compare(x, y)
      else Some(if (numeric(column)) numCmp(a, b) else a.compareTo(b))
    /** False only when PROVEN: the exact value set excludes `value`, bounds
      * exclude it, or the file is all-null in the column (no non-null value
      * exists to match). Value sets are only RECORDED for columns whose
      * cast-to-string equals [[litStr]]'s rendering (never timestamps), so
      * membership compares like-for-like; the ts guard is defense in depth
      * against foreign-written stats. */
    def canContain(f: DataFile, column: String, value: String): Boolean =
      !known(column) || f.stats.get(column).forall { st =>
        if (allNull(f, st)) false
        else st.values match {
          case Some(set) if !ts(column) => set.contains(value)
          case _ =>
            cmpOpt(column, st.min, value).forall(_ <= 0) &&
              cmpOpt(column, value, st.max).forall(_ <= 0)
        }
      }
    /** The all-null marker ([[StatLayout.render]] records empty bounds
      * with nullCount == rows): no non-null value in the column. The
      * nullCount check disambiguates a real file of empty strings. */
    def allNull(f: DataFile, st: ColumnStats): Boolean =
      st.min.isEmpty && st.max.isEmpty && st.nullCount >= 0 && st.nullCount == f.rows
  }

  /** True iff `flt` PROVES no row of `f` can match, from min/max/null-count
    * bounds alone; unknown filter shapes, stat-less files, and literals or
    * stats with no canonical comparison (legacy timestamp renderings)
    * return false (kept). */
  private[graft] def statsExcluded(cmp: StatsComparator, f: DataFile,
      flt: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    // a non-schema term (e.g. a transform-stat key used as a column name)
    // never yields a claim — its stats entries follow transform typing,
    // not this comparator's column typing
    def statOf(c: String): Option[ColumnStats] =
      if (cmp.knows(c)) f.stats.get(c) else None
    // an all-null column satisfies NO comparison predicate (SQL three-
    // valued logic: NULL op x is never true), so the file is excludable
    // for every binary shape below, not just IsNotNull
    def allNull(c: String): Boolean =
      statOf(c).exists(cmp.allNull(f, _))
    // range exclusion proven against one bound side; the all-null marker's
    // empty bounds parse to no claim, hence the explicit allNull arm
    def boundExcludes(c: String, v: Any)(prove: (ColumnStats, String) => Option[Boolean]): Boolean =
      allNull(c) || cmp.litStr(c, v).exists(lv =>
        statOf(c).exists(st => !cmp.allNull(f, st) && prove(st, lv).getOrElse(false)))
    flt match {
      case EqualTo(c, v) if v != null =>
        allNull(c) || cmp.litStr(c, v).exists(lv => !cmp.canContain(f, c, lv))
      case In(c, vs) if vs != null && vs.nonEmpty =>
        allNull(c) || vs.filter(_ != null).forall(v =>
          cmp.litStr(c, v).exists(lv => !cmp.canContain(f, c, lv)))
      case GreaterThan(c, v) if v != null =>
        boundExcludes(c, v)((st, lv) => cmp.cmpOpt(c, st.max, lv).map(_ <= 0))
      case GreaterThanOrEqual(c, v) if v != null =>
        boundExcludes(c, v)((st, lv) => cmp.cmpOpt(c, st.max, lv).map(_ < 0))
      case LessThan(c, v) if v != null =>
        boundExcludes(c, v)((st, lv) => cmp.cmpOpt(c, st.min, lv).map(_ >= 0))
      case LessThanOrEqual(c, v) if v != null =>
        boundExcludes(c, v)((st, lv) => cmp.cmpOpt(c, st.min, lv).map(_ > 0))
      // Iceberg-manifest-style null-count pruning: a file with zero nulls
      // in c can't satisfy IS NULL (-1 = legacy entry, unknown — keep)
      case IsNull(c) => statOf(c).exists(_.nullCount == 0L)
      // ... and an all-null file can't satisfy IS NOT NULL (VERDICT r16 #4)
      case IsNotNull(c) => allNull(c)
      case And(l, r) => statsExcluded(cmp, f, l) || statsExcluded(cmp, f, r)
      case Or(l, r) => statsExcluded(cmp, f, l) && statsExcluded(cmp, f, r)
      case _ => false // unknown shape: cannot prove exclusion, keep the file
    }
  }

  /** Cap on [[ColumnStats.values]] for TRANSFORM stat entries (hash-bucket
    * values: short numeric strings) — larger sets fall back to ranges. */
  private[graft] val MaxStatValues = 64

  /** Caps for PLAIN column value sets — tighter than the transform cap
    * because arbitrary column values are wider: at most `MaxPlainValues`
    * values of at most `MaxPlainLen` chars per column per file, so a wide
    * schema can't bloat the snapshot metadata. */
  private[graft] val MaxPlainValues = 16
  private[graft] val MaxPlainLen = 32

  /** The transforms a pruning pass may CLAIM through — shared by local
    * [[pruneFiles]] and the session-free REST planner so both sides prune
    * (and refuse to prune) identically. Drops identity (rides the plain
    * column-stats path) and LEGACY (transform-version 1) bucket(n, ts):
    * xxhash64 over `cast(ts as string)` is a SESSION-ZONE rendering, so a
    * reader in a different zone than the writer would hash the same instant
    * to a DIFFERENT bucket and equality pruning through the transform would
    * wrongly exclude matching files. No claim instead; the layout still
    * distributes writes. Version >= 2 tables ([[PartitionTransform
    * .VersionKey]], parsed as `tsMicros = true`) hash the zone-free
    * unix_micros and PRUNE; `refresh_stats` upgrades legacy tables.
    * A malformed transform property yields no transforms (plan less,
    * never fail the plan). */
  private[graft] def prunableTransforms(props: Map[String, String],
      schema: StructType): Seq[PartitionTransform] =
    scala.util.Try(PartitionTransform.parseListFrom(props, schema))
      .getOrElse(Seq.empty)
      .filterNot(_.isInstanceOf[PartitionTransform.Identity])
      .filterNot {
        case PartitionTransform.Bucket(src, _, tsMicros) =>
          !tsMicros &&
            schema.fields.exists(f => f.name == src && f.dataType == TimestampType)
        case _ => false
      }

  /** Transform-domain half of file pruning, shared by [[pruneFiles]] (which
    * supplies a Spark-eval fallback for bucket hashes in `tlit`) and the
    * session-free REST planner (pure [[PartitionTransform.evalOrderPreserving]]):
    * a filter on the SOURCE column maps into the transform domain —
    * equality/IN through any transform, ranges through order-preserving
    * ones — and checks the per-file transform-value bounds. Legacy ISO
    * transform stats fail the numeric parse and yield no claim (kept). */
  private[graft] def transformExcluded(transforms: Seq[PartitionTransform],
      tlit: (PartitionTransform, Any) => Option[String],
      f: DataFile, flt: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    if (transforms.isEmpty) return false
    // PROVEN compare only: a legacy (pre-integer) transform stat string is
    // not numeric-parseable — no claim, keep the file (read-compat shim)
    def cmpT(numeric: Boolean, a: String, b: String): Option[Int] =
      if (numeric) scala.util.Try(numCmp(a, b)).toOption
      else Some(a.compareTo(b))
    def outside(t: PartitionTransform, v: Any): Boolean =
      f.stats.get(t.canonical).exists(st => tlit(t, v).exists(tv =>
        st.values match {
          // EXACT membership ([[ColumnStats.values]]): hash-transform files
          // carry their full distinct set when small — absent means no row
          // of the file maps to this transform value, however wide the
          // min/max range a scattered low-parallelism write produced
          case Some(set) => !set.contains(tv)
          case None =>
            cmpT(t.numeric, tv, st.min).exists(_ < 0) ||
            cmpT(t.numeric, st.max, tv).exists(_ < 0)
        }))
    // rows with c > v (or >=) have t(c) >= t(v) under an order-preserving t
    def belowLower(t: PartitionTransform, v: Any): Boolean =
      t.orderPreserving && f.stats.get(t.canonical).exists(st =>
        tlit(t, v).exists(tv => cmpT(t.numeric, st.max, tv).exists(_ < 0)))
    def aboveUpper(t: PartitionTransform, v: Any): Boolean =
      t.orderPreserving && f.stats.get(t.canonical).exists(st =>
        tlit(t, v).exists(tv => cmpT(t.numeric, st.min, tv).exists(_ > 0)))
    def go(flt: Filter): Boolean = flt match {
      case EqualTo(c, v) if v != null =>
        transforms.exists(t => t.source == c && outside(t, v))
      case In(c, vs) if vs != null && vs.nonEmpty =>
        transforms.exists(t => t.source == c &&
          vs.filter(_ != null).forall(v => outside(t, v)))
      case GreaterThan(c, v) if v != null =>
        transforms.exists(t => t.source == c && belowLower(t, v))
      case GreaterThanOrEqual(c, v) if v != null =>
        transforms.exists(t => t.source == c && belowLower(t, v))
      case LessThan(c, v) if v != null =>
        transforms.exists(t => t.source == c && aboveUpper(t, v))
      case LessThanOrEqual(c, v) if v != null =>
        transforms.exists(t => t.source == c && aboveUpper(t, v))
      case And(l, r) => go(l) || go(r)
      case Or(l, r) => go(l) && go(r)
      case _ => false
    }
    go(flt)
  }

  /** Stats-only file pruning over a snapshot — THE pruning body: local
    * reads reach it through [[GraftTable.pruneFiles]], the REST
    * scan-planning endpoint calls it directly (no session, so no
    * `fallback`). Hidden-partitioning bounds prune here too (VERDICT r16
    * #3): order-preserving transforms (truncate, years/months/days/hours)
    * and bucket hashes of plainly-rendered literals evaluate session-free,
    * so a foreign engine planning through the catalog prunes like the
    * engine does locally; `fallback` evaluates the transform literals
    * those leave unlifted (None = no claim, keep the file). A malformed
    * transform property just skips the transform pass (plan less, never
    * fail the plan). */
  private[graft] def pruneFilesByStats(s: Snapshot,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      fallback: (PartitionTransform, Any) => Option[String] = (_, _) => None)
      : Seq[DataFile] = {
    // schema JSON parsed ONCE per call (not per file × filter, and not
    // once for the comparator plus once for the transforms — review r17)
    val schema = DataType.fromJson(
      s.schemas(s.currentSchemaId.toString)).asInstanceOf[StructType]
    val cmp = new StatsComparator(schema)
    val transforms = prunableTransforms(s.properties, schema)
    // one evaluation per (transform, literal) per call — not per file
    val litCache = scala.collection.mutable.Map.empty[(String, Any), Option[String]]
    val srcType = schema.fields.map(f => f.name -> f.dataType).toMap
    def tlit(t: PartitionTransform, v: Any): Option[String] =
      litCache.getOrElseUpdate((t.canonical, v),
        PartitionTransform.evalOrderPreserving(t, v)
          // bucket equality/IN prunes over the wire too: the hash of a
          // plainly-rendered literal is session-free (property-tested
          // against the Spark column eval); None = no claim, keep
          .orElse(PartitionTransform.evalBucket(t, v, srcType.get(t.source)))
          .orElse(fallback(t, v)))
    s.files.filter(f => !filters.exists(flt =>
      statsExcluded(cmp, f, flt) || transformExcluded(transforms, tlit, f, flt)))
  }

  /** Backtick-quoted top-level column reference — a column literally named
    * "a.b" must never parse as a nested-field path. THE one place the
    * dot-safety rule lives: every site that turns a SCHEMA field name into
    * a Column (table layer, merge builder, streaming sink) goes through
    * here or [[qref]]; user-supplied expressions are the user's to quote. */
  private[graft] def qcol(n: String): Column = col(s"`$n`")

  /** Column form of [[GraftTable.canon]]'s scheme-stripping (same anchored
    * possessive regexp): canonical data-file path for join equality across
    * URI renderings (`file:/a` vs `file:///a` vs `/a`); authority-bearing
    * URIs pass through untouched. */
  private[graft] def canonCol(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?+(?=/)", "")

  /** String form of the same canon — ONE definition for every path-match
    * site outside the table instance (REST commit route). */
  private[graft] def canonStr(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?+(?=/)", "")

  /** [[GraftTable.resolve]]'s rule for callers that hold only a root. */
  private[graft] def resolveUnder(root: String, p: String): String =
    if (p.startsWith("/") || p.contains("://")) p else s"$root/$p"

  /** [[qcol]] with a dataset alias prefix (`t`.`a.b`). */
  private[graft] def qref(alias: String, n: String): Column = col(s"$alias.`$n`")

  // ------------- footer-field-id resolution (imported-Iceberg reads) ------

  /** JVM-lifetime cache of parquet footer schemas for id-resolved reads.
    * Data files are immutable once committed (rewrites create NEW paths),
    * so the path is a stable key; one driver-side footer read per file,
    * ever — the same O(metadata) probe [[IcebergImport]] pays per file at
    * import time. */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.parquet.schema.MessageType]()

  private[table] def footerSchema(path: String,
      conf: org.apache.hadoop.conf.Configuration): org.apache.parquet.schema.MessageType =
    footerCache.computeIfAbsent(path, p => {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    })

  /** Physical top-level column name the footer records for field id `fid`. */
  private[table] def topLevelNameById(footer: org.apache.parquet.schema.GroupType,
      fid: Long): Option[String] =
    footer.getFields.asScala.find(t => t.getId != null && t.getId.intValue == fid)
      .map(_.getName)

  /** `schema` with every field (at any nesting level) renamed to the
    * PHYSICAL name the footer records for its parquet field id
    * (`graft.id` + 1 — the import/export mapping); recorded names kept
    * where the footer lacks the id (a column added after the file was
    * written null-fills by name, as before). Metadata is cleared
    * throughout: the result is a plain name-matched read schema, which is
    * how by-id resolution works WITHOUT Spark's session-global
    * `parquet.fieldId.read.enabled` gate (a per-read option can't scope
    * that gate — DataFrameReader options lowercase their keys, so the
    * camelCase conf key never reaches the scan's hadoopConf). A structural
    * surprise in the footer (exotic legacy list/map encodings) falls back
    * to recorded names — never worse than the name-matched read. */
  private[table] def physicalize(schema: StructType,
      footer: org.apache.parquet.schema.GroupType): StructType = {
    import org.apache.parquet.schema.{GroupType => PGroup, Type => PT}
    def pick(g: PGroup, fid: Long, name: String): Option[PT] =
      g.getFields.asScala.find(t => fid > 0 && t.getId != null && t.getId.intValue == fid)
        .orElse(g.getFields.asScala.find(_.getName == name))
    def fidOf(f: StructField): Long =
      if (f.metadata.contains("graft.id")) f.metadata.getLong("graft.id") + 1 else -1
    def clearMeta(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, clearMeta(f.dataType), f.nullable)))
      case ArrayType(e, n)  => ArrayType(clearMeta(e), n)
      case MapType(k, v, n) => MapType(clearMeta(k), clearMeta(v), n)
      case o                => o
    }
    def walkType(dt: DataType, pt: PT): DataType = (dt, pt) match {
      case (st: StructType, g) if !g.isPrimitive => walkStruct(st, g.asGroupType)
      case (a: ArrayType, g) if !g.isPrimitive =>
        // standard 3-level LIST (`group (LIST) { repeated group list
        // { element } }`), tolerating 2-level legacy (repeated element)
        val og = g.asGroupType
        val elem =
          if (og.getFieldCount == 1 && !og.getType(0).isPrimitive &&
              og.getType(0).isRepetition(PT.Repetition.REPEATED) &&
              og.getType(0).asGroupType.getFieldCount == 1)
            og.getType(0).asGroupType.getType(0)
          else og.getType(0)
        a.copy(elementType = walkType(a.elementType, elem))
      case (m: MapType, g) if !g.isPrimitive =>
        val kv = g.asGroupType.getType(0).asGroupType
        m.copy(keyType = walkType(m.keyType, kv.getType(0)),
          valueType = walkType(m.valueType, kv.getType(1)))
      case (other, _) => other
    }
    def walkStruct(st: StructType, g: PGroup): StructType = StructType(st.fields.map { f =>
      pick(g, fidOf(f), f.name) match {
        case Some(pt) => StructField(pt.getName, walkType(f.dataType, pt), f.nullable)
        case None     => StructField(f.name, clearMeta(f.dataType), f.nullable)
      }
    })
    try walkStruct(schema, footer)
    catch { case scala.util.control.NonFatal(_) =>
      StructType(schema.fields.map(f => StructField(f.name, clearMeta(f.dataType), f.nullable)))
    }
  }

  /** `write.bucket-by = "n,col[,col2,...]"` — Spark-native co-located
    * bucketing, single or COMPOSITE key (murmur3 over all key columns,
    * matching Spark's own bucket hash). */
  private[table] def bucketByOf(props: Map[String, String]): Option[(Int, Seq[String])] =
    props.get("write.bucket-by").map { s =>
      val parts = s.split(",").map(_.trim)
      require(parts.length >= 2 && parts(0).forall(_.isDigit) && parts(0).toInt > 0 &&
          parts.tail.forall(_.nonEmpty),
        s"write.bucket-by must be 'numBuckets,column[,column...]', got '$s'")
      (parts(0).toInt, parts.tail.toSeq)
    }

  /** Spark's bucket-file suffix (`..._00003.parquet`). */
  private[graft] val BucketSuffix =
    java.util.regex.Pattern.compile(".*_\\d{5}\\.parquet$")

  /** Partition index inside a staged `part-00003-uuid…` file name. */
  private[table] val StagedPart =
    java.util.regex.Pattern.compile("^part-(\\d+)-")

  /** Stamp a fresh, unique graft.id on EVERY field in the schema tree —
    * nested struct fields included, so nested rename/drop/add evolve by id
    * exactly like top-level columns. `private[graft]` so the REST catalog
    * server can create tables without a SparkSession. */
  private[graft] def stampIds(schema: StructType): StructType = {
    var id = -1
    def next(): Int = { id += 1; id }
    def walk(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val own = next()
        f.copy(dataType = walk(f.dataType),
          metadata = new MetadataBuilder().putLong("graft.id", own.toLong).build())
      })
      case other => other
    }
    walk(schema).asInstanceOf[StructType]
  }

  /** CREATE TABLE AS SELECT: materialize `df` as a new graft table. */
  def create(spark: SparkSession, path: String, df: DataFrame,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val t = new GraftTable(spark, path)
    require(!t.log.exists, s"graft table already exists at $path")
    t.log.initDirs()
    val withIds = stampIds(df.schema)
    val props = PartitionTransform.stampVersion(properties)
    val files = t.writeFiles(df, 0, props, idSchema = Some(withIds))
    val snap = Snapshot(0L, -1L, System.currentTimeMillis(), "create",
      0, Map("0" -> withIds.json), files, props)
    // first commit: version 0 has no parent; publish directly through the log
    t.log.commit(-1L, _ => snap)
    t
  }

  /** CREATE TABLE (empty) with an explicit schema. */
  def createEmpty(spark: SparkSession, path: String, schema: StructType,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val t = new GraftTable(spark, path)
    require(!t.log.exists, s"graft table already exists at $path")
    t.log.initDirs()
    val withIds = stampIds(schema)
    val snap = Snapshot(0L, -1L, System.currentTimeMillis(), "create",
      0, Map("0" -> withIds.json), Seq.empty,
      PartitionTransform.stampVersion(properties))
    t.log.commit(-1L, _ => snap)
    t
  }

  def load(spark: SparkSession, path: String): GraftTable = {
    val t = new GraftTable(spark, path)
    require(t.log.exists, s"no graft table at $path")
    t
  }

  /** Load with a custom snapshot-log transport — the REST catalog client
    * routes commits through the catalog server by passing a
    * [[graft.rest.RestSnapshotLog]] factory here. */
  def load(spark: SparkSession, path: String,
      logFactory: String => SnapshotLog): GraftTable = {
    val t = new GraftTable(spark, path, logFactory)
    require(t.log.exists, s"no graft table at $path")
    t
  }

  /** `CALL migrate / snapshot / add_files / register_table`: register an
    * existing Parquet directory as a graft table IN PLACE — data files are
    * referenced by absolute path, never copied or rewritten (SURVEY.md §2.8;
    * orphan-file GC only ever touches the table-owned `data/` dir, so
    * imported files are safe from expiry). */
  def importParquet(spark: SparkSession, parquetDir: String, path: String): GraftTable = {
    val srcIo = FileIO.forPath(parquetDir)
    // a single .parquet FILE registers as a one-file table (the Verify
    // server-mode battery imports per-table fixture files this way)
    val absPaths =
      if (!srcIo.isDirectory(parquetDir)) Seq(parquetDir)
      else srcIo.listNames(parquetDir).filter(_.endsWith(".parquet"))
        .map(n => s"${parquetDir.stripSuffix("/")}/$n")
    val schema = spark.read.parquet(parquetDir).schema
    val t = new GraftTable(spark, path)
    require(!t.log.exists, s"graft table already exists at $path")
    t.log.initDirs()
    val files = t.statFiles(absPaths, schema, 0, identity)
    t.log.commit(-1L, _ => Snapshot(0L, -1L, System.currentTimeMillis(), "import",
      0, Map("0" -> stampIds(schema).json), files, Map.empty))
    t
  }
}
