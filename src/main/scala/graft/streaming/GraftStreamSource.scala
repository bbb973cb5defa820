package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{Metadata, StructType}
import graft.table.GraftTable

/** Structured Streaming SOURCE over a graft table — the engine's analogue of
  * Iceberg's incremental streaming read (the reference stack streams from
  * Iceberg tables the same way; reference `main.tf:803`, SURVEY.md §2.9).
  *
  * {{{
  *   spark.readStream.format("graft-stream")
  *     .option("path", "/warehouse/db/events")
  *     .option("fromVersion", "3")   // optional: start after snapshot 3
  *     .load()
  * }}}
  *
  * Offsets are snapshot versions, so exactly-once recovery falls out of the
  * checkpoint log: a micro-batch is "the data files added by append
  * snapshots in `(start, end]`", read through the table's schema-evolution
  * projection. File-granular — an increment never rescans old files, which
  * is what makes tailing a 100 TB table cheap: each batch reads only the
  * newly committed files. A data-rewriting snapshot in the range
  * (compaction / UPDATE / MERGE / DELETE / overwrite) fails the batch
  * rather than silently replaying pre-existing rows; pass
  * `.option("skipRewrites", "true")` to ignore rewrite snapshots and keep
  * streaming the genuine appends (Iceberg's
  * streaming-skip-overwrite-snapshots semantics — see
  * [[graft.table.GraftTable.readAppended]]).
  * `.option("maxFilesPerTrigger", n)` rate-limits catch-up: each micro-batch
  * ends at the snapshot where the accumulated added-file count crosses `n`
  * (Iceberg's streaming-max-files-per-micro-batch).
  * `Trigger.AvailableNow` composes with it as a BOUNDED BACKFILL: the head
  * version is captured at query start, the backlog up to it drains in
  * rate-limited micro-batches (each checkpointed), and the query stops —
  * the production pattern for bootstrapping a derived table from a 100 TB
  * source without an unbounded first batch.
  *
  * Design note — why the V1 `Source` API and not DSv2 `MicroBatchStream`:
  * `getBatch` returns a full DataFrame, so each micro-batch plans through
  * Catalyst onto Spark's VECTORIZED parquet reader with the table's
  * schema-evolution projection — for free. A DSv2 `MicroBatchStream` must
  * produce rows itself through a `PartitionReaderFactory`, which for a
  * parquet-backed table means either hand-rolling a row-based parquet
  * decoder (a large performance regression vs the columnar path) or calling
  * Spark's internal `ParquetFileFormat` machinery — strictly MORE
  * internals-coupling than the two small touch points here (`Source` +
  * `internalCreateDataFrame`, both stable since Spark 2.0 and used the same
  * way by Delta Lake's V1 relation path). If Spark ever drops the V1 source
  * API it will be because DSv2 grew a file-batch bridge, which is the
  * moment to port.
  */
class GraftSourceProvider extends StreamSourceProvider
  with org.apache.spark.sql.sources.StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-stream"

  private def strip(s: StructType): StructType =
    StructType(s.fields.map(_.copy(metadata = Metadata.empty)))

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    // The schema is ALWAYS the table's own (it is the source of truth); a
    // user-supplied schema would be silently shadowed, so reject it loudly.
    require(schema.isEmpty,
      "graft-stream derives its schema from the table; .schema(...) is not supported")
    val t = GraftTable.load(ctx.sparkSession, parameters("path"))
    val base = strip(t.schema)
    val out =
      if (parameters.get("readChangeFeed").exists(_.toBoolean))
        GraftStreamSource.withCdcColumns(base)
      else base
    (shortName(), out)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    require(!(parameters.contains("fromVersion") && parameters.contains("fromTimestamp")),
      "graft-stream: fromVersion and fromTimestamp are mutually exclusive")
    // Iceberg's stream-from-timestamp: resolve the snapshot current AS OF
    // the epoch-ms instant once at stream creation; the checkpoint then
    // pins the version offset exactly as with fromVersion
    val fromV = parameters.get("fromVersion").map(_.toLong).orElse(
      parameters.get("fromTimestamp").map { ts =>
        GraftTable.load(ctx.sparkSession, parameters("path"))
          .log.snapshotAsOf(ts.toLong).version
      })
    new GraftStreamSource(ctx, parameters("path"),
      fromV,
      parameters.get("skipRewrites").exists(_.toBoolean),
      parameters.get("maxFilesPerTrigger").map(_.toInt),
      parameters.get("readChangeFeed").exists(_.toBoolean),
      metadataPath = Some(metadataPath),
      maxRowsPerTrigger = parameters.get("maxRowsPerTrigger").map(_.toLong))
  }

  /** `df.writeStream.format("graft-stream").option("path", …)` — the sink
    * counterpart: every micro-batch lands in ONE snapshot commit that also
    * records the batch id, so a replayed batch after failure recovery is
    * detected and skipped (exactly-once on top of foreachBatch-style
    * at-least-once delivery). The table is created from the stream's schema
    * on the first batch if absent.
    *
    * `.option("upsertKeys", "k1,k2")` switches the sink from append to
    * UPSERT: each batch MERGEs on the key columns (matched rows update, new
    * keys insert) — the Delta `foreachBatch`-merge idiom as a first-class
    * sink mode. The batch id rides on the merge's own commit (one CAS —
    * replay detection and the data change are atomic). Each batch must
    * carry at most one row per key; every batch is checked and violations
    * fail the batch rather than silently inserting duplicate keys.
    *
    * `.option("applyChangeFeed", "true")` (with `upsertKeys`) makes the
    * sink consume a `readChangeFeed` stream directly: change rows are
    * REDUCED to each key's final state within the batch (latest
    * `_commit_version`; an update's paired delete+insert collapses to the
    * insert image) and applied as MERGE update/insert/DELETE — so deletes
    * propagate to the mirror and a CoW update's two change rows don't trip
    * the one-row-per-key contract. */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    val keys = parameters.get("upsertKeys").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val applyCdc = parameters.get("applyChangeFeed").exists(_.toBoolean)
    require(!applyCdc || keys.nonEmpty, "applyChangeFeed requires upsertKeys")
    val append = org.apache.spark.sql.streaming.OutputMode.Append()
    val update = org.apache.spark.sql.streaming.OutputMode.Update()
    require(outputMode == append || (keys.nonEmpty && outputMode == update),
      "graft-stream sink is append-only (snapshots are immutable increments); " +
      "set upsertKeys for merge-per-batch upserts (Append or Update mode)")
    new GraftStreamSink(parameters("path"), keys, applyCdc)
  }
}

class GraftStreamSink(path: String, upsertKeys: Seq[String] = Seq.empty,
    applyChangeFeed: Boolean = false)
  extends org.apache.spark.sql.execution.streaming.Sink {

  import org.apache.spark.sql.functions._

  private def bq(alias: String, c: String) = GraftTable.qref(alias, c) // dot-safe
  private def kq(c: String) = GraftTable.qcol(c)

  /** Final state per key within one CDC batch: rows of the LATEST commit
    * touching the key; an update's paired delete+insert (same commit)
    * collapses to the insert image. `rank()` (not row_number) so a GENUINE
    * tie — the source commit carried several rows for one key, i.e. the
    * source isn't keyed on upsertKeys — survives reduction and is caught
    * by the duplicate check instead of an arbitrary row silently winning. */
  private def reduceCdc(batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(upsertKeys.map(kq): _*)
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "insert", 0).otherwise(1))
    batch.withColumn("_rk", rank().over(w)).filter(col("_rk") === 1)
      .withColumn("_cdc_delete", col("_change_type") === "delete")
      .drop("_rk", "_change_type", "_commit_version", "_change_ordinal")
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    // the incoming frame is streaming-planned; re-tag it as batch so the
    // append's normal transformations can run over it — and CACHE it: the
    // row count, the duplicate-key check, and the merge's join must all see
    // ONE evaluation of the upstream pipeline (a non-deterministic upstream
    // evaluated twice could slip duplicates past the check)
    val batch0 = Bridge.batchDataFrame(spark, data)
    // cache exactly ONE frame: in CDC mode the reduced frame is the single
    // reader of batch0 and the thing read repeatedly, so caching the raw
    // batch too would only double executor memory per micro-batch
    val batch = if (upsertKeys.isEmpty || applyChangeFeed) batch0 else batch0.cache()
    var reduced: Option[DataFrame] = None // cached CDC reduction, if any
    try {
      val exists = new SnapshotLogProbe(path).exists
      // CDC metadata columns are transport only in applyChangeFeed mode; a
      // plain append/upsert of a raw change feed keeps them as data
      val createSchema =
        if (applyChangeFeed) dataSchema(batch0.schema) else batch0.schema
      val t =
        if (exists) GraftTable.load(spark, path)
        else GraftTable.createEmpty(spark, path, StructType(
          createSchema.fields.map(_.copy(metadata = Metadata.empty))))
      val last = t.log.current.properties.get("stream.last-batch-id").map(_.toLong)
      if (last.exists(_ >= batchId)) return // replayed micro-batch: already durable
      val stamp = Map("stream.last-batch-id" -> batchId.toString)
      if (upsertKeys.isEmpty) { t.append(batch, stamp); return }
      // cache the REDUCED frame in CDC mode: the window shuffle must not
      // re-run for the emptiness probe, the dup check, and the merge join
      val src = if (applyChangeFeed) {
        val r = reduceCdc(batch).cache(); reduced = Some(r); r
      } else batch
      // an empty batch (e.g. only maintenance commits upstream) records its
      // batch id via an empty append — never a full-outer join of the table
      if (src.isEmpty) { t.append(src.drop("_cdc_delete"), stamp); return }
      // Enforce the at-most-one-row-per-key contract on EVERY batch — the
      // MERGE cardinality check only catches duplicates hitting an existing
      // target row; duplicates among fresh keys (or in the table-creating
      // first batch) would otherwise insert silently. In CDC mode this also
      // catches reduction ties: a source commit carrying several rows per
      // key means the source isn't keyed on upsertKeys.
      val dup = src.groupBy(upsertKeys.map(kq): _*)
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
      if (dup > 0) throw new IllegalStateException(
        s"upsert batch $batchId has multiple rows per (${upsertKeys.mkString(", ")}); " +
        (if (applyChangeFeed) "the change-feed source is not keyed on these columns"
         else "pre-aggregate the stream to one row per key per batch"))
      val cond = upsertKeys.map(k => bq("t", k) === bq("s", k)).reduce(_ && _)
      val del = if (applyChangeFeed) col("s.`_cdc_delete`") else lit(false)
      if (!exists) t.append( // auto-created empty table: pure insert set
        (if (applyChangeFeed) src.filter(!col("_cdc_delete")).drop("_cdc_delete") else src),
        stamp)
      else t.merge(src, cond)
        .whenMatchedDelete(Some(del))
        .whenMatchedUpdateAll(Some(!del))
        .whenNotMatchedInsertAll(Some(!del))
        .withCommitProperties(stamp)
        .execute()
    } finally {
      reduced.foreach(_.unpersist())
      if (upsertKeys.nonEmpty && !applyChangeFeed) batch.unpersist()
    }
  }

  /** Schema for table auto-creation: CDC metadata/flag columns are
    * transport, not data. */
  private def dataSchema(s: StructType): StructType =
    StructType(s.fields.filterNot(f =>
      Seq("_change_type", "_commit_version", "_change_ordinal").contains(f.name)))
}

/** Existence probe without requiring a committed table. */
private class SnapshotLogProbe(path: String) {
  def exists: Boolean = new graft.table.SnapshotLog(path).exists
}

object GraftStreamSource {
  /** Types whose values can't be compared with =!= (map anywhere inside). */
  private[streaming] def hasMap(d: org.apache.spark.sql.types.DataType): Boolean = d match {
    case _: org.apache.spark.sql.types.MapType => true
    case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** CDC output columns (Iceberg changelog / Delta CDF shape). */
  private[streaming] def withCdcColumns(base: StructType): StructType =
    StructType(base.fields
      :+ org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType)
      :+ org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false)
      :+ org.apache.spark.sql.types.StructField("_change_ordinal",
        org.apache.spark.sql.types.IntegerType, nullable = false))
}

/** `readChangeFeed = true` switches the source to CDC mode (Iceberg's
  * changelog scan / Delta's Change Data Feed): each micro-batch is the
  * per-commit changelog of `(start, end]` — inserts AND deletes as rows
  * tagged `_change_type`/`_commit_version`/`_change_ordinal` — so
  * UPDATE/MERGE/DELETE snapshots stream as change rows instead of failing
  * the appends-only contract. Carryover rows rewritten by compaction are
  * filtered by the per-commit bag diff, so maintenance on a tailed table
  * emits nothing. Starts at the CURRENT version by default (changes from
  * now); pass `fromVersion` to replay history. `_change_ordinal` is dense
  * within a batch, not globally — order by `_commit_version` downstream. */
class GraftStreamSource(ctx: SQLContext, path: String, fromVersion: Option[Long],
    skipRewrites: Boolean = false, maxFilesPerTrigger: Option[Int] = None,
    readChangeFeed: Boolean = false, metadataPath: Option[String] = None,
    maxRowsPerTrigger: Option[Long] = None)
  extends Source with SupportsTriggerAvailableNow {

  private val table = GraftTable.load(ctx.sparkSession, path)
  /** Start offset. PERSISTED under the source's checkpoint metadata dir on
    * first creation: the CDC default is "changes from the current version",
    * and `currentVersion` moves — a restart recovering the first
    * not-yet-committed micro-batch must replay `(base, end]` with the
    * ORIGINAL base, or changes committed between stream start and the
    * crash would be silently skipped (or the replay could even ask for a
    * reversed range and die). create-exclusive means the first creation
    * wins and every recovery reads the same value. */
  private val base: Long = {
    val chosen = fromVersion.getOrElse(if (readChangeFeed) table.log.currentVersion else -1L)
    metadataPath match {
      case Some(mp) =>
        val io = graft.table.FileIO.forPath(mp)
        io.mkdirs(mp)
        io.createExclusive(s"$mp/graft-base", chosen.toString)
        io.readString(s"$mp/graft-base").trim.toLong
      case None => chosen
    }
  }
  // Pin the schema ID at source creation: every batch is projected through
  // it (ID-based, so rename/widen-safe), keeping the running query plan —
  // which is bound once, at stream start — valid across mid-stream schema
  // evolution. New columns simply don't appear until the stream restarts.
  private val pinnedSchemaId: Int = table.log.current.currentSchemaId
  // Pinned FIELD IDS + TYPES for the CDC branch: changelog batches carry
  // the END version's column names and types, so each batch re-resolves
  // the pinned ids against that version's schema and casts back — a
  // mid-stream RENAME or loss-free WIDEN keeps streaming under the
  // original (bound-plan) shape, same contract as the non-CDC path's
  // pinnedSchemaId projection.
  private val pinnedIds: Seq[(Int, String, org.apache.spark.sql.types.DataType)] =
    table.schema.fields.toSeq.map(f => (table.fieldId(f), f.name, f.dataType))

  override def schema: StructType = {
    val basic = StructType(table.schema.fields.map(_.copy(metadata = Metadata.empty)))
    if (readChangeFeed) GraftStreamSource.withCdcColumns(basic) else basic
  }

  // Highest version already handed to the engine; re-seeded by getBatch on
  // checkpoint recovery, so rate limiting survives restarts.
  private var planned: Long = base

  /** Rate limiting (`maxFilesPerTrigger`, Iceberg's
    * streaming-max-files-per-micro-batch): a stream that starts against a
    * table with a deep backlog — or wakes after downtime — must not get the
    * whole catch-up as ONE micro-batch (one giant shuffle, one giant state
    * update, checkpoint only at the end). Cap each batch's end offset at the
    * version where the accumulated added-file count crosses the budget;
    * always at least one version, so progress is guaranteed even when a
    * single commit exceeds the cap. Snapshot-log metadata only — no file IO. */
  override def getOffset: Option[Offset] = {
    val from = math.max(planned, base)
    val end = nextEnd(from, table.log.currentVersion, maxFilesPerTrigger,
      maxRowsPerTrigger)
    if (end <= from) None else Some(LongOffset(end))
  }

  /** Budget-capped batch end: walk the parent chain head→from, then replay
    * forward accumulating per-snapshot added-file AND added-row counts
    * until EITHER budget is crossed (Iceberg's
    * streaming-max-files/rows-per-micro-batch pair); always at least one
    * version, so progress is guaranteed even when a single commit exceeds
    * a cap. Snapshot-log metadata only — no file IO. */
  private def nextEnd(from: Long, head: Long, fileBudget: Option[Int],
      rowBudget: Option[Long]): Long = {
    if (head <= from) return from
    if (fileBudget.isEmpty && rowBudget.isEmpty) return head
    val chain = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    var cur = table.log.snapshot(head)
    var atRoot = false
    while (!atRoot && cur.version != from) {
      if (cur.parent < 0) { // root snapshot: all its files are "added"
        chain.prepend((cur.version, cur.files.size, cur.files.map(_.rows).sum))
        atRoot = true
      } else {
        val parentFiles = table.log.snapshot(cur.parent).files.map(_.path).toSet
        val added = cur.files.filter(f => !parentFiles.contains(f.path))
        chain.prepend((cur.version, added.size, added.map(_.rows).sum))
        cur = table.log.snapshot(cur.parent)
      }
    }
    var accF = 0; var accR = 0L; var last = from
    val it = chain.iterator
    var stop = false
    while (it.hasNext && !stop) {
      val (v, addedF, addedR) = it.next()
      val overF = fileBudget.exists(cap => accF + addedF > cap)
      val overR = rowBudget.exists(cap => accR + addedR > cap)
      if (last != from && (overF || overR)) stop = true
      else { accF += addedF; accR += addedR; last = v }
    }
    last
  }

  // ---- Admission control (SupportsAdmissionControl + TriggerAvailableNow).
  // Spark plans batches through latestOffset(start, limit) when a source
  // declares these — the same contract FileStreamSource and the Kafka source
  // use. Without them, Trigger.AvailableNow wraps a V1 source in
  // AvailableNowSourceWrapper, which captures ONE getOffset result as "all
  // available data" — under maxFilesPerTrigger that is the first capped
  // batch end, so an AvailableNow backfill would silently stop after one
  // batch instead of draining the backlog. Declaring the interfaces makes
  // AvailableNow the bounded-backfill it should be: drain everything up to
  // the version captured at query start, in rate-limited batches, then stop.

  /** HEAD version captured when an AvailableNow run starts; batches never
    * plan past it, so commits racing the backfill wait for the next run. */
  @volatile private var availableNowBound: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(table.log.currentVersion)

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxRowsPerTrigger) match {
      case (Some(f), Some(r)) => ReadLimit.compositeLimit(
        Array(ReadLimit.maxFiles(f), ReadLimit.maxRows(r)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(r)) => ReadLimit.maxRows(r)
      case _ => ReadLimit.allAvailable()
    }

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = math.max(math.max(planned, base),
      Option(startOffset).map(verV2).getOrElse(base))
    val head0 = table.log.currentVersion
    val head = availableNowBound.fold(head0)(math.min(head0, _))
    def budgets(l: ReadLimit): (Option[Int], Option[Long]) = l match {
      case m: ReadMaxFiles => (Some(m.maxFiles()), None)
      case m: ReadMaxRows  => (None, Some(m.maxRows()))
      case c: CompositeReadLimit =>
        val parts = c.getReadLimits.map(budgets)
        (parts.flatMap(_._1).minOption, parts.flatMap(_._2).minOption)
      case _ => (maxFilesPerTrigger, maxRowsPerTrigger)
    }
    val (fb, rb) = budgets(limit)
    val end = nextEnd(from, head, fb, rb)
    if (end <= from) null else LongOffset(end)
  }

  /** True head for progress metrics, independent of rate limiting and the
    * AvailableNow bound (drives the UI's backlog gauge). */
  override def reportLatestOffset(): OffsetV2 = LongOffset(table.log.currentVersion)

  private def verV2(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }

  private def ver(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other         => other.json.trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(ver).getOrElse(base)
    planned = math.max(planned, ver(end))
    val batch =
      if (readChangeFeed) {
        import org.apache.spark.sql.functions._
        // per-commit CDC rows; resolve the PINNED field ids against the END
        // version's names and alias back (rename-safe; a column added
        // mid-stream must not widen a bound plan). A pinned column DROPPED
        // mid-stream cannot be represented — fail with the cause named.
        val byId = table.schemaAtVersion(ver(end)).fields
          .map(f => table.fieldId(f) -> f).toMap
        val dataCols = pinnedIds.map { case (id, name, dt) =>
          // cast pins the TYPE too: a mid-stream widen (INT→BIGINT) must
          // not feed 8-byte values into a plan bound to the old 4-byte
          // slot. A value that no longer FITS the pinned type (written
          // after the widen) must fail the batch loudly — a silent wrap
          // would merge corrupt images downstream.
          val endField = byId.getOrElse(id, throw new IllegalStateException(
            s"CDC stream: column '$name' (field id $id) was dropped mid-stream; " +
            "restart the stream to bind the new schema"))
          val raw = col(s"`${endField.name}`")
          val casted = raw.cast(dt)
          // the roundtrip fit-check needs =!=, which Spark rejects for
          // unorderable types, so a column containing a map ANYWHERE takes
          // the best-effort cast — a KNOWN limitation: a widened orderable
          // field inside a map-bearing struct wraps silently. Top-level
          // atomic/struct/array widens (the overwhelmingly common case)
          // fail loudly.
          if (endField.dataType == dt || GraftStreamSource.hasMap(endField.dataType))
            casted.as(name)
          else when(raw.isNotNull &&
              (casted.isNull || casted.cast(endField.dataType) =!= raw),
              raise_error(concat(lit(s"CDC stream: value of column '$name' does not fit " +
                s"the schema pinned at stream start ($dt); restart the stream " +
                "to bind the widened schema; offending value: "), raw.cast("string")))
                .cast(dt))
            .otherwise(casted).as(name)
        }
        table.changelogDetailed(from, ver(end))
          .select(dataCols ++
            Seq("_change_type", "_commit_version", "_change_ordinal").map(col): _*)
      } else table.readAppended(from, ver(end), skipRewrites, Some(pinnedSchemaId))
    Bridge.streamingDataFrame(ctx.sparkSession, batch)
  }

  override def stop(): Unit = ()
}
