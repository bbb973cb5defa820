package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Mat

import graft.table.GraftTable

/** Incremental near-duplicate index: a PERSISTED MinHash/LSH signature
  * index over a document corpus, maintained from the corpus table's
  * changelog and probed by new batches — the standing dedup workflow of a
  * training-data pipeline (each crawl/ingest batch is checked against the
  * whole corpus WITHOUT recomputing the corpus's signatures).
  *
  * Same sketch family as the oracle-checked one-shot query (`Dedup.q41`):
  * k=[[K]] min-wise signatures (min of md5("i|" + shingle) per salt i) over
  * distinct 3-word shingles, banded r=[[R]] — so everything this index
  * produces is reproducible in plain SQL by an independent engine.
  *
  * 100 TB shape:
  *  - the index stores one row per (doc, band): `(id, b, bucket, sigs)` —
  *    O(docs × K/R) rows, tiny next to the corpus text;
  *  - rows are range-clustered by `(b, bucket)`, so every data file covers
  *    a contiguous bucket range and a probe batch's bucket join prunes
  *    through file-level min/max stats instead of scanning the index;
  *  - a probe is: batch signatures (one pass over the BATCH only) →
  *    key-equality join on (b, bucket) → per-pair signature agreement —
  *    never all-pairs, never a corpus rescan;
  *  - a refresh reads ONLY the changelog span since the last indexed
  *    version: O(changed docs), never the base corpus.
  */
object DedupIndex {

  /** Signature size / band width (the q41 family: b = K/R = 3 bands). */
  val K = 12
  val R = 4

  /** Table property stamping WHICH source-table version the index covers
    * (the Ann.IndexedVersionProp discipline: the stamp rides the same
    * commit as the data, so a crash never leaves a lying index). */
  val IndexedVersionProp = "graft.dedup.indexed-version"

  /** Per-doc distinct 3-word shingles — `Dedup.shingles` generalized to any
    * (id, text) frame. The repartition spreads the CPU-bound shingle+hash
    * loop across tasks when the input arrives as a few parquet row groups
    * (size-based AQE coalescing can't see per-row CPU cost). */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= 3)
      // explicit count: a bare repartition(col) is AQE-coalescible and the
      // per-row CPU cost is invisible to size-based coalescing (the
      // Tables.spreadByDoc rule)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("_id"))
      .select(col("_id"),
        explode(expr("transform(sequence(0, size(w) - 3), i -> array_join(slice(w, i + 1, 3), ' '))"))
          .as("shingle"))
      .distinct()

  /** One row per doc: `(_id, sigs)` — the K salted-md5 minima in salt order
    * (one map-side-combinable TypedImperativeAggregate pass). */
  def signatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    shingleRows(docs, idCol, textCol)
      .groupBy(col("_id"))
      .agg(graft.functions.MinHashSignature(col("shingle"), K).as("sigs"))

  /** One row per (doc, band): `(_id, b, bucket, sigs)`. The bucket is the
    * md5 of the band's R signature components in salt order — identical to
    * q41's bucket, so index contents hash-verify against the SQL twin. The
    * full signature rides each band row; a probe needs it for the
    * agreement score, and carrying it beats a second per-doc join at the
    * cost of (K/R − 1) duplicate arrays per doc. */
  def bandTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    signatures(docs, idCol, textCol)
      .select(col("_id"), col("sigs"),
        explode(expr(s"transform(sequence(0, ${K / R - 1}), " +
          s"b -> named_struct('b', b, 'bucket', " +
          s"md5(cast(array_join(slice(sigs, b * $R + 1, $R), '') as binary))))"))
          .as("bb"))
      .select(col("_id"), col("bb.b").as("b"), col("bb.bucket").as("bucket"), col("sigs"))

  /** Materialize the index AS A GRAFT TABLE, range-clustered by
    * (b, bucket) so a probe's bucket join prunes files through the table's
    * min/max stats (the Ann.buildIndexTable discipline: range, not hash —
    * ranges stay contiguous under partition merges). */
  def buildIndexTable(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, path: String, buckets: Int = 16,
      props: Map[String, String] = Map.empty): GraftTable = {
    val shaped = bandTable(docs, idCol, textCol)
      .repartitionByRange(buckets, col("b"), col("bucket"))
    GraftTable.create(spark, path, shaped, props)
  }

  /** Build over a GRAFT-TABLE corpus, stamping the corpus version so
    * [[refreshIndexTable]] can catch up incrementally. */
  def buildIndexTableFrom(spark: SparkSession, base: GraftTable, idCol: String,
      textCol: String, path: String, buckets: Int = 16): GraftTable =
    buildIndexTable(spark, base.read, idCol, textCol, path, buckets,
      Map(IndexedVersionProp -> base.log.currentVersion.toString))

  /** Incremental refresh: catch the index up to the corpus HEAD reading
    * only the changelog span `(indexedV, HEAD]`:
    *  - ids with any delete row leave through a MERGE on the id key (a
    *    distributed anti-join; skipped for pure-append spans, so the
    *    common ingest case rewrites no existing index file);
    *  - each surviving changed id's final text re-sketches — one signature
    *    pass over only the changed rows — and appends range-clustered so
    *    new files keep prunable bucket bounds.
    * The version stamp rides the same commits (merge props / append
    * extraProps), so a crash between the two steps resumes, never lies. */
  def refreshIndexTable(spark: SparkSession, path: String, base: GraftTable,
      idCol: String, textCol: String, buckets: Int = 16): GraftTable = {
    val index = GraftTable.load(spark, path)
    val indexedV = index.log.current.properties.getOrElse(IndexedVersionProp,
      throw new IllegalStateException(
        s"index at $path carries no $IndexedVersionProp property — it was not " +
        "built from a graft table (buildIndexTableFrom); rebuild to refresh")).toLong
    val curV = base.log.currentVersion
    if (curV == indexedV) return index
    require(curV > indexedV,
      s"index at $path was built from v$indexedV but the source is at v$curV " +
      "(rolled back?) — rebuild the index")
    val changes = base.changelogDetailed(indexedV, curV)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = changes.select(col(idCol).as("_src_id")).distinct()
      // every touched id's band rows leave; survivors re-enter re-sketched
      // below (an update's bucket CHANGES with its text, so replace, not
      // patch). Pure inserts of brand-new ids match nothing — still one
      // anti-join, no rewrite.
      index.merge(touched, GraftTable.qref("t", "_id") === GraftTable.qref("s", "_src_id"))
        .whenMatchedDelete()
        .withCommitProperties(Map(IndexedVersionProp -> indexedV.toString))
        .execute()
      // last-writer-wins per id: the final image is the insert row(s) at
      // the last ordinal that touched the id (the Ann.refreshIndexTable
      // rule) — a shuffle of only the changed rows
      val byId = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      val alive = changes
        .withColumn("_max_ord", max(col("_change_ordinal")).over(byId))
        .filter(col("_change_ordinal") === col("_max_ord") &&
          col("_change_type") === "insert")
        .drop("_change_type", "_commit_version", "_change_ordinal", "_max_ord")
      index.append(
        bandTable(alive, idCol, textCol).repartitionByRange(buckets, col("b"), col("bucket")),
        extraProps = Map(IndexedVersionProp -> curV.toString))
    } finally changes.unpersist(blocking = false)
    GraftTable.load(spark, path)
  }

  /** Probe a batch against index band rows: near-dup `(batch id, index id,
    * est_jaccard)` pairs with agreement ≥ `minJaccard`. One signature pass
    * over the BATCH, a key-equality join on (b, bucket), and a per-pair
    * zip_with over two K-arrays — candidate cost is Σ bucket-collisions,
    * never |batch| × |corpus|. Self-matches (same id on both sides) drop. */
  def probe(indexRows: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, minJaccard: Double): DataFrame =
    probeBands(indexRows, bandTable(batch, idCol, textCol), minJaccard)

  /** [[probe]] against a PERSISTED index with FILE-LEVEL PRUNING: the
    * batch's bucket list (bounded: |batch| × K/R values) collects
    * driver-side and prunes the index scan through the table's min/max
    * stats before the join — on the range-clustered layout a probe touches
    * only the files whose bucket ranges intersect the batch, not the whole
    * index (the Ann.ivfSearchTable discipline). Falls back to the full
    * scan when the batch's bucket set exceeds `maxProbeBuckets` (a huge
    * batch reads most files anyway; the IN list would only bloat the
    * plan). */
  def probeTable(index: GraftTable, batch: DataFrame, idCol: String,
      textCol: String, minJaccard: Double,
      maxProbeBuckets: Int = 100000): DataFrame = {
    val bb = bandTable(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val buckets = bb.select(col("bucket")).distinct()
        .limit(maxProbeBuckets + 1).collect().map(_.getString(0))
      val indexRows =
        if (buckets.length > maxProbeBuckets) index.read
        else index.readPruned(index.log.current,
            Seq(org.apache.spark.sql.sources.In("bucket",
              buckets.map(x => x: Any))))
          .filter(col("bucket").isin(buckets.toSeq: _*))
      // materialize before releasing the bands cache (the caller gets a
      // computed-through plan, not a lazy one over an unpersisted cache)
      probeBands(indexRows, bb, minJaccard).transform(Mat.checkpoint)
    } finally bb.unpersist(blocking = false)
  }

  /** [[probe]] over already-sketched batch bands: the join and estimate
    * shared by [[probe]] and [[probeTable]]. */
  private def probeBands(indexRows: DataFrame, batchBands: DataFrame,
      minJaccard: Double): DataFrame = {
    val bb = batchBands
      .select(col("_id").as("new_id"), col("b"), col("bucket"), col("sigs").as("new_sigs"))
    bb.join(indexRows.select(col("_id").as("dup_of"), col("b"), col("bucket"),
          col("sigs").as("idx_sigs")),
        Seq("b", "bucket"))
      .filter(col("new_id") =!= col("dup_of"))
      .select(col("new_id"), col("dup_of"), col("new_sigs"), col("idx_sigs"))
      .distinct()
      .withColumn("est_jaccard",
        expr(s"aggregate(zip_with(new_sigs, idx_sigs, " +
          s"(x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v) / CAST($K AS DOUBLE)"))
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("new_id"), col("dup_of"), col("est_jaccard"))
  }
}
