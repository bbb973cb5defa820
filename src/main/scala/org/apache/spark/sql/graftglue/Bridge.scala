package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst-Expression (and LogicalPlan → DataFrame) bridge.
  * Spark 4 made the converters `private[sql]` (the Connect split), so —
  * like every Spark-native extension library — the engine keeps one glue
  * object inside the sql package hierarchy to reach them. Nothing else
  * lives here. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `c` converted now by `spark`, for a plan built without a Dataset
    * ([[expression]] defers conversion to the Dataset that holds it). */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-tag a batch DataFrame as streaming (`isStreaming = true`) — what a
    * V1 `Source.getBatch` must return; MicroBatchExecution asserts on it. */
  def streamingDataFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val cls = spark.asInstanceOf[classic.SparkSession]
    cls.internalCreateDataFrame(
      df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]].queryExecution.toRdd,
      df.schema, isStreaming = true)
  }

  /** Re-tag a streaming micro-batch DataFrame as a BATCH one (the inverse of
    * [[streamingDataFrame]]): what a V1 `Sink.addBatch` implementation needs
    * to run normal batch transformations over the incoming data — planning
    * new queries over the raw streaming frame throws
    * "streaming sources must be executed with writeStream.start()". */
  def batchDataFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val cls = spark.asInstanceOf[classic.SparkSession]
    cls.internalCreateDataFrame(
      df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]].queryExecution.toRdd,
      df.schema, isStreaming = false)
  }

  /** A batch DataFrame over an InternalRow RDD (`internalCreateDataFrame`
    * is `private[sql]`). Caller owns row-buffer safety: copy rows before
    * persisting an iterator-reusing RDD. */
  def internalDf(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Write a frame as parquet files under `dir` through Spark's own file
    * writer, in the one job `df.write.parquet(dir)` runs, with `tracker`
    * seeing every row in the task that writes its file. The files take
    * their schema from `schema`: the frame's names, types and order, whose
    * field METADATA (parquet field ids) reaches the footers — the optimizer
    * strips Alias metadata before a plain write sees it. `options` are the
    * writer options (`df.write.options`). `file:` dirs are written through
    * [[graft.table.LocalFs]]. `FileFormatWriter`, the session
    * state it reads and the execution id it needs are internals, hence
    * bridged. */
  def writeParquet(df: DataFrame, dir: String, schema: org.apache.spark.sql.types.StructType,
      options: Map[String, String],
      tracker: org.apache.spark.sql.execution.datasources.WriteJobStatsTracker): Unit = {
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val plan = qe.executedPlan
    require(plan.output.size == schema.size &&
      plan.output.zip(schema.fields).forall { case (a, f) => a.dataType.sameType(f.dataType) },
      s"write schema ${schema.simpleString} does not match the frame's ${df.schema.simpleString}")
    val columns = plan.output.zip(schema.fields).map { case (a, f) =>
      a.withName(f.name).withDataType(f.dataType).withNullability(f.nullable)
        .withMetadata(f.metadata)
    }
    val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
      session.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, dir)
    val conf = graft.table.FileIO.withLocalFs(session.sessionState.newHadoopConfWithOptions(options))
    // the staging caller keeps only the parquet files: a _SUCCESS marker
    // and its .crc would be two wasted creates
    conf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      FileFormatWriter.write(session, plan,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        committer, FileFormatWriter.OutputSpec(dir, Map.empty, columns), conf,
        partitionColumns = Nil, bucketSpec = None, statsTrackers = Seq(tracker),
        options = options)
    }
  }

  /** DISTINCT built directly as `Aggregate(output, output, plan)`.
    * `Dataset.dropDuplicates` plans a `Deduplicate` node that only the
    * optimizer's replace-operators batch (which runs BEFORE operator
    * optimization) rewrites to an aggregate — so a plan grafted into the
    * tree DURING operator optimization ([[graft.plans.GraftMvRewrite]]
    * splicing in a materialization's read) would reach physical planning
    * with `Deduplicate` intact and crash with an internal error. The
    * Aggregate form is what that rewrite produces anyway, and is valid at
    * every optimizer stage. */
  def distinctRows(df: DataFrame): DataFrame = {
    val plan = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed
    ofRows(df.sparkSession,
      org.apache.spark.sql.catalyst.plans.logical.Aggregate(plan.output, plan.output, plan))
  }

  /** The session's catalog manager (`sessionState` is `private[sql]`). */
  def catalogManager(spark: SparkSession): org.apache.spark.sql.connector.catalog.CatalogManager =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager

  /** A parquet DataFrame whose relation carries a BUCKET SPEC: file names
    * end in Spark's `_NNNNN` bucket suffix and the data was written
    * murmur3-hash-partitioned on `bucketCols`, so `FileSourceScanExec`
    * reports `HashPartitioning(bucketCols, nBuckets)` and joins /
    * aggregations on the bucket key need NO exchange on this side — the
    * storage-co-located join. (`HadoopFsRelation`/`LogicalRelation` are
    * `private[sql]`/internal, hence bridged.) */
  def bucketedParquetDf(spark: SparkSession, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      nBuckets: Int, bucketCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
    val cls = spark.asInstanceOf[classic.SparkSession]
    val index = new InMemoryFileIndex(cls,
      files.map(f => new org.apache.hadoop.fs.Path(f)), Map.empty, Some(schema))
    val rel = HadoopFsRelation(
      index,
      partitionSchema = new org.apache.spark.sql.types.StructType(),
      dataSchema = schema,
      bucketSpec = Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
        nBuckets, bucketCols, Nil)),
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(cls)
    ofRows(spark, LogicalRelation(rel))
  }
}
