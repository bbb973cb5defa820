package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loaders (see FIXTURES.md).
  *
  * The reference stack reads snapshot-versioned Iceberg/Parquet tables through a
  * catalog (reference `main.tf:794-802`); phase A of this engine reads the same
  * columnar Parquet layout directly through Spark's vectorized reader, which
  * preserves the two properties that matter at 100 TB: column pruning and
  * predicate pushdown into the scan (SURVEY.md §4).
  */
object Tables {
  /** When set (Verify's `SPARK_GRAFT_PLAN_MODE=server` battery), fixture
    * reads route through this catalog.namespace as graft tables instead of
    * raw parquet — every scan then plans its file list through the REST
    * catalog's /plan endpoint, so the full 156-query oracle battery
    * exercises the server-planned read path end-to-end (VERDICT r17 #4). */
  val CatalogConf = "spark.graft.verify.table-catalog"

  private def catalogPrefix(spark: SparkSession): Option[String] =
    scala.util.Try(spark.sessionState.conf.getConfString(CatalogConf))
      .toOption.filter(_.nonEmpty)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    catalogPrefix(spark) match {
      case Some(p) => spark.table(s"$p.$name")
      case None    => spark.read.parquet(s"$dir/$name.parquet")
    }

  /** `events.ts` has shipped as both parquet timestamp[ns] (rounds ≤8) and
    * timestamp[us] (round 9+ fixtures); adapt on the observed read schema so
    * either works.
    *   - ns: Spark 4 rejects ns parquet outright (PARQUET_TYPE_ILLEGAL), so
    *     read as raw long via `nanosAsLong` and truncate to µs — the same
    *     truncation DuckDB applies mapping ns → its µs TIMESTAMP. Integer
    *     `div` (not `/`): ns values ~1.7e18 exceed exact double range.
    *   - µs: Spark reads it as TIMESTAMP_NTZ (no UTC-adjusted flag); cast to
    *     TimestampType — the UTC session timezone makes the NTZ→LTZ cast
    *     instant-identical, matching DuckDB's µs TIMESTAMP. */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")

  /** `documents` repartitioned by doc_id — the parallelism normalizer for
    * CPU-heavy per-document work (shingle/token/bigram explosion, hashing):
    * a corpus that arrives as a handful of parquet row groups would run
    * that work on a handful of scan tasks, and AQE's size-based coalescing
    * can't see per-row CPU cost. The shuffled bytes are the raw text —
    * less than the exploded volume the downstream aggregation shuffles
    * anyway — and skewed long documents spread with it. Scan-shaped
    * consumers (project/filter only) should keep using [[documents]]:
    * for them the extra exchange is pure overhead. */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    spreadByDoc(documents(s, d))

  /** The normalizer itself, for frames already projected/filtered. An
    * EXPLICIT partition count (REPARTITION_BY_NUM): a bare
    * `repartition(col)` is advisory to AQE, whose size-based coalescing
    * would merge the small shuffle outputs right back onto a few tasks —
    * size-blind to the per-row CPU cost this exchange exists to spread. */
  def spreadByDoc(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      col("doc_id"))
  }

  /** CONDITIONAL parallelism normalizer (optimization guide §2.5 "input
    * skew: one huge unsplittable file ... repartition immediately after the
    * read"): repartition `df` by `key` to the session's shuffle parallelism
    * ONLY when its planned scan parallelism is materially below it.
    *
    * The fixture tables arrive as single-row-group parquet files, so every
    * scan — and everything pipelined into the scan stage: per-row expression
    * work, broadcast-join probes, partial aggregation — runs as ONE task no
    * matter how many cores the session has (measured: q01's whole decimal
    * aggregation single-threaded, q126's broadcast join + partial count
    * single-threaded). At production scale a table scan has thousands of
    * splits, the planned partition count exceeds the target, and this helper
    * is a NO-OP — the decision derives from the observed input layout, not
    * from a constant tuned for either environment (the [[spreadByDoc]]
    * normalizer is the unconditional cousin, justified separately by its
    * downstream explode volume).
    *
    * The repartition hashes an explicit KEY (never round-robin): keyless
    * `repartition(n)` pays a defensive local sort of the input per
    * SPARK-23207, single-threaded on exactly the narrow scan this exists to
    * spread. Callers pass a high-cardinality, skew-free key. The partition
    * count is pinned (REPARTITION_BY_NUM) so AQE's size-based coalescing
    * cannot merge the small-but-CPU-heavy outputs back onto a few tasks. */
  def spreadIfNarrow(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    // physical-plan partition count BEFORE any exchange: for a (filtered/
    // projected) scan this is the split count — planning-time only, no job.
    // CALLER CONTRACT: pass a scan-shaped frame (projections/filters only).
    // A frame containing an exchange would make toRdd execute AQE stages —
    // a real job at plan time. ENFORCED (ADVICE r18): a future call site
    // with a join/aggregate/exchange upstream fails loudly here instead of
    // silently running a job during query construction.
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val offending = qe.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e.nodeName
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a.nodeName
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.nodeName
    }
    require(offending.isEmpty,
      s"spreadIfNarrow requires a scan-shaped frame (projections/filters " +
        s"only); found: ${offending.mkString(", ")}")
    val planned = qe.toRdd.getNumPartitions
    if (planned * 2 <= target) df.repartition(target, key) else df
  }
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
