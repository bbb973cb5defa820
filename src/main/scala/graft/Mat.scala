package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Durable materialization of an intermediate DataFrame — the one rule for
  * every iterative / multi-consumer plan that must not replay its upstream
  * lineage per consumer (q41 band table, q62/q100 propagation loops, q119
  * edge list, the dedup-index probe).
  *
  * Master-gated (ADVICE r15), three tiers:
  *  - local master → `localCheckpoint`: executor-local blocks are safe
  *    when there is exactly one executor (no partial loss is survivable
  *    anyway), and lineage truncation keeps 50-round loop plans flat.
  *  - cluster + checkpoint dir set → reliable `checkpoint()`: truncated
  *    lineage AND executor-loss recovery from replicated storage.
  *  - cluster, no checkpoint dir → eager persist of a COPIED row RDD
  *    (`toRdd` reuses mutable rows), re-rooted as a `LogicalRDD` view so
  *    the LOGICAL plan is truncated — an iterative loop must not nest one
  *    full prior generation of plan per round for the analyzer — while
  *    the RDD DAG underneath stays intact, so a lost executor's blocks
  *    recompute instead of failing the query.
  */
object Mat {

  def checkpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.isLocal) df.localCheckpoint()
    else if (sc.getCheckpointDir.isDefined) df.checkpoint()
    else persistTruncated(df)
  }

  /** The no-checkpoint-dir cluster tier; package-visible so MatSpec can
    * exercise it on the local test master too. */
  private[graft] def persistTruncated(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.classic
    val cls = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val rows = cls.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    rows.count() // eager, matching localCheckpoint's materialize-now contract
    org.apache.spark.sql.graftglue.Bridge.internalDf(df.sparkSession, rows, df.schema)
  }

  /** Free the blocks behind the frame [[checkpoint]] RETURNED, the moment
    * it is superseded (iterative loops would otherwise accrete one
    * generation of blocks per round until the inter-query sweep /
    * ContextCleaner runs — ADVICE r15 on q62). Matches ONLY the plan
    * ROOT: a frame merely DERIVED from a checkpointed one no-ops, so a
    * careless release can never destroy a still-live upstream
    * checkpoint's blocks (its truncated lineage could not recompute
    * them).
    *
    * RELIABLE-CHECKPOINT tier caveat (ADVICE r17): unlike `unpersist`,
    * deleting the checkpoint directory is UNRECOVERABLE — the frame (and
    * anything lazily derived from it) must be fully materialized before
    * release, or the consumer fails hard instead of recomputing. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false) // local checkpoint / persist forms
        // reliable-checkpoint tier: the RDD was never persisted (unpersist
        // frees nothing) and its blocks live as FILES under the checkpoint
        // dir — delete them, or a 50-round loop accretes one directory per
        // superseded generation until ContextCleaner GC (ADVICE r16)
        l.rdd.getCheckpointFile.foreach { dir =>
          try {
            val p = new org.apache.hadoop.fs.Path(dir)
            p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          } catch {
            // best-effort semantics, but an invisible failure = an invisible
            // leak: a flaky FS across a 50-round loop accretes directories
            // with no signal (ADVICE r17) — log it
            case scala.util.control.NonFatal(e) =>
              org.slf4j.LoggerFactory.getLogger(getClass)
                .warn(s"Mat.release: failed to delete checkpoint dir $dir " +
                  s"(leaked until ContextCleaner GC): $e")
          }
        }
      case _ =>
        df.unpersist(blocking = false) // a directly persist()-ed frame
    }
}
