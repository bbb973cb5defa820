package graft

/** [[Mat]] — the master-gated materialization rule (ADVICE r15): local
  * masters localCheckpoint, cluster masters would persist with lineage
  * kept; release frees blocks immediately in both forms. */
class MatSpec extends SparkSpec {

  test("checkpoint materializes eagerly and release frees the blocks now") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Mat.checkpoint(spark.range(0, 1000).toDF("n"))
    // local master -> localCheckpoint: blocks exist the moment it returns
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "checkpoint left nothing materialized")
    assert(df.count() == 1000)
    Mat.release(df)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(!after.contains(_)),
      s"release left blocks behind: ${added.intersect(after)}")
    // released plans still answer (lineage replay or plan re-execution
    // must not be required for correctness here: the DataFrame is dead)
  }

  test("release on a never-materialized frame is a safe no-op") {
    val df = spark.range(5).toDF("n")
    Mat.release(df)
    assert(df.count() == 5)
  }

  test("release on a frame DERIVED from a checkpoint never kills the upstream blocks") {
    val cp = Mat.checkpoint(spark.range(0, 100).toDF("n"))
    try {
      Mat.release(cp.filter("n >= 10")) // derived root is a Filter -> must no-op
      // the checkpoint's truncated lineage CANNOT recompute: this count
      // only succeeds if the blocks are still alive
      assert(cp.count() == 100)
    } finally Mat.release(cp)
  }

  test("persistTruncated (cluster tier): plan re-rooted, rows copied, releasable") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val base = spark.range(0, 500).toDF("id")
      .selectExpr("id AS n", "concat('s', id) AS s").filter("n % 2 = 0")
    val p = Mat.persistTruncated(base)
    // the LOGICAL plan is truncated to a leaf relation — an iterative loop
    // must not nest one generation of plan per round for the analyzer
    assert(p.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      p.queryExecution.analyzed.nodeName)
    assert(p.count() == 250)
    // string column distinct-count catches the toRdd mutable-row-reuse
    // hazard: persisting uncopied rows stores per-partition duplicates
    assert(p.select("s").distinct().count() == 250)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "persistTruncated left nothing materialized")
    Mat.release(p)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(!after.contains(_)),
      s"release left blocks behind: ${added.intersect(after)}")
  }

  test("release on the reliable-checkpoint tier deletes the checkpoint files") {
    // the cluster + checkpoint-dir tier produces df.checkpoint(), whose
    // LogicalRDD wraps an RDD that was never persisted — release must free
    // the on-disk checkpoint directory, or a 50-round loop accretes one
    // directory per superseded generation (ADVICE r16)
    val cpRoot = java.nio.file.Files.createTempDirectory("graft-cp").toString
    val prior = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(cpRoot)
    try {
      val df = spark.range(0, 200).toDF("n").checkpoint()
      assert(df.count() == 200)
      val rddDirs = new java.io.File(cpRoot).listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.isDirectory)
      assert(rddDirs.nonEmpty, "reliable checkpoint wrote no rdd directory")
      Mat.release(df)
      val after = new java.io.File(cpRoot).listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.isDirectory)
      assert(after.isEmpty,
        s"release left checkpoint dirs behind: ${after.map(_.getName).mkString(",")}")
    } finally prior match {
      case Some(d) => spark.sparkContext.setCheckpointDir(d)
      case None =>
        // no public un-set: point the context at a scratch dir so later
        // suites never checkpoint into this test's deleted tree
        spark.sparkContext.setCheckpointDir(
          java.nio.file.Files.createTempDirectory("graft-cp-rest").toString)
    }
  }

  test("checkpoint result is usable across multiple consumers without recompute") {
    val df = Mat.checkpoint(spark.range(0, 100).toDF("n"))
    try {
      assert(df.count() == 100)
      assert(df.filter("n >= 50").count() == 50)
      assert(df.union(df).count() == 200)
    } finally Mat.release(df)
  }
}
