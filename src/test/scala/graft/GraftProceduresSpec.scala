package graft

/** `CALL graft.system.<proc>(...)` — the reference's Iceberg stored-procedure
  * surface as first-class SQL (reference `main.tf:803`; SURVEY.md §2.8). */
class GraftProceduresSpec extends SparkSpec {

  private def init(): Unit = {
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", SparkSpec.warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
  }

  test("CALL rollback_to_snapshot moves HEAD; set_current_snapshot moves it forward again") {
    init()
    spark.sql("CREATE TABLE graft.proc.rb (id BIGINT)")
    spark.sql("INSERT INTO graft.proc.rb VALUES (1)")
    spark.sql("INSERT INTO graft.proc.rb VALUES (2)")
    spark.sql("CALL graft.system.rollback_to_snapshot('proc.rb', 1)")
    assert(spark.sql("SELECT count(*) FROM graft.proc.rb").collect()(0).getLong(0) == 1)
    spark.sql("CALL graft.system.set_current_snapshot('proc.rb', 2)")
    assert(spark.sql("SELECT count(*) FROM graft.proc.rb").collect()(0).getLong(0) == 2)
  }

  test("CALL expire_snapshots with named args prunes history but keeps HEAD readable") {
    init()
    spark.sql("CREATE TABLE graft.proc.ex (id BIGINT)")
    (1 to 4).foreach(i => spark.sql(s"INSERT INTO graft.proc.ex VALUES ($i)"))
    spark.sql("CALL graft.system.expire_snapshots(`table` => 'proc.ex', keep_last => 2)")
    assert(spark.sql("SELECT count(*) FROM graft.proc.`ex$history`").collect()(0).getLong(0) == 2)
    assert(spark.sql("SELECT count(*) FROM graft.proc.ex").collect()(0).getLong(0) == 4)
    // age-based form: a future cutoff expires all but keep_last
    spark.sql("CALL graft.system.expire_snapshots(`table` => 'proc.ex', keep_last => 1, " +
      s"older_than => ${System.currentTimeMillis() + 3600000L})")
    assert(spark.sql("SELECT count(*) FROM graft.proc.`ex$history`").collect()(0).getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM graft.proc.ex").collect()(0).getLong(0) == 4)
  }

  test("CALL rewrite_data_files compacts, rewrite_manifests + remove_orphan_files run") {
    init()
    spark.sql("CREATE TABLE graft.proc.rw (id BIGINT)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO graft.proc.rw VALUES ($i)"))
    spark.sql("CALL graft.system.rewrite_data_files('proc.rw', 1)")
    assert(spark.sql("SELECT count(*) FROM graft.proc.`rw$files`").collect()(0).getLong(0) == 1)
    spark.sql("CALL graft.system.rewrite_manifests('proc.rw')")
    spark.sql("CALL graft.system.remove_orphan_files('proc.rw')")
    assert(spark.sql("SELECT sum(id) FROM graft.proc.rw").collect()(0).getLong(0) == 6)
    // zorder variant through the same procedure
    spark.sql("CALL graft.system.rewrite_data_files('proc.rw', 1, 'id')")
    assert(spark.sql("SELECT sum(id) FROM graft.proc.rw").collect()(0).getLong(0) == 6)
  }

  test("CALL create_changelog_view registers a queryable CDC view") {
    init()
    spark.sql("CREATE TABLE graft.proc.cdc (id BIGINT)")
    spark.sql("INSERT INTO graft.proc.cdc VALUES (1)")
    spark.sql("INSERT INTO graft.proc.cdc VALUES (2)")
    spark.sql("CALL graft.system.create_changelog_view('proc.cdc', 1, 2, 'cdc_changes')")
    val rows = spark.sql("SELECT id, _change_type FROM cdc_changes").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "insert")))
  }

  test("CALL materialize_agg + refresh_agg maintain a grouped aggregate through SQL") {
    init()
    spark.sql("CREATE TABLE graft.proc.magg_src (id BIGINT, grp STRING, amount DOUBLE) USING graft")
    spark.sql("INSERT INTO graft.proc.magg_src VALUES (1, 'a', 1.5), (2, 'a', 2.5), (3, 'b', 4.0)")
    spark.sql("CALL graft.system.materialize_agg('proc.magg_src', 'proc.magg', 'grp', 'amount')")
    val v0 = spark.sql("SELECT grp, cnt, CAST(sum_amount AS DOUBLE) FROM graft.proc.magg ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(v0 == Seq(("a", 2L, 4.0), ("b", 1L, 4.0)))
    spark.sql("INSERT INTO graft.proc.magg_src VALUES (4, 'b', 6.0), (5, 'c', 9.0)")
    spark.sql("DELETE FROM graft.proc.magg_src WHERE id = 1")
    spark.sql("CALL graft.system.refresh_agg('proc.magg_src', 'proc.magg')")
    val v1 = spark.sql("SELECT grp, cnt, CAST(sum_amount AS DOUBLE) FROM graft.proc.magg ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(v1 == Seq(("a", 1L, 2.5), ("b", 2L, 10.0), ("c", 1L, 9.0)), v1.toString)
  }

  test("CALL build_dedup_index + refresh_dedup_index + dedup_probe run the dedup loop in SQL") {
    init()
    import spark.implicits._
    spark.sql("CREATE TABLE graft.proc.corpus (doc_id BIGINT, text STRING) USING graft")
    spark.sql("INSERT INTO graft.proc.corpus VALUES " +
      "(1, 'the quick brown fox jumps over the lazy dog today'), " +
      "(2, 'completely different text about distributed query engines and scale')")
    spark.sql("CALL graft.system.build_dedup_index('proc.corpus', 'proc.corpus_idx', 'doc_id', 'text')")
    // the index is a queryable table: one row per (doc, band)
    assert(spark.sql("SELECT count(*) FROM graft.proc.corpus_idx").head().getLong(0) == 6)

    // corpus grows; the index catches up from the changelog span only
    spark.sql("INSERT INTO graft.proc.corpus VALUES " +
      "(3, 'another unrelated document mentioning spark catalyst and tungsten runtime')")
    spark.sql("CALL graft.system.refresh_dedup_index('proc.corpus', 'proc.corpus_idx', 'doc_id', 'text')")
    assert(spark.sql("SELECT count(*) FROM graft.proc.corpus_idx").head().getLong(0) == 9)

    // probe an arriving batch: 10 near-dups doc 1, 11 is novel
    Seq((10L, "the quick brown fox jumps over the lazy dog today"),
        (11L, "nothing here resembles anything stored in the corpus at all"))
      .toDF("doc_id", "text").createOrReplaceTempView("proc_batch")
    spark.sql("CALL graft.system.dedup_probe('proc.corpus_idx', 'proc_batch', " +
      "'doc_id', 'text', 'proc_dups', min_jaccard => 0.5D)")
    val pairs = spark.sql("SELECT new_id, dup_of FROM proc_dups ORDER BY new_id, dup_of")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((10L, 1L)), pairs)
  }

  test("CALL import_parquet registers an existing parquet dir as a table (migrate)") {
    init()
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "import-src-").toString
    spark.read.parquet(s"$sf/region.parquet").write.mode("overwrite").parquet(dir)
    spark.sql(s"CALL graft.system.import_parquet('proc.imported', '$dir')")
    assert(spark.sql("SELECT count(*) FROM graft.proc.imported").collect()(0).getLong(0) == 5)
  }

  test("CALL export_iceberg writes metadata import_iceberg round-trips (migration out and back)") {
    init()
    spark.sql("CREATE TABLE graft.proc.exp (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.proc.exp VALUES (1, 1.5), (2, 2.5)")
    spark.sql("INSERT INTO graft.proc.exp VALUES (3, 3.5)")
    // declared write order must survive export -> import (sort-order 1)
    graft.table.GraftTable.load(spark,
      s"${SparkSpec.warehouse}/proc/exp").writeOrderedBy("id")
    val out = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "export-ice-").toString
    spark.sql(s"CALL graft.system.export_iceberg('proc.exp', '$out')")
    // HadoopTables layout a foreign Iceberg reader expects
    assert(new java.io.File(s"$out/metadata/v1.metadata.json").exists())
    assert(new java.io.File(s"$out/metadata/version-hint.text").exists())
    // the exported tree round-trips through the independent importer
    spark.sql(s"CALL graft.system.import_iceberg('proc.exp_back', '$out')")
    assert(spark.sql("SELECT id FROM graft.proc.exp_back ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val back = graft.table.GraftTable.load(spark,
      s"${SparkSpec.warehouse}/proc/exp_back")
    assert(back.log.current.properties.get("write.sort-by").contains("id"))
  }

  test("CALL create_branch / create_tag / drop_ref manage refs via SQL") {
    init()
    spark.sql("CREATE TABLE graft.proc.br (id BIGINT)")
    spark.sql("INSERT INTO graft.proc.br VALUES (1)")
    spark.sql("CALL graft.system.create_branch('proc.br', 'audit', 1)")
    spark.sql("CALL graft.system.create_tag('proc.br', 'v1', 1)")
    val refs = spark.sql("SELECT name, type FROM graft.proc.`br$refs` ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs == Seq(("audit", "branch"), ("v1", "tag")))
    spark.sql("CALL graft.system.drop_ref('proc.br', 'v1')")
    assert(spark.sql("SELECT count(*) FROM graft.proc.`br$refs`").collect()(0).getLong(0) == 1)
  }

  test("CALL create_tag without a version pins the current snapshot; SQL reads refs by name") {
    init()
    spark.sql("CREATE TABLE graft.proc.refv (id BIGINT)")
    spark.sql("INSERT INTO graft.proc.refv VALUES (1)")              // v1
    spark.sql("CALL graft.system.create_tag('proc.refv', 'before')") // defaults to v1
    spark.sql("INSERT INTO graft.proc.refv VALUES (2)")              // v2
    // VERSION AS OF accepts the ref name, matching the Scala readRef path
    assert(spark.sql("SELECT count(*) FROM graft.proc.refv VERSION AS OF 'before'")
      .collect()(0).getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM graft.proc.refv").collect()(0).getLong(0) == 2)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.proc.refv VERSION AS OF 'nosuch'").collect()
    }
    assert(e.getMessage.contains("nosuch"))
  }

  test("CALL rewrite_data_files(where => ...) compacts only matching files; MOR deletes materialize") {
    init()
    spark.sql("DROP TABLE IF EXISTS graft.proc.rw")
    spark.sql("CREATE TABLE graft.proc.rw (id BIGINT, part STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    // two disjoint 'partitions' landed as separate commits (distinct files)
    spark.sql("INSERT INTO graft.proc.rw SELECT id, 'hot' FROM range(100)")
    spark.sql("INSERT INTO graft.proc.rw SELECT id + 100, 'cold' FROM range(100)")
    spark.sql("DELETE FROM graft.proc.rw WHERE id = 5")  // MOR positional delete in 'hot'
    val path = s"${SparkSpec.warehouse}/proc/rw"
    val before = graft.table.GraftTable.load(spark, path).log.current
    val coldBefore = before.files.map(_.path).toSet
    spark.sql("CALL graft.system.rewrite_data_files(`table` => 'proc.rw', " +
      "target_files => 1, `where` => \"part = 'hot'\")")
    val after = graft.table.GraftTable.load(spark, path).log.current
    assert(after.operation == "rewrite")
    // cold files carried over by reference; hot files replaced
    val carried = after.files.map(_.path).toSet intersect coldBefore
    assert(carried.nonEmpty, "untouched files must carry over")
    assert(after.files.map(_.path).toSet != coldBefore)
    // rows exact: the deleted row stays deleted (materialized in the rewrite)
    assert(spark.sql("SELECT count(*) FROM graft.proc.rw").collect()(0).getLong(0) == 199)
    assert(spark.sql("SELECT count(*) FROM graft.proc.rw WHERE id = 5")
      .collect()(0).getLong(0) == 0)
    // a rewrite with no matching rows is a no-op commit-wise
    val v = after.version
    spark.sql("CALL graft.system.rewrite_data_files(`table` => 'proc.rw', " +
      "target_files => 1, `where` => \"part = 'nope'\")")
    assert(graft.table.GraftTable.load(spark, path).log.currentVersion == v)
  }

  test("CALL ancestors_of registers the chain view; compute_table_stats aliases analyze") {
    init()
    spark.sql("CREATE TABLE graft.proc.anc (id BIGINT)")
    spark.sql("INSERT INTO graft.proc.anc VALUES (1)")
    spark.sql("INSERT INTO graft.proc.anc VALUES (2)")
    spark.sql("CALL graft.system.ancestors_of('proc.anc', 'anc_chain')")
    val rows = spark.sql("SELECT version, operation FROM anc_chain").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.map(_._1) == Seq(2L, 1L, 0L), "newest first, back to the root")
    spark.sql("CALL graft.system.compute_table_stats('proc.anc')")
    val t = graft.table.GraftTable.load(spark, s"${SparkSpec.warehouse}/proc/anc")
    assert(t.log.current.operation == "analyze")
    assert(t.log.current.properties.contains("stats.ndv.id"))
    assert(t.log.current.properties.contains("stats.hist.id"))
  }

  test("unknown procedure fails to resolve") {
    init()
    val e = intercept[Exception] { spark.sql("CALL graft.system.nope('x')") }
    assert(e.getMessage.contains("nope"))
  }

  test("the system namespace lists exactly the supported procedures") {
    init()
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val names = cat.listProcedures(Array("system")).map(_.name()).toSet
    assert(names == Set(
      "add_partition_field", "analyze_table", "ancestors_of", "build_dedup_index",
      "cherrypick_snapshot", "compute_table_stats", "create_branch",
      "create_changelog_view", "create_tag", "dedup_probe", "deregister_agg_rewrite",
      "drop_partition_field", "drop_ref", "expire_snapshots", "export_iceberg",
      "fast_forward", "import_iceberg", "import_parquet", "materialize_agg",
      "publish_changes", "refresh_agg", "refresh_dedup_index", "refresh_stats",
      "register_agg_rewrite", "remove_orphan_files", "rewrite_data_files",
      "rewrite_manifests", "rewrite_position_delete_files", "rewrite_small_files",
      "rollback_to_snapshot", "rollback_to_timestamp", "set_current_snapshot"),
      names.toSeq.sorted.mkString(", "))
  }

  test("write-audit-publish: spark.wap.id stages, publish_changes releases, dup publish rejected") {
    init()
    spark.sql("CREATE TABLE graft.proc.wap (id BIGINT) " +
      "TBLPROPERTIES ('write.wap.enabled' = 'true')")
    spark.sql("INSERT INTO graft.proc.wap VALUES (1)")
    // stage: the write commits a DETACHED snapshot — readers see nothing new
    spark.conf.set("spark.wap.id", "audit-1")
    try {
      spark.sql("INSERT INTO graft.proc.wap VALUES (2), (3)")
      assert(spark.sql("SELECT count(*) FROM graft.proc.wap").collect()(0).getLong(0) == 1,
        "staged rows must be invisible before publish")
      val t = graft.table.GraftTable.load(spark, s"${SparkSpec.warehouse}/proc/wap")
      val staged = t.log.listVersions.map(t.log.snapshot)
        .filter(_.summary.get("wap.id").contains("audit-1"))
      assert(staged.size == 1 && !staged.head.mainLineage)
      // the AUDIT step reads the staged snapshot directly
      val audited = spark.sql(
        s"SELECT count(*) FROM graft.proc.wap VERSION AS OF ${staged.head.version}")
        .collect()(0).getLong(0)
      assert(audited == 3)
      // an INDEPENDENT append between stage and publish must survive
      spark.conf.unset("spark.wap.id")
      spark.sql("INSERT INTO graft.proc.wap VALUES (10)")
      spark.sql("CALL graft.system.publish_changes('proc.wap', 'audit-1')")
      val ids = spark.sql("SELECT id FROM graft.proc.wap ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 2L, 3L, 10L))
      // the publish commit is summary-stamped and visible in $snapshots
      val pub = spark.sql(
        "SELECT summary['published-wap-id'] FROM graft.proc.`wap$snapshots` " +
        "WHERE operation = 'cherrypick'").collect()
      assert(pub.length == 1 && pub(0).getString(0) == "audit-1")
      // duplicate publish is rejected; unknown wap id is rejected
      val dup = intercept[Exception] {
        spark.sql("CALL graft.system.publish_changes('proc.wap', 'audit-1')") }
      assert(dup.getMessage.contains("already published"))
      val nope = intercept[Exception] {
        spark.sql("CALL graft.system.publish_changes('proc.wap', 'ghost')") }
      assert(nope.getMessage.contains("no staged snapshot"))
      // staging an OVERWRITE is refused (Iceberg replays appends only)
      spark.conf.set("spark.wap.id", "audit-2")
      val ow = intercept[Exception] {
        spark.sql("INSERT OVERWRITE graft.proc.wap VALUES (99)") }
      assert(ow.getMessage.contains("only appends"))
      // without write.wap.enabled the session wap id is ignored
      spark.sql("CREATE TABLE graft.proc.nowap (id BIGINT)")
      spark.sql("INSERT INTO graft.proc.nowap VALUES (7)")
      assert(spark.sql("SELECT count(*) FROM graft.proc.nowap")
        .collect()(0).getLong(0) == 1)
    } finally spark.conf.unset("spark.wap.id")
  }

  /** AQE coalescing folds tiny partitioned writes into one file; disable it
    * around inserts so the layout splits and pruning is observable. */
  private def noCoalesce[A](body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, old)
  }

  test("CALL refresh_stats: legacy-form stats regain pruning, metadata-only") {
    init()
    import graft.table.GraftTable
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    spark.sql(
      "CREATE TABLE graft.proc.rs (id BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    noCoalesce { spark.sql("""INSERT INTO graft.proc.rs
      SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0)
      FROM range(384)""") }
    val t = GraftTable.load(spark, s"${SparkSpec.warehouse}/proc/rs")
    val head = t.log.current
    val all = head.files
    assert(all.size >= 2, s"need multiple files, got ${all.size}")
    val filt = Seq(GreaterThanOrEqual("ts",
      java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
    val freshPruned = t.pruneFiles(head, filt).map(_.path).toSet
    assert(freshPruned.size < all.size, "fresh table must prune the ts range")
    // DOWNGRADE to the legacy pre-r17 stat forms the read-compat shim
    // refuses: space-separator session-zone timestamp renderings and ISO
    // transform dates (what pre-r17 writers recorded)
    val degraded = all.map { f =>
      f.copy(stats = f.stats.map {
        case (k, st) if k == "ts" =>
          k -> st.copy(min = st.min.replace('T', ' ').takeWhile(_ != '.'),
            max = st.max.replace('T', ' ').takeWhile(_ != '.'))
        case (k, st) if k == "days(ts)" =>
          k -> st.copy(
            min = java.time.LocalDate.ofEpochDay(st.min.toLong).toString,
            max = java.time.LocalDate.ofEpochDay(st.max.toLong).toString,
            dataType = "string")
        case kv => kv
      })
    }
    t.log.commit(head.version, v => head.copy(version = v,
      parent = head.version, timestampMs = System.currentTimeMillis(),
      operation = "test-downgrade", files = degraded))
    val t2 = GraftTable.load(spark, s"${SparkSpec.warehouse}/proc/rs")
    assert(t2.pruneFiles(t2.log.current, filt).size == all.size,
      "legacy stat forms must make NO pruning claim (read-compat shim)")
    // the cure: one stats-only pass, zero data writes
    spark.sql("CALL graft.system.refresh_stats('proc.rs')")
    val t3 = GraftTable.load(spark, s"${SparkSpec.warehouse}/proc/rs")
    val rHead = t3.log.current
    assert(rHead.operation == "refresh-stats")
    // identical data-file paths — nothing was rewritten
    assert(rHead.files.map(_.path).sorted == all.map(_.path).sorted)
    // sequence numbers survive (equality-delete scoping depends on them)
    assert(rHead.files.map(f => f.path -> f.seq).toMap ==
      all.map(f => f.path -> f.seq).toMap)
    // pruning == the freshly-written table's, canonical forms back
    assert(t3.pruneFiles(rHead, filt).map(_.path).toSet == freshPruned)
    assert(rHead.files.forall(_.stats("ts").min.contains('T')))
    assert(rHead.files.forall(f =>
      scala.util.Try(f.stats("days(ts)").min.toLong).isSuccess))
    // and results stay exact
    assert(spark.sql(
      "SELECT count(*) FROM graft.proc.rs WHERE ts >= timestamp'2024-01-15 00:00:00'")
      .collect()(0).getLong(0) == 48)
  }

  test("CALL refresh_stats: entries without bucket value sets gain them") {
    init()
    import graft.table.GraftTable
    import org.apache.spark.sql.sources.EqualTo
    spark.sql(
      "CREATE TABLE graft.proc.vs (id BIGINT, v DOUBLE) PARTITIONED BY (bucket(128, id))")
    noCoalesce { spark.sql(
      "INSERT INTO graft.proc.vs SELECT id, CAST(id AS DOUBLE) FROM range(4000)") }
    val t = GraftTable.load(spark, s"${SparkSpec.warehouse}/proc/vs")
    val head = t.log.current
    val all = head.files
    assert(all.forall(_.stats("bucket(128,id)").values.isDefined))
    // simulate a pre-values writer: strip every set
    val stripped = all.map(f => f.copy(stats =
      f.stats.map { case (k, st) => k -> st.copy(values = None) }))
    t.log.commit(head.version, v => head.copy(version = v,
      parent = head.version, timestampMs = System.currentTimeMillis(),
      operation = "test-strip", files = stripped))
    val t2 = GraftTable.load(spark, s"${SparkSpec.warehouse}/proc/vs")
    val eq = Seq(EqualTo("id", 1234L))
    val kept = t2.pruneFiles(t2.log.current, eq).size
    assert(kept == all.size, "range-only scattered buckets should keep everything")
    spark.sql("CALL graft.system.refresh_stats('proc.vs')")
    val t3 = GraftTable.load(spark, s"${SparkSpec.warehouse}/proc/vs")
    val rHead = t3.log.current
    assert(rHead.files.map(_.path).sorted == all.map(_.path).sorted)
    assert(rHead.files.forall(_.stats("bucket(128,id)").values.isDefined),
      "refresh_stats must record the value sets")
    assert(t3.pruneFiles(rHead, eq).size * 4 <= all.size,
      "value sets must restore scattered-bucket equality pruning")
    assert(spark.sql("SELECT v FROM graft.proc.vs WHERE id = 1234")
      .collect()(0).getDouble(0) == 1234.0)
  }

  test("CALL refresh_stats: re-keys stats to CURRENT names after a rename") {
    init()
    import graft.table.GraftTable
    import org.apache.spark.sql.sources.LessThan
    spark.sql("CREATE TABLE graft.proc.rn (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.proc.rn SELECT id, id FROM range(100)")
    spark.sql("INSERT INTO graft.proc.rn SELECT id, id + 10000 FROM range(100)")
    spark.sql("ALTER TABLE graft.proc.rn RENAME COLUMN v TO w")
    val t = GraftTable.load(spark, s"${SparkSpec.warehouse}/proc/rn")
    val head = t.log.current
    assert(head.files.size >= 2)
    val filt = Seq(LessThan("w", 500L))
    // write-time-name stats don't match the renamed column: no claim
    assert(t.pruneFiles(head, filt).size == head.files.size)
    spark.sql("CALL graft.system.refresh_stats('proc.rn')")
    val t2 = GraftTable.load(spark, s"${SparkSpec.warehouse}/proc/rn")
    val rHead = t2.log.current
    assert(rHead.files.map(_.path).sorted == head.files.map(_.path).sorted)
    assert(t2.pruneFiles(rHead, filt).size < rHead.files.size,
      "refreshed stats must prune under the CURRENT column name")
    assert(spark.sql("SELECT count(*) FROM graft.proc.rn WHERE w < 500")
      .collect()(0).getLong(0) == 100)
  }

  test("CALL refresh_stats: a DROPPED column's stats never shadow a column renamed onto its name") {
    init()
    import graft.table.GraftTable
    import org.apache.spark.sql.sources.GreaterThan
    // a (BIGINT, small values) is dropped; b (BIGINT, huge values) is then
    // renamed to "a". A refresh that passed the dead column's stats through
    // by name would record a=[0,99] for files whose CURRENT "a" is 10000+ —
    // and a filter a > 5000 would wrongly prune every file.
    spark.sql("CREATE TABLE graft.proc.dc (a BIGINT, b BIGINT)")
    spark.sql("INSERT INTO graft.proc.dc SELECT id, id + 10000 FROM range(100)")
    spark.sql("ALTER TABLE graft.proc.dc DROP COLUMN a")
    spark.sql("ALTER TABLE graft.proc.dc RENAME COLUMN b TO a")
    spark.sql("CALL graft.system.refresh_stats('proc.dc')")
    val t = GraftTable.load(spark, s"${SparkSpec.warehouse}/proc/dc")
    val head = t.log.current
    val pruned = t.pruneFiles(head, Seq(GreaterThan("a", 5000L)))
    assert(pruned.size == head.files.size,
      "dead column's stats shadowed the renamed column and mis-pruned")
    assert(spark.sql("SELECT count(*) FROM graft.proc.dc WHERE a > 5000")
      .collect()(0).getLong(0) == 100)
  }
}
