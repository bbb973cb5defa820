package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.table.{CommitConflictException, GraftTable}

class GraftTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory(Paths.get("target"), "graft-tbl-").toString

  private def mk(rows: Seq[(Long, String, Double)], path: String = tmpDir()): GraftTable =
    GraftTable.create(spark, path, rows.toDF("id", "name", "amount"))

  test("create + read round-trips rows and schema") {
    val t = mk(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    val got = t.read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    assert(t.schema.fieldNames.toSeq == Seq("id", "name", "amount"))
  }

  test("append adds rows and a new snapshot; old version still readable") {
    val t = mk(Seq((1L, "a", 10.0)))
    t.append(Seq((2L, "b", 20.0)).toDF("id", "name", "amount"))
    assert(t.read.count() == 2)
    assert(t.readVersion(0).count() == 1)
    assert(t.log.currentVersion == 1)
  }

  test("time travel invariant: read@v1 plus changelog diff equals read@v2") {
    val t = mk(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    t.append(Seq((3L, "c", 30.0)).toDF("id", "name", "amount"))
    t.delete(col("id") === 1L)
    val v0 = t.readVersion(0)
    val v2 = t.readVersion(2)
    val log = t.changelog(0, 2)
    val inserted = log.filter($"_change_type" === "insert").drop("_change_type")
    val deleted = log.filter($"_change_type" === "delete").drop("_change_type")
    // v0 ∪ inserts ∖ deletes == v2 (bag semantics)
    val rebuilt = v0.unionAll(inserted).exceptAll(deleted)
    assert(rebuilt.exceptAll(v2).count() == 0 && v2.exceptAll(rebuilt).count() == 0)
  }

  test("timestamp-as-of resolves to the latest snapshot at that time") {
    val t = mk(Seq((1L, "a", 10.0)))
    val ts0 = t.log.current.timestampMs
    Thread.sleep(5)
    t.append(Seq((2L, "b", 20.0)).toDF("id", "name", "amount"))
    assert(t.readAsOf(ts0).count() == 1)
    assert(t.readAsOf(System.currentTimeMillis()).count() == 2)
  }

  test("overwrite replaces content; history records both operations") {
    val t = mk(Seq((1L, "a", 10.0)))
    t.overwrite(Seq((9L, "z", 90.0)).toDF("id", "name", "amount"))
    assert(t.read.collect().map(_.getLong(0)).toSeq == Seq(9L))
    val ops = t.history.orderBy("version").collect().map(_.getString(3)).toSeq
    assert(ops == Seq("create", "overwrite"))
  }

  test("rollback moves HEAD; snapshots metadata table sees all versions") {
    val t = mk(Seq((1L, "a", 10.0)))
    t.append(Seq((2L, "b", 20.0)).toDF("id", "name", "amount"))
    t.rollbackTo(0)
    assert(t.read.count() == 1)
    assert(t.snapshotsMeta.count() == 2)
    assert(t.history.filter($"is_current").collect()(0).getLong(0) == 0L)
  }

  test("tags and branches: create, read, fast-forward, drop") {
    val t = mk(Seq((1L, "a", 10.0)))
    t.createTag("v0-tag")
    t.append(Seq((2L, "b", 20.0)).toDF("id", "name", "amount"))
    t.createBranch("dev")
    assert(t.readRef("v0-tag").count() == 1)
    assert(t.readRef("dev").count() == 2)
    t.append(Seq((3L, "c", 30.0)).toDF("id", "name", "amount"))
    t.fastForward("dev")
    assert(t.readRef("dev").count() == 3)
    assert(t.refsMeta.count() == 2)
    t.dropRef("dev")
    assert(t.refsMeta.count() == 1)
  }

  test("branch writes: append to a branch leaves main untouched") {
    val t = mk(Seq((1L, "a", 10.0)))
    t.createBranch("audit")
    t.appendToBranch("audit", Seq((2L, "b", 20.0)).toDF("id", "name", "amount"))
    assert(t.read.count() == 1, "main must not see branch writes")
    assert(t.readRef("audit").count() == 2)
    t.appendToBranch("audit", Seq((3L, "c", 30.0)).toDF("id", "name", "amount"))
    assert(t.readRef("audit").count() == 3)
    // main keeps committing independently
    t.append(Seq((9L, "z", 90.0)).toDF("id", "name", "amount"))
    assert(t.read.count() == 2)
    intercept[IllegalArgumentException] {
      t.createTag("v-tag"); t.appendToBranch("v-tag",
        Seq((4L, "d", 40.0)).toDF("id", "name", "amount"))
    }
  }

  test("partitions metadata table groups files by partition value") {
    val path = tmpDir()
    val df = (1L to 40L).map(i => (i, s"g${i % 4}", i * 1.0)).toDF("id", "name", "amount")
    val t = GraftTable.create(spark, path, df,
      properties = Map("write.partition-by" -> "name"))
    val parts = t.partitionsMeta.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(parts.values.sum == 40)
    assert(parts.keySet.subsetOf(Set("g0", "g1", "g2", "g3", "mixed")))
  }

  test("cherrypick re-applies an append's files onto the current head") {
    val t = mk(Seq((1L, "a", 10.0)))
    t.append(Seq((2L, "b", 20.0)).toDF("id", "name", "amount")) // v1
    t.rollbackTo(0)
    t.append(Seq((3L, "c", 30.0)).toDF("id", "name", "amount")) // v2 (from v0)
    t.cherrypick(1)
    assert(t.read.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("expire_snapshots never deletes files referenced by live snapshots") {
    val t = mk(Seq((1L, "a", 10.0)))
    t.append(Seq((2L, "b", 20.0)).toDF("id", "name", "amount"))
    t.delete(col("id") === 1L)
    val expired = t.expireSnapshots(keepLast = 1)
    assert(expired.nonEmpty)
    // current snapshot still fully readable after GC
    assert(t.read.collect().map(_.getLong(0)).toSeq == Seq(2L))
    intercept[IllegalArgumentException](t.readVersion(0))
  }

  test("expireSnapshotsOlderThan expires by age but always retains the newest") {
    val t = mk(Seq((1L, "a", 10.0)))
    t.append(Seq((2L, "b", 20.0)).toDF("id", "name", "amount"))
    val cutoff = System.currentTimeMillis() + 3600_000 // everything is "old"
    t.append(Seq((3L, "c", 30.0)).toDF("id", "name", "amount"))
    val expired = t.expireSnapshotsOlderThan(cutoff, retainLast = 2)
    // newest 2 survive the age rule; the root is expired
    assert(expired == Seq(0L), s"expired=$expired")
    assert(t.read.count() == 3)
    intercept[IllegalArgumentException](t.readVersion(0))
    assert(t.readVersion(1).count() == 2)
    // a cutoff in the past expires nothing
    assert(t.expireSnapshotsOlderThan(0L).isEmpty)
  }

  test("remove_orphan_files deletes unreferenced data files only") {
    val t = mk(Seq((1L, "a", 10.0)))
    // plant an orphan
    val orphan = Paths.get(t.path, "data", "orphan.parquet")
    Files.writeString(orphan, "junk")
    val removed = t.removeOrphanFiles()
    assert(removed.contains("orphan.parquet"))
    assert(t.read.count() == 1)
  }

  test("rewrite_data_files compacts to the target file count, same rows") {
    val t = mk((1L to 50L).map(i => (i, s"n$i", i * 1.0)))
    t.append((51L to 100L).map(i => (i, s"n$i", i * 1.0)).toDF("id", "name", "amount"))
    val before = t.read.orderBy("id").collect()
    t.rewriteDataFiles(target = 1)
    assert(t.log.current.files.size == 1)
    val after = t.read.orderBy("id").collect()
    assert(before.sameElements(after))
  }

  test("schema evolution: add, rename (ID-mapped, no rewrite), drop") {
    val t = mk(Seq((1L, "a", 10.0)))
    val filesBefore = t.log.current.files.map(_.path).toSet
    t.addColumn("flag", StringType)
    t.renameColumn("name", "label")
    assert(t.log.current.files.map(_.path).toSet == filesBefore, "evolution must not rewrite data")
    val r = t.read.collect()(0)
    assert(r.getAs[String]("label") == "a")       // renamed, old file mapped by id
    assert(r.getAs[String]("flag") == null)       // added, null-filled
    // new writes use the new names; old files still read correctly
    t.append(Seq((2L, "b", 20.0, "x")).toDF("id", "label", "amount", "flag"))
    val byId = t.read.collect().map(r2 => r2.getAs[Long]("id") -> r2.getAs[String]("label")).toMap
    assert(byId == Map(1L -> "a", 2L -> "b"))
    t.dropColumn("flag")
    assert(t.schema.fieldNames.toSeq == Seq("id", "label", "amount"))
    assert(t.read.columns.toSeq == Seq("id", "label", "amount"))
  }

  test("import registers parquet in place without copying") {
    val src = tmpDir()
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").write.mode("overwrite").parquet(src)
    val t = GraftTable.importParquet(spark, src, tmpDir())
    assert(t.read.count() == 2)
    assert(t.log.current.files.forall(_.path.startsWith("/")), "files referenced absolutely")
    assert(t.log.current.operation == "import")
    // orphan GC must not touch imported files
    t.removeOrphanFiles()
    assert(t.read.count() == 2)
  }

  test("import stats files whose names the scan renders percent-encoded") {
    val src = tmpDir()
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(src)
    val part = new java.io.File(src).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    // `_metadata.file_path` renders a space as %20; a literal '+' must not
    // decode to a space
    Files.copy(part, Paths.get(src, "doc+1.parquet"))
    Files.move(part, Paths.get(src, "part one.parquet"))
    val t = GraftTable.importParquet(spark, src, tmpDir())
    val files = t.log.current.files
    assert(files.map(f => new java.io.File(f.path).getName).toSet ==
      Set("part one.parquet", "doc+1.parquet"), files.map(_.path))
    assert(files.forall(f => f.rows == 2L && f.bytes == Files.size(Paths.get(f.path))))
    assert(t.read.count() == 4)
  }

  test("zorder rewrite survives a file that is all-null in the zorder column") {
    val t = mk(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    // this file's `amount` is entirely null -> its stats entry is the
    // all-null MARKER (empty bounds); the z-range derivation must skip it
    // instead of failing the whole compaction on "".toDouble (review r17)
    t.append(spark.sql("SELECT CAST(3 AS BIGINT) AS id, 'c' AS name, " +
      "CAST(NULL AS DOUBLE) AS amount"))
    t.rewriteDataFilesZOrder(1, Seq("amount"))
    assert(t.read.count() == 3)
    assert(t.read.filter("amount IS NULL").count() == 1)
  }

  test("timestamp pruning survives a session-zone change between write and read") {
    // write under one session zone, filter under a hostile one: the
    // canonical UTC bounds must prune the same files and lose no rows
    // (pre-canonicalization, `cast(ts as string)` bounds were zone-bound)
    val prior = spark.conf.get("spark.sql.session.timeZone")
    val dir = tmpDir()
    try {
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati") // +14
      val t = GraftTable.create(spark, dir, Seq(
        (1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
        (2L, java.sql.Timestamp.valueOf("2026-01-01 06:00:00"))).toDF("id", "ts"))
      t.append(Seq(
        (3L, java.sql.Timestamp.valueOf("2026-06-01 00:00:00")),
        (4L, java.sql.Timestamp.valueOf("2026-06-01 06:00:00"))).toDF("id", "ts"))
      // the wall-clock strings above were interpreted in +14; capture the
      // instants so the read side filters on the same points in time
      val instants = t.read.orderBy("id").collect()
        .map(_.getAs[java.sql.Timestamp]("ts")).toSeq

      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles") // -8
      val t2 = GraftTable.load(spark, dir)
      // equality at each file's exact bound: correct rows, and only the
      // owning file survives pruning
      instants.zipWithIndex.foreach { case (ts, i) =>
        val flt = org.apache.spark.sql.sources.EqualTo("ts", ts)
        val pruned = t2.pruneFiles(t2.log.current, Seq(flt))
        assert(pruned.size == 1, s"row $i: pruned to ${pruned.size} files")
        val rows = t2.read.filter(col("ts") === ts).collect()
        assert(rows.map(_.getLong(0)).toSeq == Seq(i + 1L), s"row $i lost")
      }
      // a range above the January rows prunes to the two June files
      val mid = org.apache.spark.sql.sources.GreaterThan("ts", instants(1))
      assert(t2.pruneFiles(t2.log.current, Seq(mid)).size == 2)
      assert(t2.read.filter(col("ts") > instants(1)).count() == 2)
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("bucket(n, ts) equality never mis-prunes across a session-zone change") {
    // bucket's xxhash runs over the session-zone string rendering: a
    // reader in a different zone hashes the same instant to a different
    // bucket, so bucket pruning on timestamp sources must make NO claim
    val prior = spark.conf.get("spark.sql.session.timeZone")
    val dir = tmpDir()
    try {
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
      val df = spark.sql(
        """SELECT CAST(id AS BIGINT) AS id,
           timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts
           FROM range(64)""")
      // no AQE coalescing: the tiny fixture must fan out to several files
      // with narrow per-file bucket ranges, or nothing is prunable and the
      // test is vacuous
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val t = try GraftTable.create(spark, dir, df,
          Map("write.partition-by" -> "bucket(8,ts)"))
        finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      assert(t.log.current.files.size >= 2, "fixture did not fan out")
      val instants = t.read.orderBy("id").collect()
        .map(_.getAs[java.sql.Timestamp]("ts")).toSeq
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val t2 = GraftTable.load(spark, dir)
      // every equality lookup's PRUNED file set still contains its row
      // (asserted through pruneFiles itself — wrongful exclusion through
      // the zone-dependent bucket hash would drop the owning file)
      Seq(0, 17, 63).foreach { i =>
        val pruned = t2.pruneFiles(t2.log.current,
          Seq(org.apache.spark.sql.sources.EqualTo("ts", instants(i))))
        assert(pruned.nonEmpty, s"row $i: everything pruned")
        val ids = pruned.flatMap(f => spark.read.parquet(
            graft.table.GraftTable.resolveUnder(dir, f.path))
          .filter(col("ts") === instants(i)).collect().map(_.getLong(0)))
        assert(ids == Seq(i.toLong), s"row $i lost by pruning: got $ids")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("bucket(n, ts) v2: zone-free layout prunes equality AND co-locates across zones") {
    // VERDICT r17 #3: new tables (transform-version 2, stamped at create)
    // hash unix_micros — the same instant buckets identically from ANY
    // session zone, so cross-zone writers co-locate and equality PRUNES
    // (the legacy string hash got a no-claim guard instead)
    val prior = spark.conf.get("spark.sql.session.timeZone")
    val dir = tmpDir()
    try {
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati") // +14
      def batch(off: Int) = spark.sql(
        s"""SELECT CAST(id AS BIGINT) + $off AS id,
           timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts
           FROM range(64)""")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val t = try GraftTable.create(spark, dir, batch(0),
          Map("write.partition-by" -> "bucket(8,ts)"))
        finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      assert(t.log.current.properties.get(
        graft.table.PartitionTransform.VersionKey).contains("2"))
      assert(t.log.current.files.size >= 2, "fixture did not fan out")
      val instants = t.read.filter($"id" < 64).orderBy("id").collect()
        .map(_.getAs[java.sql.Timestamp]("ts")).toSeq

      // a HOSTILE-ZONE writer appends the SAME INSTANTS (ids offset +64) —
      // built from the captured java.sql.Timestamp values, which carry the
      // instant itself (re-parsing the wall-clock string would silently
      // shift it by the zone delta and test nothing)
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles") // -8
      val t2 = GraftTable.load(spark, dir)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try t2.append(instants.zipWithIndex.map { case (ts, i) => (i + 64L, ts) }
        .toDF("id", "ts"))
      finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")

      // CO-LOCATION: both zones' copies of one instant live in files whose
      // bucket(8,ts) stat ranges overlap on the same v2 bucket value —
      // prune by equality and BOTH ids must come back from the kept files
      val t3 = GraftTable.load(spark, dir)
      val all = t3.log.current.files
      // per-file bucket stats are min/max RANGES over hash-scattered
      // values, so not every bucket is outside every file's span — demand
      // that SOME equality prunes (zone-free stats make real claims) and
      // that EVERY equality keeps both zones' copies (soundness +
      // co-location: the same instant hashed to the same bucket from both
      // sessions, so the files that survive pruning contain both rows)
      var prunedSome = false
      (0 until 64 by 7).foreach { i =>
        val pruned = t3.pruneFiles(t3.log.current,
          Seq(org.apache.spark.sql.sources.EqualTo("ts", instants(i))))
        if (pruned.size < all.size) prunedSome = true
        val ids = pruned.flatMap(f => spark.read.parquet(
            graft.table.GraftTable.resolveUnder(dir, f.path))
          .filter(col("ts") === instants(i)).collect().map(_.getLong(0))).sorted
        assert(ids == Seq(i.toLong, i + 64L), s"row $i: cross-zone copies not co-located/kept: $ids")
      }
      assert(prunedSome, "v2 bucket equality never pruned anything")
      // and the SQL read stays exact
      assert(t3.read.filter(col("ts") === instants(5)).count() == 2)
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("bucket(n, ts) legacy layout (version 1) still makes no pruning claim; refresh_stats upgrades it") {
    val prior = spark.conf.get("spark.sql.session.timeZone")
    val dir = tmpDir()
    try {
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
      val df = spark.sql(
        """SELECT CAST(id AS BIGINT) AS id,
           timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts
           FROM range(64)""")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // a migration tool pinning version 1 reproduces the LEGACY layout
      val t = try GraftTable.create(spark, dir, df, Map(
          "write.partition-by" -> "bucket(8,ts)",
          graft.table.PartitionTransform.VersionKey -> "1"))
        finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      val all = t.log.current.files
      assert(all.size >= 2)
      val instants = t.read.orderBy("id").collect()
        .map(_.getAs[java.sql.Timestamp]("ts")).toSeq
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val t2 = GraftTable.load(spark, dir)
      // legacy session-zone hash: NO claim — nothing pruned
      assert(t2.pruneFiles(t2.log.current,
        Seq(org.apache.spark.sql.sources.EqualTo("ts", instants(17)))).size == all.size)
      // the stats-only upgrade: v2 stats over the v1 layout are sound
      // (stats are recomputed from the data), so pruning claims return
      t2.refreshStats()
      val t3 = GraftTable.load(spark, dir)
      assert(t3.log.current.properties.get(
        graft.table.PartitionTransform.VersionKey).contains("2"))
      assert(t3.log.current.files.map(_.path).sorted == all.map(_.path).sorted)
      Seq(0, 17, 63).foreach { i =>
        val pruned = t3.pruneFiles(t3.log.current,
          Seq(org.apache.spark.sql.sources.EqualTo("ts", instants(i))))
        assert(pruned.nonEmpty, s"row $i: everything pruned")
        val ids = pruned.flatMap(f => spark.read.parquet(
            graft.table.GraftTable.resolveUnder(dir, f.path))
          .filter(col("ts") === instants(i)).collect().map(_.getLong(0)))
        assert(ids == Seq(i.toLong), s"row $i lost by v2-over-v1-layout pruning: $ids")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("commit CAS: losing writer gets a conflict, state stays consistent") {
    val t = mk(Seq((1L, "a", 10.0)))
    val head = t.log.current
    // writer A commits on head
    t.log.commit(head.version, v => head.copy(version = v, parent = head.version,
      timestampMs = System.currentTimeMillis(), operation = "append"))
    // writer B races on the same stale head -> conflict
    intercept[CommitConflictException] {
      t.log.commit(head.version, v => head.copy(version = v, parent = head.version,
        timestampMs = System.currentTimeMillis(), operation = "append"))
    }
    assert(t.log.currentVersion == head.version + 1)
  }

  test("stale HEAD whose target version was purged recovers to surviving lineage") {
    // the r19 ConcurrencySoakSpec flake: a purge racing a recreate left
    // HEAD=N at rest with vN.json deleted — reads must re-anchor on the
    // surviving main-lineage versions (HEAD is a cache of the durable
    // version files, not the truth), not poison every current() call
    val t = mk(Seq((1L, "a", 10.0)))
    t.appendWithRetry(Seq((2L, "b", 20.0)).toDF("id", "name", "amount"))
    val head = t.log.currentVersion
    val meta = new java.io.File(t.path, "_graft")
    val headFile = new java.io.File(meta, "HEAD")
    // simulate the race: the HEAD cache survives, its target vanishes
    assert(new java.io.File(meta, s"v$head.json").delete())
    java.nio.file.Files.write(headFile.toPath, head.toString.getBytes)
    val log = new graft.table.SnapshotLog(t.path) // fresh reader, no caches
    assert(log.currentVersion == head - 1,
      s"expected recovery to v${head - 1}, got v${log.currentVersion}")
    assert(log.current.version == head - 1)
    // the orphan face of the same race: ALL versions purged, HEAD stranded
    // — a cache with no durable content is NOT a table (exists must say
    // so, rather than luring readers into an unwalkable current())
    new java.io.File(meta, "").listFiles()
      .filter(f => f.getName.startsWith("v") && f.getName.endsWith(".json"))
      .foreach(f => assert(f.delete()))
    val orphan = new graft.table.SnapshotLog(t.path)
    assert(!orphan.exists, "orphan HEAD with zero versions must not exist")
  }

  test("concurrent appenders: every writer's rows land exactly once") {
    val t = mk(Seq((0L, "base", 0.0)))
    val writers = (1 to 4).map { i =>
      new Thread(() =>
        t.appendWithRetry(Seq((i.toLong, s"w$i", i * 1.0)).toDF("id", "name", "amount")))
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    val ids = t.read.collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 1L, 2L, 3L, 4L), s"lost/duplicated commits: $ids")
    // linear history: every snapshot's parent is the previous version
    val hist = t.history.orderBy("version").collect()
    assert(hist.map(_.getLong(1)).toSeq == (-1L +: hist.map(_.getLong(0)).dropRight(1).toSeq))
  }

  test("long string bounds truncate in metadata but still prune correctly") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val longA = "a" * 500 + "end"
    val longZ = "z" * 500 + "end"
    val t = GraftTable.create(spark, tmpDir(),
      Seq((1L, longA, 1.0), (2L, longZ, 2.0)).toDF("id", "name", "amount"))
    val st = t.log.current.files.head.stats("name")
    assert(st.min.length <= 33 && st.max.length <= 33,
      s"unbounded string stats: ${st.min.length}/${st.max.length} chars")
    // truncated bounds stay CONSERVATIVE: the real values are still "inside"
    assert(t.pruneFiles(t.log.current, Seq(EqualTo("name", longA))).nonEmpty)
    assert(t.pruneFiles(t.log.current, Seq(EqualTo("name", longZ))).nonEmpty)
    // and still exclude what they can prove: '{' sorts above any z-string,
    // including the incremented truncated upper bound
    assert(t.pruneFiles(t.log.current, Seq(GreaterThan("name", "{"))).isEmpty)
  }

  test("copy-on-write DELETE racing a concurrent append: both land (commit retry)") {
    val t = mk((0L to 50L).map(i => (i, s"r$i", i * 1.0)))
    val appender = new Thread(() =>
      t.appendWithRetry(Seq((999L, "late", 9.9)).toDF("id", "name", "amount")))
    val deleter = new Thread(() =>
      t.delete(org.apache.spark.sql.functions.col("id") < 10L))
    appender.start(); deleter.start()
    appender.join(); deleter.join()
    val ids = t.read.collect().map(_.getLong(0)).sorted.toSeq
    // whichever commit order won, deletes applied and the append survived
    assert(ids.contains(999L), "concurrent append lost")
    assert(!ids.exists(_ < 10L), "delete lost rows it should have removed")
    assert(ids.filter(i => i >= 10L && i <= 50L).size == 41)
  }

  test("write distribution properties shape output files") {
    val path = tmpDir()
    val df = (1L to 40L).map(i => (i, s"g${i % 4}", i * 1.0)).toDF("id", "name", "amount")
    val t = GraftTable.create(spark, path, df,
      properties = Map("write.partition-by" -> "name", "write.sort-by" -> "id"))
    assert(t.read.count() == 40)
    // hash distribution on 4 groups with 4 shuffle partitions -> <= 4 files
    assert(t.log.current.files.size <= 4)
  }

  test("write.sort-by honors direction and null-order suffixes in the written files") {
    import graft.table.SortField
    // parse/render round-trip, defaults omitted (existing property values
    // stay byte-stable), Iceberg DDL null defaults (asc→first, desc→last)
    assert(SortField.parse("id") == SortField("id", desc = false, nullsLast = false))
    assert(SortField.parse("id:desc") == SortField("id", desc = true, nullsLast = true))
    assert(SortField.parse("id:asc:nulls-last").render == "id:asc:nulls-last")
    assert(SortField.parse("id:desc:nulls-first").render == "id:desc:nulls-first")
    assert(SortField("id", desc = true, nullsLast = true).render == "id:desc")
    assert(SortField.parseList("a, b:desc ,c:asc:nulls-last").map(_.render) ==
      Seq("a", "b:desc", "c:asc:nulls-last"))
    intercept[IllegalArgumentException](SortField.parse("id:sideways"))

    val path = tmpDir()
    val rows = Seq((1L, Some(3.0)), (2L, None), (3L, Some(1.0)), (4L, Some(2.0)))
      .toDF("id", "v")
    val t = GraftTable.create(spark, path, rows.coalesce(1),
      properties = Map("write.sort-by" -> "v:desc:nulls-first"))
    // within the single written file: nulls first, then values descending
    val file = t.log.current.files.head.path
    val got = spark.read.parquet(s"$path/$file").collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq
    assert(got == Seq(None, Some(3.0), Some(2.0), Some(1.0)),
      s"file row order not desc/nulls-first: $got")
  }
}
