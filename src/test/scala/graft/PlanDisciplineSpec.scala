package graft

import graft.queries.{Relational, SetSort}

/** Physical-plan discipline (the 100 TB checklist): filters reach the
  * parquet scan as PushedFilters, column pruning narrows ReadSchema,
  * dimension joins broadcast, expressions stay inside whole-stage codegen,
  * and nothing plans a CartesianProduct unless cross join IS the operator. */
class PlanDisciplineSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Run `body` with session confs set, restoring the previous values. */
  private def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Star tables behind a warehouse catalog: an 80k-row fact RANGE-clustered
    * into 8 files with disjoint `k` bounds, and a 100-row dimension whose
    * category "x" keeps 5 keys, all inside the first fact file's range. */
  private lazy val star: Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.when
    val wh = SparkSpec.warehouse
    spark.conf.set("spark.sql.catalog.graftpd", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftpd.warehouse", wh)
    graft.table.GraftTable.create(spark, s"$wh/db/pd_fact", spark.range(80000)
      .select(($"id" % 8000).as("k"), ($"id" * 7 % 100).as("v"))
      .repartitionByRange(8, $"k"))
    graft.table.GraftTable.create(spark, s"$wh/db/pd_dim", spark.range(100)
      .select(($"id" * 80).as("k"), when($"id" < 5, "x").otherwise("y").as("cat"))
      .coalesce(1))
  }

  test("q01: the shipdate filter is pushed into the parquet scan") {
    val plan = planOf(Relational.q01(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), plan)
  }

  test("q01: column pruning — ReadSchema carries only referenced columns") {
    val plan = planOf(Relational.q01(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_suppkey"),
      s"unpruned scan: $readSchema")
  }

  test("q02: every pushable predicate lands in PushedFilters") {
    val plan = planOf(Relational.q02(spark, sf))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("In(o_orderstatus"), "IN not pushed")
    assert(plan.contains("GreaterThanOrEqual(o_totalprice"), "BETWEEN not pushed")
  }

  test("q05: both dimension joins are broadcast hash joins") {
    val plan = planOf(Relational.q05(spark, sf))
    // two BHJ nodes in the tree section (each also repeats in the details)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("q04: fact-fact join is a shuffle join or AQE-selected broadcast, never NLJ") {
    val plan = planOf(Relational.q04(spark, sf))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
  }

  test("aggregation queries use whole-stage codegen") {
    // codegen spans materialize in the final (post-AQE) executed plan
    val df = Relational.q01(spark, sf)
    df.collect()
    // `*(N)` prefixes mark whole-stage-codegen spans in simpleString
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") && plan.contains("*(2)"),
      s"scan/agg stages not codegen'd:\n$plan")
  }

  test("only the cross-join query plans a cartesian/unconditioned NLJ") {
    // q123's one-row broadcast divisor is exempt from the NLJ ban either
    // way — and in fact Catalyst pushes the n_types = k filter INTO the
    // join, planning a broadcast HASH join, so it needn't be NLJ-shaped
    val crossy = Seq("q11_join_cross", "q12_join_range")
    // q123 / q130: deliberate ONE-ROW broadcast sides (the divisor count and
    // the per-check n_checked scalars) — a BNLJ against a single broadcast
    // row is a constant-append, not a pair explosion
    val exempt = Seq("q123_division", "q130_ri_audit")
    Relational.queries.foreach { case (name, fn) =>
      val plan = planOf(fn(spark, sf))
      val hasNlj = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (crossy.contains(name)) assert(hasNlj, s"$name should be NLJ-shaped")
      else if (!exempt.contains(name))
        assert(!hasNlj, s"$name unexpectedly plans a nested-loop join")
    }
  }

  test("top-k never globally sorts") {
    val plan = planOf(SetSort.q30(spark, sf))
    assert(!plan.matches("(?s).*Sort .*Exchange rangepartitioning.*"), plan)
  }

  test("q56: posexplode generates inline with the scan — zero shuffles") {
    val plan = planOf(graft.queries.Functions.q56(spark, sf))
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange"), s"generator query should not shuffle:\n$plan")
  }

  test("catalog-table SELECT plans as a vectorized parquet scan with pushdown") {
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", SparkSpec.warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.native (id BIGINT, v DOUBLE, tag STRING)")
    spark.sql("INSERT INTO graft.db.native SELECT id, CAST(id AS DOUBLE), concat('t', id % 3) FROM range(1000)")
    val df = spark.sql("SELECT v FROM graft.db.native WHERE id >= 500")
    assert(df.collect().length == 500)
    val plan = planOf(df)
    // the GraftNativeScan swap keeps the read on the stock columnar path:
    // FileScan parquet + PushedFilters into row-group pruning, not the
    // row-based V1Scan fallback (which plans as "Scan GraftDsv2Table")
    assert(plan.contains("Scan parquet"), s"catalog read fell off the parquet path:\n$plan")
    assert(!plan.contains("GraftDsv2Table"), s"V1 fallback still in plan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,500)"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("tag"), s"unpruned catalog scan: $readSchema")
    // and the scan participates in whole-stage codegen
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"),
      "catalog scan not codegen'd")
  }

  test("small catalog table auto-broadcasts in a join — stats flow through the scan swap") {
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", SparkSpec.warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.smalldim (k BIGINT, name STRING)")
    spark.sql("INSERT INTO graft.db.smalldim SELECT id, concat('n', id) FROM range(50)")
    // no broadcast() hint anywhere: the planner must see the swapped parquet
    // relation's sizeInBytes (far under autoBroadcastJoinThreshold) and pick
    // BroadcastHashJoin on its own — the decision a 1000-executor cluster
    // needs to avoid shuffling the big side
    val big = spark.range(100000).toDF("k")
    val joined = big.join(spark.table("graft.db.smalldim"), "k")
    assert(joined.count() == 50)
    val plan = planOf(joined)
    assert(plan.contains("BroadcastHashJoin"),
      s"small catalog table was not auto-broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dim join shuffled:\n$plan")
  }

  test("q63: BM25 top-20 plans as TakeOrderedAndProject, never a global sort") {
    val plan = planOf(graft.queries.Pipeline.q63(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q92 funnel: stage windows and the final aggregate share ONE user shuffle") {
    // the funnel's scale claim: two stacked running-min windows plus the
    // per-user aggregate all ride a single hashpartitioning(user_id)
    // exchange (the only other exchange is the final ORDER BY range
    // partitioning) — a per-stage self-join shape would add one per stage
    val plan = planOf(graft.queries.Temporal.q92(spark, sf))
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Arguments: hashpartitioning"))
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n$plan")
  }

  test("new pair-generation queries never degrade to cartesian products") {
    Seq(graft.queries.Pipeline.q62(spark, sf), graft.queries.Dedup.q67(spark, sf),
        graft.queries.Dedup.q82(spark, sf), graft.queries.Dedup.q90(spark, sf),
        graft.queries.Temporal.q91(spark, sf), graft.queries.Pipeline.q100(spark, sf),
        graft.queries.Curation.q113(spark, sf), graft.queries.Dedup.q117(spark, sf),
        graft.queries.Pipeline.q119(spark, sf))
      .foreach { df =>
        val plan = planOf(df)
        assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
      }
  }

  test("q118 skyline: local day-prune windows precede the global per-type pass") {
    val plan = planOf(graft.queries.Advanced.q118(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(5).mkString("\n"))
    // phase 2 partitions by (event_type, day); phase 3 by event_type alone —
    // both window sorts must appear, proving the big sort stays parallel
    val windows = plan.linesIterator.count(_.matches(""".*\bWindow \(\d+\)"""))
    assert(windows == 2, s"expected local+global windows, got $windows:\n$plan")
    // local prune partitions by (event_type, day-bucket _w0); the global
    // pass by event_type alone
    assert(plan.matches("(?s).*windowspecdefinition\\(event_type#\\d+, _w0#.*"), plan)
    assert(plan.matches("(?s).*\\[event_type#\\d+\\], \\[ts#\\d+ ASC.*"), plan)
  }

  test("q120 EWMA: the whole lag-chain is ONE window pass, one shuffle") {
    val plan = planOf(graft.queries.Temporal.q120(spark, sf))
    val windows = plan.linesIterator.count(_.matches(""".*\bWindow \(\d+\)"""))
    assert(windows == 1, s"lag chain must share one Window, got $windows:\n$plan")
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Arguments: hashpartitioning"))
    assert(hashExchanges == 1, s"expected 1 hash exchange:\n$plan")
  }

  test("q115: the interval join is a binned EQUI-join — no nested-loop, no cartesian") {
    val plan = planOf(graft.queries.Temporal.q115(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "a BETWEEN-driven NLJ is exactly what the binning exists to avoid:\n" +
        plan.linesIterator.take(8).mkString("\n"))
  }

  test("q84: vocabulary top-k plans as TakeOrderedAndProject, never a global sort") {
    val plan = planOf(graft.queries.TextAnalysis.q84(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q87: BPE pair counting is two aggregates and a top-k — no window, no join") {
    val plan = planOf(graft.queries.TextAnalysis.q87(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("q96: substring-coverage dedup is joinless — window df + rollup, no pair generation") {
    val plan = planOf(graft.queries.Dedup.q96(spark, sf))
    assert(!plan.contains("Join"), s"coverage metric must not generate pairs:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("q97/q98: NB and DSIR scoring never degrade to cartesian data joins") {
    // the deliberate tiny-side expansions (|classes|-row, 1-row totals,
    // <=1024-row model) must plan as BROADCAST nested-loop/hash joins;
    // a CartesianProduct would mean a data-sized side slipped into one
    Seq(graft.queries.TextAnalysis.q97(spark, sf),
        graft.queries.Sampling.q98(spark, sf))
      .foreach { df =>
        val plan = planOf(df)
        assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
      }
  }

  test("q98: the DSIR model joins back by broadcast — no shuffle of the doc-bucket stream for scoring") {
    val plan = planOf(graft.queries.Sampling.q98(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"model join should broadcast:\n$plan")
  }

  test("q109: per-stratum sampling ranks through WindowGroupLimit, partitioned by lang") {
    val plan = planOf(graft.queries.Sampling.q109(spark, sf))
    assert(plan.contains("WindowGroupLimit"), s"rank filter not pushed into the window:\n$plan")
    assert(plan.matches("(?s).*hashpartitioning\\(lang.*"), plan)
  }

  test("q99: per-doc TF-IDF top-k is a doc-partitioned window with group-limit pushdown") {
    val plan = planOf(graft.queries.TextAnalysis.q99(spark, sf))
    // rk <= K must reach the window operator as a WindowGroupLimit (each
    // partition keeps K rows pre-shuffle) and the window itself must
    // partition by doc_id — thousands of small partitions, no funnel
    assert(plan.contains("WindowGroupLimit"), s"rank filter not pushed into the window:\n$plan")
    assert(plan.matches("(?s).*hashpartitioning\\(doc_id.*"), plan)
  }

  test("q83: mix rebalance is scan-shaped — the only exchanges serve the tiny per-class aggregate") {
    val plan = planOf(graft.queries.Sampling.q83(spark, sf))
    // docs side joins the per-class thresholds via broadcast; no doc-keyed shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("SELECT count(*) on a catalog table is metadata-only — no scan in the plan") {
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", SparkSpec.warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.cnt (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.cnt SELECT id, concat('v', id) FROM range(12345)")
    spark.sql("INSERT INTO graft.db.cnt SELECT id, 'x' FROM range(55)")
    val df = spark.sql("SELECT count(*) AS n FROM graft.db.cnt")
    assert(df.collect()(0).getLong(0) == 12400)
    val plan = planOf(df)
    assert(!plan.contains("Scan parquet") && !plan.contains("GraftDsv2Table"),
      s"count(*) still scans data:\n$plan")
    assert(plan.contains("LocalTableScan") || plan.contains("LocalRelation"), plan)
    // min/max of numeric columns come from the (exact) metadata bounds too,
    // mixed freely with count in one aggregate
    val mm = spark.sql("SELECT min(id) AS lo, max(id) AS hi, count(*) AS n FROM graft.db.cnt")
    assert(mm.collect()(0).toSeq == Seq(0L, 12344L, 12400L))
    assert(!planOf(mm).contains("Scan parquet"), planOf(mm))
    // min/max of a STRING column must scan (metadata bounds are truncated)
    val sm = spark.sql("SELECT max(v) FROM graft.db.cnt")
    assert(planOf(sm).contains("Scan parquet"))
    assert(sm.collect()(0).getString(0) == "x")
    // time travel: the metadata count comes from the PINNED snapshot
    val tt = spark.sql("SELECT count(*) FROM graft.db.cnt VERSION AS OF 1")
    assert(tt.collect()(0).getLong(0) == 12345)
    assert(!planOf(tt).contains("Scan parquet"), planOf(tt))
    // a WHERE clause disables the shortcut — that count needs the scan
    val filtered = spark.sql("SELECT count(*) FROM graft.db.cnt WHERE id > 10")
    assert(filtered.collect()(0).getLong(0) == 12378)
    assert(planOf(filtered).contains("Scan parquet"))
    // merge-on-read deletes also disable it (count must subtract join-time)
    spark.sql("ALTER TABLE graft.db.cnt SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("DELETE FROM graft.db.cnt WHERE id = 7")
    val afterDel = spark.sql("SELECT count(*) AS n FROM graft.db.cnt")
    assert(afterDel.collect()(0).getLong(0) == 12398) // id=7 in both inserts
    assert(planOf(afterDel).contains("Scan parquet"),
      "MOR-delete count must fall back to the scan")
  }

  test("q71: parse_json evaluates once per row — the filter never re-parses") {
    // the cents filter must ride the cheap pre-parse expression; a filter on
    // the variant_get alias would inline parse_json below the projection and
    // double the per-row parse cost (the regression this test pins)
    val plan = graft.queries.Advanced.q71(spark, sf).queryExecution.optimizedPlan.toString
    assert("parseJson".r.findAllIn(plan).size == 1, s"parse_json duplicated:\n$plan")
  }

  test("q76: LATERAL top-k decorrelates to WindowGroupLimit + broadcast join") {
    val plan = planOf(graft.queries.Advanced.q76(spark, sf))
    assert(plan.contains("WindowGroupLimit"), s"no per-group top-k pushdown:\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"lateral subquery nested-looped:\n$plan")
  }

  test("q74: decontamination joins the broadcast eval-gram side, never shuffles train grams for the join") {
    val plan = planOf(graft.queries.Curation.q74(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"eval grams not broadcast:\n$plan")
  }

  test("q55: pivot is the two-phase aggregate rewrite, shuffling only aggregated rows") {
    // Spark rewrites pivot to groupBy(keys, pivotCol).agg then PivotFirst —
    // the second shuffle moves already-aggregated (tiny) rows, so the shape
    // scales; anything beyond agg+pivot+final-sort exchanges would not.
    val plan = planOf(graft.queries.Aggregates.q55(spark, sf))
    // tree-form "Exchange (N)" counts each node once ("(N) Exchange" = details)
    assert("HashAggregate \\(\\d+\\)".r.findAllIn(plan).size >= 2, plan)
    assert("Exchange \\(\\d+\\)".r.findAllIn(plan).size <= 3,
      s"unexpected extra shuffle:\n$plan")
  }

  test("MOR read: positional + equality deletes apply as BROADCAST anti-joins, zero shuffles") {
    // The merge-on-read cost model (VERDICT r7 #5): read cost scales with
    // the DELETE set, not the table — deletes ride to the data as
    // broadcasts; a sort-merge anti-join would shuffle the full table on
    // every read, which at 100 TB is a rewrite per query.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "mor-plan-").toString
    val t = graft.table.GraftTable.create(spark, dir + "/t",
      (1L to 20000L).map(i => (i, s"v$i")).toDF("id", "v"),
      Map("write.delete.mode" -> "merge-on-read"))
    t.delete($"id" % 100 === 0)                       // positional deletes
    t.deleteByEquality((1L to 50L).toDF("id"))        // equality deletes
    val df = t.read
    df.collect() // materialize so AQE's final plan is in place
    val plan = df.queryExecution.executedPlan.toString
    val antiJoins = "BroadcastHashJoin .*LeftAnti".r.findAllIn(plan).size
    assert(antiJoins >= 2, s"expected broadcast anti-joins for both delete kinds:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"delete application must never sort-merge the full table:\n$plan")
    // the DATA side must stay shuffle-free: any Exchange in the plan may
    // only move delete-side columns (the key dedup before its broadcast)
    val shuffles = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toList
    assert(shuffles.forall(l => l.contains("_eq_") || l.contains("file_path")),
      s"data-side shuffle found:\n$plan")
    // correctness of the shape under both delete kinds at once:
    // 200 positional (multiples of 100) + 50 equality (ids 1..50), disjoint
    assert(df.count() == 20000L - 200L - 50L)
  }

  test("MOR read past the delete-bytes threshold degrades to a SHUFFLED anti-join, same result") {
    // A 100 TB table with heavy MOR churn can accumulate more delete-file
    // bytes than a broadcast can hold: above the gate the plan must
    // degrade to a shuffled hash anti-join (correct, heavy, and logged
    // with the rewrite_position_delete_files cure) instead of OOMing the
    // broadcast. Results must be identical either way.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "mor-gate-").toString
    val t = graft.table.GraftTable.create(spark, dir + "/t",
      (1L to 5000L).map(i => (i, s"v$i")).toDF("id", "v"),
      Map("write.delete.mode" -> "merge-on-read"))
    t.delete($"id" % 10 === 0)
    val broadcastRows = t.read.orderBy("id").collect()

    // shrink Spark's broadcast threshold below the accumulated delete
    // bytes: the same snapshot must now plan the shuffled fallback
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1") {
      val df = t.read
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"gate ignored — still broadcasting:\n$plan")
      assert("ShuffledHashJoin .*LeftAnti".r.findAllIn(plan).nonEmpty,
        s"expected a shuffled hash anti-join past the gate:\n$plan")
      assert(df.orderBy("id").collect().toSeq == broadcastRows.toSeq,
        "shuffled fallback changed the result")
    }
  }

  test("AQE splits the skewed partition of a PLAIN sort-merge join at runtime") {
    // The engine-handled half of the skew story (VERDICT r7 #7): q61 proves
    // the manual salt; this proves spark.sql.adaptive.skewJoin splits a hot
    // key's partition on the UNsalted join, so users only reach for
    // Skew.saltedJoin when the shape is one AQE can't split (agg-after-join,
    // broadcast-ineligible stages) — exactly what Skew.scala's doc says.
    import spark.implicits._
    import org.apache.spark.sql.functions.{when, concat, lit}
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // test-scale thresholds: the hot partition (~12 MB) is "skewed" next
      // to the advisory 64k target, mirroring a hot key at cluster scale
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      val big = spark.range(300000).select(
        when($"id" < 250000, 0L).otherwise($"id" % 97).as("k"),
        concat(lit("x"), $"id").as("pad"))
      val dim = spark.range(97).select($"id".as("k"), concat(lit("d"), $"id").as("dv"))
      val joined = big.join(dim, "k")
      assert(joined.count() == 300000)
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"setup must produce an SMJ:\n$plan")
      assert(plan.contains("skewed"),
        s"AQE skew split did not fire on the hot partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("a catalog SELECT plans as FileScan parquet") {
    star
    val df = spark.sql("SELECT k, v FROM graftpd.db.pd_fact WHERE k = 42")
    assert(df.collect().length == 10) // 80000/8000 rows per key
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet") && !plan.contains("BatchScan"), plan)
    // the swapped scan reads only the files whose k bounds can hold 42
    assert(df.inputFiles.length <= 2, s"static pruning missing: ${df.inputFiles.toSeq}")
  }

  test("Spark's bloom-filter runtime filter injects onto the swapped scan for shuffle joins") {
    // When the star join must SHUFFLE (dim too big to broadcast — forced
    // here), the optimizer builds a bloom filter from the dim's selective
    // side and applies might_contain on the fact BEFORE the exchange,
    // shrinking the shuffle. Works through the native-scan swap because the
    // swapped relation is a plain stats-bearing parquet scan.
    star
    val q =
      """SELECT f.k, f.v, d.cat FROM graftpd.db.pd_fact f
        |JOIN graftpd.db.pd_dim d ON f.k = d.k WHERE d.cat = 'x'""".stripMargin
    withConfs(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "32",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val df = spark.sql(q)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected an injected bloom runtime filter in:\n$optimized")
      val rows = df.collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plain = spark.sql(q)
      assert(!plain.queryExecution.optimizedPlan.toString.contains("might_contain"))
      assert(plain.collect().map(_.toString).sorted.toSeq == rows,
        "bloom-filtered result diverged from the plain join")
    }
  }

  test("the scan and the swap report the same statistics for an ANALYZEd table") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    star
    spark.sql("DROP TABLE IF EXISTS graftpd.db.pd_stats")
    spark.sql("CREATE TABLE graftpd.db.pd_stats (i INT, l BIGINT, d DOUBLE, s STRING)")
    spark.sql("INSERT INTO graftpd.db.pd_stats SELECT CAST(id AS INT), " +
      "IF(id % 4 = 0, NULL, id * 3), id / 2.0, concat('s', id % 7) FROM range(200)")
    spark.sql("INSERT INTO graftpd.db.pd_stats SELECT CAST(id AS INT), id, " +
      "IF(id % 5 = 0, NULL, id * 1.5), NULL FROM range(1000, 1100)")
    spark.sql("CALL graftpd.system.analyze_table('db.pd_stats')")
    // the swap: the spliced parquet relation's catalog statistics
    val swap = withConfs("spark.sql.cbo.enabled" -> "true") {
      spark.table("graftpd.db.pd_stats").queryExecution.optimizedPlan
        .collectFirst { case r: LogicalRelation => r.stats }
        .getOrElse(fail("the catalog read was not swapped"))
    }
    // the scan, built the way Spark's scan pushdown builds it
    val t = graft.table.GraftTable.load(spark, s"${SparkSpec.warehouse}/db/pd_stats")
    val scan = graft.catalog.GraftDsv2Table(t, "pd_stats")
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().asInstanceOf[SupportsReportStatistics].estimateStatistics()
    assert(swap.rowCount.contains(BigInt(300)))
    assert(scan.numRows().getAsLong == 300L)
    type Hist = Option[(Double, Seq[(Double, Double, Long)])]
    type Stat = (Option[BigInt], Option[BigInt], Option[Any], Option[Any], Hist)
    val sw: Map[String, Stat] = swap.attributeStats.map { case (a, c) =>
      a.name -> (c.nullCount, c.distinctCount, c.min, c.max,
        c.histogram.map(h => (h.height, h.bins.toSeq.map(b => (b.lo, b.hi, b.ndv)))))
    }.toMap
    val sc: Map[String, Stat] = scan.columnStats().asScala.map { case (k, c) =>
      def big(v: java.util.OptionalLong) =
        if (v.isPresent) Some(BigInt(v.getAsLong)) else None
      val hist = Option(c.histogram().orElse(null))
        .map(h => (h.height(), h.bins().toSeq.map(b => (b.lo(), b.hi(), b.ndv()))))
      k.fieldNames().mkString(".") ->
        (big(c.nullCount()), big(c.distinctCount()),
          Option(c.min().orElse(null)), Option(c.max().orElse(null)), hist)
    }.toMap
    assert(sw.keySet == Set("i", "l", "d", "s") && sc.keySet == sw.keySet,
      s"swap columns ${sw.keySet}, scan columns ${sc.keySet}")
    sw.foreach { case (name, c) =>
      val o = sc(name)
      assert(o._1 == c._1, s"$name nulls: scan ${o._1} swap ${c._1}")
      assert(o._2 == c._2, s"$name NDV: scan ${o._2} swap ${c._2}")
      // same value AND the same runtime type (an INT bound is an Integer)
      Seq("min" -> (o._3, c._3), "max" -> (o._4, c._4)).foreach { case (what, (a, b)) =>
        assert(a == b && a.map(_.getClass) == b.map(_.getClass),
          s"$name $what: scan $a (${a.map(_.getClass)}) swap $b (${b.map(_.getClass)})")
      }
      assert(o._5 == c._5, s"$name histogram: scan ${o._5} swap ${c._5}")
    }
    assert(sw("i")._3.contains(0) && sw("i")._4.contains(1099))
    assert(sw("l")._1.contains(BigInt(50)) && sw("s")._1.contains(BigInt(100)))
    // ANALYZE's histograms reach the optimizer through the scan too
    assert(Seq("i", "l", "d").forall(c => sc(c)._5.exists(_._2.nonEmpty)),
      sc.map { case (k, v) => k -> v._5 })
  }

  // ---- one read path for every session: a session WITHOUT GraftExtensions
  // (only the catalog conf set, like a foreign Spark) plans graft reads
  // exactly like the extension session does

  /** The no-extension session with the star warehouse behind `graftne`. */
  private lazy val bare: org.apache.spark.sql.SparkSession = {
    star
    val s = SparkSpec.withoutExtensions()
    s.conf.set("spark.sql.catalog.graftne", "graft.catalog.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftne.warehouse", SparkSpec.warehouse)
    s
  }

  /** The two ways a bare session names a graft table. */
  private val entries: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
    "catalog" -> (name => bare.table(s"graftne.db.$name")),
    "path" -> (name => bare.read.format("graft").load(s"${SparkSpec.warehouse}/db/$name")))

  private def withBareConfs[A](confs: (String, String)*)(body: => A): A = {
    confs.foreach { case (k, v) => bare.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => bare.conf.unset(k) }
  }

  entries.foreach { case (via, read) =>
    test(s"no extensions, $via: FileScan parquet with PushedFilters and a pruned ReadSchema") {
      SparkSpec.active(bare) {
        import org.apache.spark.sql.functions.col
        val df = read("pd_fact").where(col("k") === 42L).select("k")
        assert(df.collect().length == 10)
        val executed = df.queryExecution.executedPlan.toString
        assert(executed.contains("FileScan parquet") && !executed.contains("BatchScan"), executed)
        val plan = planOf(df)
        assert(!plan.contains("GraftDsv2Table"), plan)
        assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,42)]"), plan)
        val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
        assert(readSchema.contains("struct<k:bigint>"), s"unpruned scan: $readSchema")
        assert(df.inputFiles.length <= 2, s"static pruning missing: ${df.inputFiles.toSeq}")
      }
    }

    test(s"no extensions, $via: optimized-plan statistics are the manifest's") {
      SparkSpec.active(bare) {
        val snap = graft.table.GraftTable.load(bare, s"${SparkSpec.warehouse}/db/pd_dim").log.current
        val (bytes, rows) = (BigInt(snap.files.map(_.bytes).sum), BigInt(snap.files.map(_.rows).sum))
        withBareConfs("spark.sql.cbo.enabled" -> "false") {
          assert(read("pd_dim").queryExecution.optimizedPlan.stats.sizeInBytes == bytes)
        }
        withBareConfs("spark.sql.cbo.enabled" -> "true") {
          assert(read("pd_dim").queryExecution.optimizedPlan.stats.rowCount.contains(rows))
        }
      }
    }

    test(s"no extensions, $via: a small filtered dimension broadcasts without a hint") {
      SparkSpec.active(bare) {
        import org.apache.spark.sql.functions.col
        val df = read("pd_fact").join(read("pd_dim").where(col("cat") === "x"), "k")
        assert(df.count() == 50) // 5 keys × 10 fact rows each
        val plan = planOf(df)
        assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"), plan)
      }
    }

    test(s"no extensions, $via: the bloom-filter runtime filter injects for a shuffle join") {
      SparkSpec.active(bare) {
        import org.apache.spark.sql.functions.col
        def q = read("pd_fact").join(read("pd_dim").where(col("cat") === "x"), "k")
        withBareConfs(
            "spark.sql.autoBroadcastJoinThreshold" -> "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "32",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
          val df = q
          val optimized = df.queryExecution.optimizedPlan.toString
          assert(optimized.contains("might_contain"),
            s"expected an injected bloom runtime filter in:\n$optimized")
          val rows = df.collect().map(_.toString).sorted.toSeq
          withBareConfs("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
            assert(q.collect().map(_.toString).sorted.toSeq == rows,
              "bloom-filtered result diverged from the plain join")
          }
        }
      }
    }
  }

  test("no extensions: a second catalog instance installs the read rule once") {
    SparkSpec.active(bare) {
      // the bare session really runs none of GraftExtensions
      assert(!bare.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim")))
      assert(!bare.sessionState.analyzer.extendedResolutionRules
        .exists(_.isInstanceOf[graft.catalog.GraftGovernance]))
      bare.conf.set("spark.sql.catalog.graftne2", "graft.catalog.GraftCatalog")
      bare.conf.set("spark.sql.catalog.graftne2.warehouse", SparkSpec.warehouse)
      assert(bare.table("graftne.db.pd_dim").count() == 100)
      assert(bare.table("graftne2.db.pd_dim").count() == 100)
      assert(bare.experimental.extraOptimizations
        .count(_ eq graft.plans.GraftNativeScan) == 1, bare.experimental.extraOptimizations)
    }
  }
}
