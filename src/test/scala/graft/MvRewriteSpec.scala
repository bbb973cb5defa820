package graft

import org.apache.spark.sql.DataFrame

/** Transparent materialized-aggregate rewrite (graft.plans.GraftMvRewrite):
  * queries that the maintained state can answer EXACTLY read the
  * materialization; everything else — and anything stale — falls through
  * to the base scan. Every rewritten result is compared against the same
  * query with the rewrite disabled. */
class MvRewriteSpec extends SparkSpec {

  private def sql(q: String): DataFrame = spark.sql(q)

  private def planOf(q: String): String =
    sql(q).queryExecution.executedPlan.toString

  /** Collected rows with the rewrite on vs off must match exactly. */
  private def assertSameResult(q: String): Unit = {
    val on = sql(q).collect().map(_.toString).sorted.toSeq
    val off = MvRewriteSpec.withoutRewrite(spark)(sql(q).collect().map(_.toString).sorted.toSeq)
    assert(on == off, s"rewritten result diverges for: $q")
  }

  private def assertRewritten(q: String): Unit = {
    val p = planOf(q)
    assert(p.contains("mvr_mat"), s"expected MV scan in plan:\n$p")
    assert(!p.contains("mvr_src"), s"expected no base-table scan in plan:\n$p")
    assertSameResult(q)
  }

  private def assertNotRewritten(q: String): Unit = {
    val p = planOf(q)
    assert(p.contains("mvr_src"), s"expected base-table scan in plan:\n$p")
    assert(!p.contains("mvr_mat"), s"expected no MV scan in plan:\n$p")
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", SparkSpec.warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.mvr_src")
    spark.sql("DROP TABLE IF EXISTS graft.db.mvr_mat")
    spark.sql(
      "CREATE TABLE graft.db.mvr_src (grp STRING, sub STRING, amount BIGINT, " +
        "damount DECIMAL(10,2), x DOUBLE)")
    // NULL amounts in one slice and an ALL-NULL group ('g9') so the
    // nn_/sum_ NULL discipline is exercised through the rewrite
    spark.sql(
      """INSERT INTO graft.db.mvr_src
        |SELECT concat('g', id % 4), concat('s', id % 3),
        |       CASE WHEN id % 7 = 0 THEN NULL ELSE id END,
        |       CAST(id AS DECIMAL(10,2)) / 4, id * 1.5
        |FROM range(1000)
        |UNION ALL
        |SELECT 'g9', 's0', NULL, NULL, 0.0 FROM range(5)""".stripMargin)
    spark.sql(
      "CALL graft.system.materialize_agg('db.mvr_src', 'db.mvr_mat', " +
        "'grp,sub', 'amount,damount', 'amount')")
  }

  test("count/sum/count(col) over the exact keys read the MV, bit-for-bit") {
    assertRewritten(
      """SELECT grp, sub, count(*) AS c, sum(amount) AS s,
        |       count(amount) AS nn, sum(damount) AS d
        |FROM graft.db.mvr_src GROUP BY grp, sub""".stripMargin)
  }

  test("rollup to a key subset re-aggregates the MV") {
    assertRewritten(
      "SELECT grp, count(*) AS c, sum(amount) AS s FROM graft.db.mvr_src GROUP BY grp")
  }

  test("global aggregate (no GROUP BY) rewrites too") {
    assertRewritten(
      "SELECT count(*) AS c, sum(amount) AS s FROM graft.db.mvr_src")
  }

  test("a filter on keys commutes with the re-aggregation") {
    assertRewritten(
      """SELECT sub, sum(amount) AS s FROM graft.db.mvr_src
        |WHERE grp IN ('g1', 'g9') GROUP BY sub""".stripMargin)
  }

  test("key expressions and combined aggregate arithmetic rewrite") {
    assertRewritten(
      """SELECT upper(grp) AS g, sum(amount) + count(*) AS t
        |FROM graft.db.mvr_src GROUP BY upper(grp)""".stripMargin)
  }

  test("HAVING sits above the aggregate and survives the swap") {
    assertRewritten(
      """SELECT grp, count(*) AS c FROM graft.db.mvr_src
        |GROUP BY grp HAVING count(*) > 10""".stripMargin)
  }

  test("not rewritable: filter on a non-key column") {
    assertNotRewritten(
      "SELECT grp, count(*) FROM graft.db.mvr_src WHERE amount > 5 GROUP BY grp")
  }

  test("maintained min/max rewrite — including the rollup — with exact NULL semantics") {
    assertRewritten(
      """SELECT grp, sub, min(amount) AS lo, max(amount) AS hi
        |FROM graft.db.mvr_src GROUP BY grp, sub""".stripMargin)
    assertRewritten(
      "SELECT grp, min(amount) AS lo, max(amount) AS hi, count(*) AS c " +
        "FROM graft.db.mvr_src GROUP BY grp")
  }

  test("COUNT(DISTINCT key) re-runs the distinct over the MV rows") {
    assertRewritten(
      "SELECT grp, count(DISTINCT sub) AS nsub FROM graft.db.mvr_src GROUP BY grp")
    assertRewritten("SELECT count(DISTINCT grp) AS ng FROM graft.db.mvr_src")
  }

  test("not rewritable: double sums, AVG, unmaintained MIN/MAX, DISTINCT") {
    assertNotRewritten("SELECT grp, sum(x) FROM graft.db.mvr_src GROUP BY grp")
    assertNotRewritten("SELECT grp, avg(amount) FROM graft.db.mvr_src GROUP BY grp")
    // damount sums are maintained but its extrema are not
    assertNotRewritten("SELECT grp, max(damount) FROM graft.db.mvr_src GROUP BY grp")
    // DISTINCT over a NON-key column can't be answered from group rows
    assertNotRewritten(
      "SELECT grp, count(DISTINCT amount) FROM graft.db.mvr_src GROUP BY grp")
    // grouping by a non-key column
    assertNotRewritten("SELECT sub, amount, count(*) FROM graft.db.mvr_src GROUP BY sub, amount")
  }

  test("spark.sql.optimizer.excludedRules disables the rule") {
    MvRewriteSpec.withoutRewrite(spark)(
      assertNotRewritten("SELECT grp, count(*) FROM graft.db.mvr_src GROUP BY grp"))
  }

  test("a source commit makes the MV stale: scan until refresh_agg, then rewrite again") {
    val q = "SELECT grp, sub, count(*) AS c, sum(amount) AS s " +
      "FROM graft.db.mvr_src GROUP BY grp, sub"
    spark.sql("INSERT INTO graft.db.mvr_src VALUES ('g1', 's1', 42, 1.00, 0.0)")
    assertNotRewritten(q) // stale stamp -> base scan (and a CORRECT result)
    assertSameResult(q)
    spark.sql("CALL graft.system.refresh_agg('db.mvr_src', 'db.mvr_mat')")
    assertRewritten(q)
    // time travel AT the stamped version also rewrites; BEFORE it does not
    val v = table.GraftTable.load(spark, s"${SparkSpec.warehouse}/db/mvr_src")
      .log.currentVersion
    assertRewritten(
      s"SELECT grp, count(*) AS c FROM graft.db.mvr_src VERSION AS OF $v GROUP BY grp")
    assertNotRewritten(
      s"SELECT grp, count(*) AS c FROM graft.db.mvr_src VERSION AS OF ${v - 1} GROUP BY grp")
  }

  test("deregister detaches; register_agg_rewrite re-attaches from the stored property") {
    val q = "SELECT grp, count(*) AS c FROM graft.db.mvr_src GROUP BY grp"
    spark.sql("CALL graft.system.deregister_agg_rewrite('db.mvr_mat')")
    assertNotRewritten(q)
    spark.sql("CALL graft.system.register_agg_rewrite('db.mvr_mat')")
    assertRewritten(q)
  }
}

object MvRewriteSpec {
  /** Run `body` with the rewrite excluded through Spark's own optimizer
    * rule exclusion. */
  def withoutRewrite[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.GraftMvRewrite")
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
}
