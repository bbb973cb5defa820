package graft

import org.apache.spark.sql.DataFrame

/** Row filters + column masks (graft.catalog.GraftGovernance): every SQL
  * read path is governed — SELECT, joins, aggregates, views over the
  * table, time travel — while DML targets stay raw. No session conf turns
  * enforcement off; raw values are reachable only through the
  * engine-internal path API. */
class GovernanceSpec extends SparkSpec {

  private def sql(q: String): DataFrame = spark.sql(q)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", SparkSpec.warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.gov_users")
    spark.sql(
      "CREATE TABLE graft.db.gov_users (id BIGINT, email STRING, region STRING, spend BIGINT)")
    spark.sql(
      """INSERT INTO graft.db.gov_users VALUES
        |  (1, 'ann@x.com',  'EU', 10), (2, 'bob@y.org',  'US', 20),
        |  (3, 'cho@z.net',  'US', 30), (4, 'dee@w.io',   'EU', 40),
        |  (5, 'eve@v.dev',  'APAC', 50)""".stripMargin)
    sql("ALTER TABLE graft.db.gov_users SET TBLPROPERTIES (" +
      "'graft.filter' = \"region <> 'EU'\", " +
      "'graft.mask.email' = \"regexp_replace(email, '^[^@]*', 'xxx')\")")
  }

  test("SELECT sees filtered rows and masked columns; raw values never surface") {
    val rows = sql("SELECT id, email, region FROM graft.db.gov_users ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq((2L, "xxx@y.org", "US"), (3L, "xxx@z.net", "US"),
      (5L, "xxx@v.dev", "APAC")))
    // SELECT * too — and the schema is unchanged
    val star = sql("SELECT * FROM graft.db.gov_users")
    assert(star.columns.toSeq == Seq("id", "email", "region", "spend"))
    assert(star.collect().length == 3)
  }

  test("aggregates, joins, and IN-subqueries all see the governed relation") {
    assert(sql("SELECT count(*) FROM graft.db.gov_users").collect()(0).getLong(0) == 3)
    assert(sql("SELECT sum(spend) FROM graft.db.gov_users").collect()(0).getLong(0) == 100)
    val joined = sql(
      """SELECT a.id, b.email FROM graft.db.gov_users a
        |JOIN graft.db.gov_users b ON a.id = b.id ORDER BY a.id""".stripMargin).collect()
    assert(joined.length == 3 && joined.forall(_.getString(1).startsWith("xxx@")))
    val subq = sql(
      """SELECT id FROM graft.db.gov_users
        |WHERE id IN (SELECT id FROM graft.db.gov_users WHERE spend > 25)""".stripMargin)
      .collect().map(_.getLong(0)).sorted
    assert(subq.toSeq == Seq(3L, 5L))
  }

  test("a view over a governed table is governed; time travel is governed") {
    sql("CREATE VIEW graft.db.gov_view AS SELECT id, email FROM graft.db.gov_users")
    try {
      val v = sql("SELECT * FROM graft.db.gov_view ORDER BY id").collect()
      assert(v.length == 3 && v.forall(_.getString(1).startsWith("xxx@")))
    } finally sql("DROP VIEW graft.db.gov_view")
    val tt = sql("SELECT email FROM graft.db.gov_users VERSION AS OF 1").collect()
    assert(tt.length == 3 && tt.forall(_.getString(0).startsWith("xxx@")),
      "time travel must not bypass policies")
  }

  test("no session conf lifts the policies: the old bypass key reads filtered and masked") {
    spark.conf.set("spark.graft.governance.bypass", "true")
    try {
      val rows = sql("SELECT email FROM graft.db.gov_users").collect().map(_.getString(0))
      assert(rows.length == 3 && rows.forall(_.startsWith("xxx@")), rows.toSeq)
    } finally spark.conf.unset("spark.graft.governance.bypass")
  }

  test("DML targets stay raw: UPDATE matches on true values, all rows writable") {
    sql("UPDATE graft.db.gov_users SET spend = spend + 1 WHERE region = 'EU'")
    // the stored values, through the engine-internal path API
    val eu = graft.table.GraftTable.load(spark, s"${SparkSpec.warehouse}/db/gov_users").read
      .where("region = 'EU'").orderBy("id").select("spend", "email")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(eu.map(_._1).toSeq == Seq(11L, 41L), "UPDATE must reach the filtered-out rows")
    assert(eu.map(_._2).toSeq == Seq("ann@x.com", "dee@w.io"),
      "stored emails must stay unmasked")
    // a CTAS FROM the governed table persists only policy-visible data
    sql("DROP TABLE IF EXISTS graft.db.gov_copy")
    sql("CREATE TABLE graft.db.gov_copy AS SELECT * FROM graft.db.gov_users")
    val copied = sql("SELECT id, email FROM graft.db.gov_copy ORDER BY id").collect()
    assert(copied.length == 3 && copied.forall(_.getString(1).startsWith("xxx@")))
  }

  test("policies validate at definition time: bad filter, bad mask, type-shifting mask") {
    intercept[Exception] {
      sql("ALTER TABLE graft.db.gov_users SET TBLPROPERTIES ('graft.filter' = 'no_such_col > 1')")
    }
    intercept[Exception] {
      sql("ALTER TABLE graft.db.gov_users SET TBLPROPERTIES ('graft.mask.nope' = 'email')")
    }
    val e = intercept[Exception] {
      sql("ALTER TABLE graft.db.gov_users SET TBLPROPERTIES ('graft.mask.spend' = \"'hidden'\")")
    }
    assert(e.getMessage.contains("must keep type"), e.getMessage)
  }

  test("interplay with the MV rewrite: a governed read never serves raw aggregates") {
    // materialize an aggregate of the (raw) table, then govern the table:
    // the policy filter sits between the aggregate and the scan, so the
    // rewrite must either apply it exactly (keys-only policies) or decline
    // — both verified against the rewrite-disabled plan
    spark.sql("DROP TABLE IF EXISTS graft.db.gov_mv_src")
    spark.sql("DROP TABLE IF EXISTS graft.db.gov_mv_mat")
    spark.sql("CREATE TABLE graft.db.gov_mv_src (grp STRING, amount BIGINT)")
    spark.sql(
      """INSERT INTO graft.db.gov_mv_src
        |SELECT concat('g', id % 3), id FROM range(300)""".stripMargin)
    spark.sql("CALL graft.system.materialize_agg(" +
      "'db.gov_mv_src', 'db.gov_mv_mat', 'grp', 'amount')")
    spark.sql("ALTER TABLE graft.db.gov_mv_src SET TBLPROPERTIES (" +
      "'graft.filter' = \"grp <> 'g0'\")")
    try {
      val q = "SELECT grp, count(*) AS c, sum(amount) AS s " +
        "FROM graft.db.gov_mv_src GROUP BY grp"
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      val governed = rows(sql(q))
      assert(!governed.exists(_.contains("g0")), "policy must hide g0 everywhere")
      val plain = MvRewriteSpec.withoutRewrite(spark)(rows(sql(q)))
      assert(governed == plain, "MV-rewritten governed read diverged")
    } finally {
      spark.sql("ALTER TABLE graft.db.gov_mv_src UNSET TBLPROPERTIES ('graft.filter')")
      spark.sql("CALL graft.system.deregister_agg_rewrite('db.gov_mv_mat')")
    }
  }

  test("path-based reads are governed for principaled sessions (no mask laundering)") {
    val path = s"${SparkSpec.warehouse}/db/gov_users"
    // principaled: the path spelling meets the same filter + masks as the
    // catalog identifier — a governed user can't read raw rows via load(path)
    spark.conf.set("spark.graft.principal", "analyst")
    try {
      val rows = spark.read.format("graft").load(path)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(rows.length == 3, rows.mkString(","))
      assert(rows.forall(_._2.startsWith("xxx@")), rows.mkString(","))
      // schema unchanged by the masks
      assert(spark.read.format("graft").load(path).columns.toSeq ==
        Seq("id", "email", "region", "spend"))
    } finally spark.conf.unset("spark.graft.principal")
    // unprincipaled: engine-internal/privileged, raw (the documented stance)
    val raw = spark.read.format("graft").load(path).collect()
    assert(raw.length == 5)
    assert(raw.map(_.getString(1)).exists(_.startsWith("ann@")))
  }

  test("a DSv2 write/DML target stays raw even as a catalog-less path relation (ADVICE r15)") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    import org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable
    val path = s"${SparkSpec.warehouse}/db/gov_users"
    val tbl = graft.catalog.GraftDsv2Table(
      graft.table.GraftTable.load(spark, path), path)
    spark.conf.set("spark.graft.principal", "analyst")
    try {
      val rule = graft.catalog.GraftGovernance(spark)
      // control: the bare path relation IS governed for a principal
      // (wrapped away from a plain DataSourceV2Relation)
      val read = rule(DataSourceV2Relation.create(tbl, None, None))
      assert(!read.isInstanceOf[DataSourceV2Relation], read.nodeName)
      // the SAME relation as a DML target keeps the raw table — masking a
      // write target would corrupt row images (DeleteFromTable holds its
      // target as a CHILD, so the rule genuinely visits it)
      val target = DataSourceV2Relation.create(tbl, None, None)
      val out = rule(DeleteFromTable(target,
        org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral))
      assert(out.collect { case r: DataSourceV2Relation => r }.exists(_ eq target),
        s"write target was wrapped: $out")
    } finally spark.conf.unset("spark.graft.principal")
  }

  test("a session without GraftExtensions refuses governed tables instead of reading them raw") {
    // no GraftGovernance rule runs there, so the read path fails closed —
    // catalog reads always, path reads when the session acts as a principal
    val bare = SparkSpec.withoutExtensions()
    bare.conf.set("spark.sql.catalog.graftgv", "graft.catalog.GraftCatalog")
    bare.conf.set("spark.sql.catalog.graftgv.warehouse", SparkSpec.warehouse)
    val path = s"${SparkSpec.warehouse}/db/gov_users"
    def refused(read: => Any): Unit = {
      val e = intercept[Exception](read)
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msg.contains("spark.sql.extensions=graft.GraftExtensions"), msg)
    }
    SparkSpec.active(bare) {
      refused(bare.sql("SELECT count(*), max(spend) FROM graftgv.db.gov_users").collect())
      refused(bare.sql("SELECT email FROM graftgv.db.gov_users VERSION AS OF 1").collect())
      bare.conf.set("spark.graft.principal", "analyst")
      try refused(bare.read.format("graft").load(path).collect())
      finally bare.conf.unset("spark.graft.principal")
      // unprincipaled path reads stay engine-internal, as with the extensions
      assert(bare.read.format("graft").load(path).count() == 5)
    }
  }

  test("dropping the properties lifts the policies") {
    sql("ALTER TABLE graft.db.gov_users UNSET TBLPROPERTIES ('graft.filter', 'graft.mask.email')")
    val rows = sql("SELECT email FROM graft.db.gov_users").collect()
    assert(rows.length == 5 && rows.exists(_.getString(0) == "ann@x.com"))
  }
}
