package graft

import java.nio.file.{Files, Paths}

/** End-to-end SQL surface through the DSv2 catalog — the reference's
  * spark-sql entry point re-created locally (reference README.md:35-46). */
class GraftCatalogSpec extends SparkSpec {

  private def wh = SparkSpec.warehouse

  private def init(): Unit = {
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
  }

  test("CREATE TABLE + INSERT INTO + SELECT round-trip") {
    init()
    spark.sql("CREATE TABLE graft.db.t1 (id BIGINT, name STRING, amount DOUBLE)")
    spark.sql("INSERT INTO graft.db.t1 VALUES (1, 'a', 10.0), (2, 'b', 20.0)")
    val rows = spark.sql("SELECT * FROM graft.db.t1 ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    spark.sql("INSERT INTO graft.db.t1 VALUES (3, 'c', 30.0)")
    assert(spark.sql("SELECT count(*) FROM graft.db.t1").collect()(0).getLong(0) == 3)
  }

  test("CTAS creates and populates in one statement") {
    init()
    spark.sql("CREATE TABLE graft.db.ctas AS SELECT 42L AS id, 'x' AS tag")
    val r = spark.sql("SELECT * FROM graft.db.ctas").collect()
    assert(r.length == 1 && r(0).getLong(0) == 42L)
  }

  test("INSERT OVERWRITE replaces table contents") {
    init()
    spark.sql("CREATE TABLE graft.db.ow (id BIGINT)")
    spark.sql("INSERT INTO graft.db.ow VALUES (1), (2)")
    spark.sql("INSERT OVERWRITE graft.db.ow VALUES (9)")
    assert(spark.sql("SELECT * FROM graft.db.ow").collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    init()
    spark.sql("CREATE TABLE graft.db.tt (id BIGINT)")
    spark.sql("INSERT INTO graft.db.tt VALUES (1)")     // v1
    Thread.sleep(5)
    val cut = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("INSERT INTO graft.db.tt VALUES (2)")     // v2
    assert(spark.sql("SELECT count(*) FROM graft.db.tt").collect()(0).getLong(0) == 2)
    assert(spark.sql("SELECT count(*) FROM graft.db.tt VERSION AS OF 1").collect()(0).getLong(0) == 1)
    val asOf = spark.sql(
      s"SELECT count(*) FROM graft.db.tt TIMESTAMP AS OF '${new java.sql.Timestamp(cut)}'")
      .collect()(0).getLong(0)
    assert(asOf == 1)
  }

  test("ALTER TABLE ADD / RENAME / DROP COLUMN via SQL") {
    init()
    spark.sql("CREATE TABLE graft.db.ev (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graft.db.ev VALUES (1, 'a')")
    spark.sql("ALTER TABLE graft.db.ev ADD COLUMN flag STRING")
    spark.sql("ALTER TABLE graft.db.ev RENAME COLUMN name TO label")
    val r = spark.sql("SELECT id, label, flag FROM graft.db.ev").collect()(0)
    assert(r.getLong(0) == 1L && r.getString(1) == "a" && r.isNullAt(2))
    spark.sql("ALTER TABLE graft.db.ev DROP COLUMN flag")
    assert(spark.sql("SELECT * FROM graft.db.ev").columns.toSeq == Seq("id", "label"))
  }

  test("ADD COLUMN with DEFAULT: old files read the initial default, no rewrite") {
    init()
    spark.sql("CREATE TABLE graft.db.defc (id BIGINT)")
    spark.sql("INSERT INTO graft.db.defc VALUES (1), (2)")
    val t = graft.table.GraftTable.load(spark, s"${SparkSpec.warehouse}/db/defc")
    val filesBefore = t.log.current.files.map(_.path).toSet
    spark.sql("ALTER TABLE graft.db.defc ADD COLUMN score INT DEFAULT 42")
    spark.sql("INSERT INTO graft.db.defc VALUES (3, 7)")
    val rows = spark.sql("SELECT id, score FROM graft.db.defc ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows == Seq((1L, 42), (2L, 42), (3L, 7)), rows.toString)
    // pre-existing files were never rewritten — the default is metadata
    assert(filesBefore.subsetOf(t.log.current.files.map(_.path).toSet))
    // filters over the defaulted column see the default on old rows
    assert(spark.sql("SELECT count(*) FROM graft.db.defc WHERE score = 42")
      .collect()(0).getLong(0) == 2L)
    // write-side: an API append missing the column fills the default too
    t.append(spark.range(4, 5).toDF("id"))
    assert(spark.sql("SELECT score FROM graft.db.defc WHERE id = 4")
      .collect()(0).getInt(0) == 42)
  }

  test("nested-field schema evolution: add, rename, widen, drop inside a struct") {
    init()
    spark.sql("""CREATE TABLE graft.db.nest
      (id BIGINT, address STRUCT<city: STRING, zip: INT>)""")
    spark.sql("INSERT INTO graft.db.nest VALUES (1, named_struct('city', 'rome', 'zip', 100))")
    // add a nested field: old rows null-fill it
    spark.sql("ALTER TABLE graft.db.nest ADD COLUMN address.country STRING")
    val r1 = spark.sql("SELECT address.city, address.country FROM graft.db.nest").collect()(0)
    assert(r1.getString(0) == "rome" && r1.isNullAt(1))
    // rename a nested field: pure metadata, id keeps the file mapping
    spark.sql("ALTER TABLE graft.db.nest RENAME COLUMN address.zip TO postcode")
    assert(spark.sql("SELECT address.postcode FROM graft.db.nest").collect()(0).getInt(0) == 100)
    // widen a nested field: old files upcast on read
    spark.sql("ALTER TABLE graft.db.nest ALTER COLUMN address.postcode TYPE BIGINT")
    spark.sql("INSERT INTO graft.db.nest VALUES (2, named_struct('city', 'oslo', 'postcode', 2147483648L, 'country', 'no'))")
    assert(spark.sql("SELECT address.postcode FROM graft.db.nest ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(100L, 2147483648L))
    // drop a nested field: vanishes without touching data files
    spark.sql("ALTER TABLE graft.db.nest DROP COLUMN address.country")
    assert(spark.table("graft.db.nest").schema("address").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("city", "postcode"))
    // a null struct stays null through the projection (not a struct of nulls)
    spark.sql("INSERT INTO graft.db.nest VALUES (3, NULL)")
    assert(spark.sql("SELECT address FROM graft.db.nest WHERE id = 3").collect()(0).isNullAt(0))
  }

  test("SET/UNSET TBLPROPERTIES and column nullability through SQL") {
    init()
    spark.sql("CREATE TABLE graft.db.props (id BIGINT, v DOUBLE)")
    spark.sql("ALTER TABLE graft.db.props SET TBLPROPERTIES ('k1' = 'a', 'k2' = 'b')")
    val t = graft.table.GraftTable.load(spark, s"$wh/db/props")
    assert(t.log.current.properties.get("k1").contains("a"))
    spark.sql("ALTER TABLE graft.db.props UNSET TBLPROPERTIES ('k1')")
    val t2 = graft.table.GraftTable.load(spark, s"$wh/db/props")
    assert(!t2.log.current.properties.contains("k1") &&
      t2.log.current.properties.get("k2").contains("b"))
    // nullability tightening is a Scala-API op (Spark's analyzer refuses SQL
    // SET NOT NULL on any v2 table); it requires null-count PROOF from stats
    spark.sql("INSERT INTO graft.db.props VALUES (1, 1.0)")
    t2.updateColumnNullability("v", nullable = false)
    assert(!spark.table("graft.db.props").schema("v").nullable)
    // widening back is plain SQL
    spark.sql("ALTER TABLE graft.db.props ALTER COLUMN v DROP NOT NULL")
    assert(spark.table("graft.db.props").schema("v").nullable)
    // a column with live nulls refuses to tighten
    spark.sql("INSERT INTO graft.db.props VALUES (2, NULL)")
    val t3 = graft.table.GraftTable.load(spark, s"$wh/db/props")
    intercept[IllegalArgumentException] { t3.updateColumnNullability("v", nullable = false) }
  }

  test("CALL add_partition_field evolves the spec through SQL") {
    init()
    spark.sql("CREATE TABLE graft.db.apf (id BIGINT, ts TIMESTAMP)")
    spark.sql("CALL graft.system.add_partition_field('db.apf', 'days(ts)')")
    val t = graft.table.GraftTable.load(spark, s"$wh/db/apf")
    assert(t.log.current.properties.get("write.partition-by").contains("days(ts)"))
    spark.sql("CALL graft.system.drop_partition_field('db.apf', 'days(ts)')")
    val t2 = graft.table.GraftTable.load(spark, s"$wh/db/apf")
    assert(!t2.log.current.properties.getOrElse("write.partition-by", "").contains("days"))
  }

  test("DROP TABLE and SHOW TABLES") {
    init()
    spark.sql("CREATE TABLE graft.db.gone (id BIGINT)")
    assert(spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("gone"))
    spark.sql("DROP TABLE graft.db.gone")
    assert(!spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("gone"))
  }

  test("partitioned CREATE TABLE records the write distribution property") {
    init()
    spark.sql("CREATE TABLE graft.db.pt (id BIGINT, grp STRING) PARTITIONED BY (grp)")
    spark.sql("INSERT INTO graft.db.pt SELECT id, concat('g', id % 3) FROM range(30)")
    assert(spark.sql("SELECT count(DISTINCT grp) FROM graft.db.pt").collect()(0).getLong(0) == 3)
    val t = graft.table.GraftTable.load(spark, s"$wh/db/pt")
    assert(t.log.current.properties.get("write.partition-by").contains("grp"))
  }

  test("metadata tables via $ suffix: history, snapshots, files, partitions") {
    init()
    spark.sql("CREATE TABLE graft.db.meta1 (id BIGINT)")
    spark.sql("INSERT INTO graft.db.meta1 VALUES (1)")
    spark.sql("INSERT INTO graft.db.meta1 VALUES (2)")
    val hist = spark.sql("SELECT * FROM graft.db.`meta1$history` ORDER BY version").collect()
    assert(hist.map(_.getString(3)).toSeq == Seq("create", "append", "append"))
    val snaps = spark.sql("SELECT total_rows FROM graft.db.`meta1$snapshots` ORDER BY version").collect()
    assert(snaps.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(spark.sql("SELECT * FROM graft.db.`meta1$files`").count() == 2)
    assert(spark.sql("SELECT * FROM graft.db.`meta1$partitions`").count() >= 1)
  }

  test("scan pushdown: stats prune files, filtered SQL results stay exact") {
    init()
    spark.sql("CREATE TABLE graft.db.pr (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.pr SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)")
    spark.sql("INSERT INTO graft.db.pr SELECT id, CAST(id AS DOUBLE) FROM range(1000, 1100)")
    spark.sql("INSERT INTO graft.db.pr SELECT id, CAST(id AS DOUBLE) FROM range(2000, 2100)")
    val t = graft.table.GraftTable.load(spark, s"$wh/db/pr")
    val all = t.log.current.files
    assert(all.size >= 3)
    // log-level pruning: an equality in the middle range keeps only its files
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    assert(t.pruneFiles(t.log.current, Seq(EqualTo("id", 1050L))).size < all.size)
    assert(t.pruneFiles(t.log.current, Seq(GreaterThan("id", 5000L))).isEmpty)
    // null-count pruning: no file has null ids, so IS NULL scans nothing
    import org.apache.spark.sql.sources.IsNull
    assert(t.pruneFiles(t.log.current, Seq(IsNull("id"))).isEmpty)
    assert(spark.sql("SELECT count(*) FROM graft.db.pr WHERE id IS NULL").collect()(0).getLong(0) == 0)
    // SQL through the pruned scan still returns exact answers
    assert(spark.sql("SELECT count(*) FROM graft.db.pr WHERE id = 1050").collect()(0).getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM graft.db.pr WHERE id >= 2000").collect()(0).getLong(0) == 100)
    assert(spark.sql("SELECT count(*) FROM graft.db.pr WHERE id > 5000").collect()(0).getLong(0) == 0)
    // column pruning: projecting one column works through the narrowed schema
    assert(spark.sql("SELECT v FROM graft.db.pr WHERE id = 42").collect()(0).getDouble(0) == 42.0)
    // the DSv2 scan reports exact post-pruning statistics from the log (what
    // join reordering and the runtime filter read before the scan is swapped)
    val dsv2 = graft.catalog.GraftDsv2Table(t, "db.pr")
    def statsFor(fs: org.apache.spark.sql.sources.Filter*): (Long, Long) = {
      val sb = dsv2.newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
      sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(fs.toArray)
      val st = sb.build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
      (st.numRows().getAsLong, st.sizeInBytes().getAsLong)
    }
    val (allRows, allBytes) = statsFor()
    assert(allRows == 300 && allBytes > 0)
    val (prunedRows, prunedBytes) = statsFor(EqualTo("id", 1050L))
    assert(prunedRows < allRows && prunedBytes < allBytes && prunedRows >= 1)
  }

  test("SQL DELETE FROM and TRUNCATE TABLE run as row-level operations") {
    init()
    spark.sql("CREATE TABLE graft.db.del (id BIGINT, grp STRING)")
    spark.sql("INSERT INTO graft.db.del SELECT id, concat('g', id % 2) FROM range(10)")
    spark.sql("DELETE FROM graft.db.del WHERE grp = 'g1'")
    assert(spark.sql("SELECT count(*) FROM graft.db.del").collect()(0).getLong(0) == 5)
    assert(spark.sql("SELECT count(*) FROM graft.db.del WHERE grp = 'g1'").collect()(0).getLong(0) == 0)
    val t = graft.table.GraftTable.load(spark, s"$wh/db/del")
    assert(t.log.current.operation == "delete")
    spark.sql("TRUNCATE TABLE graft.db.del")
    assert(spark.sql("SELECT count(*) FROM graft.db.del").collect()(0).getLong(0) == 0)
  }

  test("joins between catalog tables and plain DataFrames work") {
    init()
    spark.sql("CREATE TABLE graft.db.dim (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.dim VALUES (0, 'even'), (1, 'odd')")
    val joined = spark.sql(
      "SELECT r.id, d.v FROM range(10) r JOIN graft.db.dim d ON r.id % 2 = d.k")
    assert(joined.count() == 10)
  }

  test("DataFrameWriterV2: writeTo(...).create / append / overwrite-by-filter") {
    init()
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo("graft.db.w2").create()
    Seq((3L, "c")).toDF("id", "v").writeTo("graft.db.w2").append()
    assert(spark.table("graft.db.w2").count() == 3)
    // replace only id >= 2 rows with the new data, in one snapshot commit
    Seq((9L, "z")).toDF("id", "v").writeTo("graft.db.w2").overwrite(col("id") >= 2L)
    assert(spark.table("graft.db.w2").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 9L))
    val t = graft.table.GraftTable.load(spark, s"$wh/db/w2")
    assert(t.log.current.operation == "overwrite")
    // overwrite(true) == full replacement
    Seq((7L, "q")).toDF("id", "v").writeTo("graft.db.w2").overwrite(lit(true))
    assert(spark.table("graft.db.w2").collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("branch identifiers: t$branch_dev reads the branch head and INSERT appends to it only") {
    spark.sql("DROP TABLE IF EXISTS graft.db.bt")
    spark.sql("CREATE TABLE graft.db.bt (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.bt VALUES (1, 'main'), (2, 'main')")
    spark.sql("CALL graft.system.create_branch('db.bt', 'dev')")
    spark.sql("INSERT INTO graft.db.`bt$branch_dev` VALUES (3, 'dev'), (4, 'dev')")
    // the branch sees main-at-fork plus its own appends; main is untouched
    val branchIds = spark.table("graft.db.`bt$branch_dev`")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(branchIds == Seq(1L, 2L, 3L, 4L))
    assert(spark.table("graft.db.bt").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // identifier read == VERSION AS OF 'dev' read
    val asOf = spark.sql("SELECT id FROM graft.db.bt VERSION AS OF 'dev'")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(asOf == branchIds)
    // append-only surface: overwrite and DELETE on the branch ident refuse
    intercept[Exception] {
      spark.sql("INSERT OVERWRITE graft.db.`bt$branch_dev` VALUES (9, 'x')")
    }
    intercept[Exception] {
      spark.sql("DELETE FROM graft.db.`bt$branch_dev` WHERE id = 3")
    }
    // no such branch / tag-not-branch both error clearly
    intercept[Exception] {
      spark.table("graft.db.`bt$branch_nope`").collect()
    }
    // publish: set main to the branch head (branch-ref publish mechanics are
    // GraftProceduresSpec territory; here just prove the data is reachable)
    val devV = graft.table.GraftTable.load(spark, s"$wh/db/bt").log.refs("dev").version
    spark.sql(s"CALL graft.system.set_current_snapshot('db.bt', $devV)")
    assert(spark.table("graft.db.bt").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }
}
