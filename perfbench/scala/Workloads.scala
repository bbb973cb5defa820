package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, when, xxhash64}
import graft.{SparkEntry, Tables}

/** Helpers shared by the workloads. */
object Gen {
  def shuffle[T](rng: java.util.Random, xs: Seq[T]): Seq[T] = {
    val a = ArrayBuffer(xs: _*)
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Order-independent fingerprint of a result: row count plus the sum of
    * per-row hashes folded into a prime field (no overflow under ANSI). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Run set-up steps concurrently (never the measured ops). */
  def par[T](steps: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(3, steps.size))
    try steps.map(f => pool.submit(() => f())).map(_.get())
    finally pool.shutdown()
  }
}

/** olap-scan: the 12 headline queries (q01–q12 of `SparkEntry.queries`)
  * over the seven star-schema tables, imported metadata-only through
  * `CALL …system.import_parquet`, each sunk to `noop`. Every round runs each
  * query once in seeded order and, after every fourth query, appends the
  * last four queries' names to a small `results` table: three small commits
  * per round, the only writes. The tables never change, so the correctness
  * gate runs in set-up: each query runs once on the raw parquet files
  * (while the tables register) and once through the catalog, and their
  * result fingerprints must agree. */
final class OlapScan extends Workload {
  val roundSeconds = 12.0
  private val star = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val tables: Seq[String] = star :+ "results"
  private val queries = SparkEntry.queries
  private val headline: Seq[String] = (1 to 12).map(i => f"q$i%02d").map { p =>
    queries.keys.find(_.startsWith(p + "_")).getOrElse(
      throw new IllegalStateException(s"headline query $p is missing"))
  }
  private var resultRows = 0L
  private var rawPrints: java.util.concurrent.Future[Seq[(Long, Long)]] = _

  private def prints(s: org.apache.spark.sql.SparkSession, dir: String): Seq[(Long, Long)] =
    Gen.par(headline.map(q => () => Gen.fingerprint(queries(q)(s, dir))))

  def register(b: LakeBench): Unit = {
    // the raw-parquet half of the gate needs no catalog: a second session
    // without the catalog routing computes it while the imports run
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    rawPrints = pool.submit(() => prints(b.spark.newSession(), b.dataDir))
    pool.shutdown()
    Gen.par(star.map(t => () => b.spark.sql(
      s"CALL ${b.Cat}.system.import_parquet('${b.Ns}.$t', '${b.dataDir}/$t.parquet')")))
    b.spark.sql(s"CREATE TABLE ${b.tbl("results")} (round INT, pos INT, template STRING)")
    b.spark.conf.set(Tables.CatalogConf, s"${b.Cat}.${b.Ns}")
  }

  private def insert(b: LakeBench, r: Int, first: Int, names: Seq[String]): Op = {
    val values = names.zipWithIndex.map { case (q, i) => s"($r, ${first + i}, '$q')" }
    Op("results.insert", Write,
      () => b.spark.sql(s"INSERT INTO ${b.tbl("results")} VALUES ${values.mkString(", ")}"),
      onOk = () => resultRows += names.size, table = "results", userRows = names.size)
  }

  override def warm(b: LakeBench): Seq[Rec] = {
    val viaCatalog = prints(b.spark, b.dataDir)
    val viaRaw = rawPrints.get()
    b.gateErrors ++= headline.indices.filter(i => viaCatalog(i) != viaRaw(i)).map(i =>
      s"${headline(i)}: catalog fingerprint ${viaCatalog(i)} != raw parquet ${viaRaw(i)}")
    // the fingerprint plans end in an aggregate, not the noop sink: one
    // round of the real ops too (measured rounds ran ~18% faster than the
    // first one without it)
    b.runRound(measured = false)
  }

  def round(b: LakeBench, r: Int): Seq[Op] =
    // read-only tables: the seeded order changes no template's table state
    Gen.shuffle(b.rng, headline).grouped(4).zipWithIndex.flatMap { case (group, g) =>
      group.map(q => Op(q, Read, () =>
        queries(q)(b.spark, b.dataDir).write.format("noop").mode("overwrite").save())) :+
        insert(b, r, 4 * g, group)
    }.toSeq

  def gate(b: LakeBench): Seq[String] = {
    val results = b.spark.table(b.tbl("results")).count()
    if (results == resultRows) Nil
    else Seq(s"results: $results rows, acknowledged inserts wrote $resultRows")
  }
}

/** The row-dml half of table-ops: two copies of `orders` (150k rows),
  * copy-on-write and merge-on-read, driven by the same seeded script: per
  * round one UPDATE (~1% of rows), DELETE (~0.1%), MERGE (~1%: half
  * matched, half new keys) and INSERT (1k rows), a point read and a
  * group-by read, then compaction and snapshot expiry. Each template runs
  * on both tables back to back. */
final class RowDml {
  private val modes = Seq("cow", "mor")
  val tables: Seq[String] = modes.map(m => s"orders_$m")
  private val initialRows = 150000
  /** Keys live in the generator's model (for point reads and row counts). */
  private val live = mutable.BitSet((0 until initialRows): _*)
  private var nextKey = initialRows.toLong
  /** The acknowledged writes per table: (round.template, reference step). */
  private val acked = modes.map(_ -> ArrayBuffer.empty[(String, DataFrame => DataFrame)]).toMap

  def register(b: LakeBench): Unit = {
    Gen.par(modes.map(m => () => b.spark.sql(
      s"CALL ${b.Cat}.system.import_parquet('${b.Ns}.orders_$m', '${b.dataDir}/orders_$m')")))
    b.spark.sql(s"ALTER TABLE ${b.tbl("orders_mor")} SET TBLPROPERTIES " +
      "('write.delete.mode' = 'merge-on-read', 'write.update.mode' = 'merge-on-read', " +
      "'write.merge.mode' = 'merge-on-read')")
  }

  /** Column expressions of a generated order row keyed by `key`. */
  private def newRow(key: String): Seq[String] = Seq(
    s"CAST($key AS BIGINT) AS o_orderkey",
    s"CAST(($key) % 15000 AS BIGINT) AS o_custkey",
    "'O' AS o_orderstatus",
    s"CAST(1000 + ($key) % 1000 AS DOUBLE) AS o_totalprice",
    "TIMESTAMP_NTZ '2001-01-01 00:00:00' AS o_orderdate",
    "'3-MEDIUM' AS o_orderpriority")

  private def liveWhere(p: Long => Boolean): Long = live.iterator.count(k => p(k.toLong)).toLong

  def round(b: LakeBench, r: Int): Seq[Op] = {
    val spark = b.spark
    val ru = b.rng.nextInt(97)
    val rd = b.rng.nextInt(997)
    val rm = b.rng.nextInt(200)
    val mergeNew = nextKey
    val insertNew = nextKey + 750
    nextKey += 1750
    val mergeKey = s"CASE WHEN id < 750 THEN id * 200 + $rm ELSE $mergeNew + id - 750 END"
    val point = pointKey(b.rng)

    // user rows each write changes, from the generator's model
    val updRows = liveWhere(_ % 97 == ru)
    val delRows = liveWhere(_ % 997 == rd)
    // advance the model as if every write succeeds (it only feeds row
    // counts and point keys; correctness is judged on acknowledged writes)
    live.filterInPlace(_ % 997 != rd)
    (0 until 750).foreach(i => live += (mergeNew + i).toInt)
    (0 until 1000).foreach(i => live += (insertNew + i).toInt)

    def write(name: String, rows: Long, sql: String => String,
        ref: DataFrame => DataFrame): Seq[Op] = modes.map { m =>
      val t = b.tbl(s"orders_$m")
      Op(s"$m.$name", Write, () => spark.sql(sql(t)), onOk = () => acked(m) += (s"$r.$name" -> ref),
        table = s"orders_$m", userRows = rows)
    }
    def read(name: String, sql: String => String): Seq[Op] = modes.map { m =>
      Op(s"$m.$name", Read, () => spark.sql(sql(b.tbl(s"orders_$m"))).collect())
    }

    val update = write("update", updRows,
      t => s"UPDATE $t SET o_totalprice = o_totalprice + 1.0D, o_orderstatus = 'U' " +
        s"WHERE o_orderkey % 97 = $ru",
      df => {
        val hit = col("o_orderkey") % 97 === ru
        df.withColumn("o_totalprice", when(hit, col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
          .withColumn("o_orderstatus", when(hit, lit("U")).otherwise(col("o_orderstatus")))
      })
    val delete = write("delete", delRows,
      t => s"DELETE FROM $t WHERE o_orderkey % 997 = $rd",
      df => df.filter(!(col("o_orderkey") % 997 === rd)))
    val source = s"SELECT ${newRow(mergeKey).mkString(", ")} FROM range(1500)"
    val merge = write("merge", 1500,
      t => s"MERGE INTO $t t USING ($source) s ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice * 2.0D, " +
        "o_orderpriority = '2-HIGH' WHEN NOT MATCHED THEN INSERT *",
      df => {
        val src = spark.sql(source)
        val key = df("o_orderkey") === src("o_orderkey")
        val matched = df.join(src, key, "left_semi")
          .withColumn("o_totalprice", col("o_totalprice") * 2.0)
          .withColumn("o_orderpriority", lit("2-HIGH"))
        val inserted = src.join(df, src("o_orderkey") === df("o_orderkey"), "left_anti")
        df.join(src, key, "left_anti").unionByName(matched).unionByName(inserted)
      })
    val insertSql = s"SELECT ${newRow(s"$insertNew + id").mkString(", ")} FROM range(1000)"
    val insert = write("insert", 1000,
      t => s"INSERT INTO $t $insertSql",
      df => df.unionByName(spark.sql(insertSql)))
    val pointRead = read("point", t => s"SELECT * FROM $t WHERE o_orderkey = $point")
    val agg = read("groupby", t =>
      s"SELECT o_orderstatus, count(*), sum(o_totalprice) FROM $t GROUP BY o_orderstatus")

    val maint = modes.flatMap { m =>
      val name = s"${b.Ns}.orders_$m"
      Seq(
        Op(s"$m.rewrite", Maint, () =>
          spark.sql(s"CALL ${b.Cat}.system.rewrite_data_files('$name', 4)"), table = s"orders_$m"),
        Op(s"$m.expire", Maint, () => spark.sql(
          s"CALL ${b.Cat}.system.expire_snapshots(`table` => '$name', keep_last => 2)"),
          table = s"orders_$m"))
    }
    // a fixed order, so that each template always meets the same table
    // state (merge-on-read reads after the round's deletes, for one)
    Seq(pointRead, update, delete, agg, merge, insert).flatten ++ maint
  }

  private def pointKey(rng: java.util.Random): Long = {
    var k = rng.nextInt(nextKey.toInt)
    while (!live(k)) k = rng.nextInt(nextKey.toInt)
    k.toLong
  }

  def gate(b: LakeBench): Seq[String] = {
    val spark = b.spark
    val base = spark.read.parquet(s"${b.dataDir}/orders.parquet")
    def replay(steps: Seq[DataFrame => DataFrame]): (Long, Long) =
      Gen.fingerprint(steps.zipWithIndex.foldLeft(base) { case (df, (f, i)) =>
        // cut the lineage every few steps so the plan stays small
        if (i % 6 == 5) f(df).localCheckpoint() else f(df)
      })
    // tables that acknowledged the same writes share one reference, so
    // matching it also means matching each other
    val cow = replay(acked("cow").map(_._2).toSeq)
    val want = Map("cow" -> cow, "mor" ->
      (if (acked("mor").map(_._1) == acked("cow").map(_._1)) cow
       else replay(acked("mor").map(_._2).toSeq)))
    def check(catalog: String, when: String): Seq[String] = modes.flatMap { m =>
      val got = Gen.fingerprint(spark.table(s"$catalog.${b.Ns}.orders_$m"))
      if (got == want(m)) None
      else Some(s"orders_$m ($when): (rows, hash) $got, reference script gives ${want(m)}")
    }
    check(b.Cat, "live") ++ check(b.reopen("lake_reopened"), "after reopening the warehouse")
  }
}

/** The catalog-meta half of table-ops: commit- and metadata-bound small
  * ops against `ev`, a table imported from 200 small files of 100 rows
  * (gen.py), clustered by id so that a point read prunes to one file. Per
  * round: two 10-row INSERTs (one commit each, so history grows), three
  * point reads, two `VERSION AS OF` counts at seeded past snapshots, a
  * `$history` and a `$files` read, DESCRIBE, SHOW TABLES, and a
  * foreign-engine leg (raw IRC loadTable, /plan and a metrics report over
  * HTTP), in a fixed order. */
final class CatalogMeta {
  val tables: Seq[String] = Seq("ev")
  private val kinds = Seq("click", "view", "buy", "share")
  private var nextId = 20000L
  /** version -> row count, for every snapshot the generator knows of (the
    * import commits version 0). */
  private val counts = mutable.LinkedHashMap(0L -> nextId)
  private var head = 0L
  /** Ids of acknowledged rows, for point keys. */
  private val ids = ArrayBuffer.tabulate(nextId.toInt)(_.toLong)
  private var salt = 0L
  private lazy val http = java.net.http.HttpClient.newHttpClient()
  private var foreignToken = ""

  private def value(id: Long): Long = (id * 7919 + salt) % 1000003

  def register(b: LakeBench): Unit = {
    salt = b.seed % 1000003
    b.spark.sql(s"CALL ${b.Cat}.system.import_parquet('${b.Ns}.ev', '${b.dataDir}/ev')")
    val versions = b.spark.sql(s"SELECT version FROM ${b.tbl("`ev$history`")} ORDER BY version")
      .collect().map(_.getLong(0)).toSeq
    require(versions == counts.keys.toSeq, s"ev: expected snapshots ${counts.keys}, found $versions")
    // the foreign engine holds its own token, like Trino's static catalog credential
    val resp = post(b, "/v1/oauth/tokens",
      "grant_type=client_credentials&client_id=bench&client_secret=bench-secret",
      "application/x-www-form-urlencoded", auth = false)
    foreignToken = "\"access_token\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(resp.body())
      .map(_.group(1)).getOrElse(throw new IllegalStateException("no token: " + resp.body()))
  }

  private def post(b: LakeBench, path: String, body: String, ctype: String,
      auth: Boolean = true): java.net.http.HttpResponse[String] = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(b.catalogUri + path))
      .header("Content-Type", ctype)
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
    if (auth) req.header("Authorization", s"Bearer $foreignToken")
    http.send(req.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
  }

  private def get(b: LakeBench, path: String): java.net.http.HttpResponse[String] =
    http.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(b.catalogUri + path))
      .header("Authorization", s"Bearer $foreignToken").GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())

  def round(b: LakeBench, r: Int): Seq[Op] = {
    val spark = b.spark
    val ev = b.tbl("ev")
    def q(sql: String): () => Array[Row] = () => spark.sql(sql).collect()
    def rowsOf(v: Any): Array[Row] = v.asInstanceOf[Array[Row]]
    def expect(what: String, got: Any, want: Any): Option[String] =
      if (got == want) None else Some(s"$what: got $got, expected $want")

    val inserts = Seq.fill(2) {
      val batch = nextId until nextId + 10
      nextId += 10
      val values = batch.map(i => s"($i, ${value(i)}, '${kinds((i % 4).toInt)}')").mkString(", ")
      Op("ev.insert", Write, () => spark.sql(s"INSERT INTO $ev VALUES $values"),
        onOk = () => { counts(head + 1) = counts(head) + 10; head += 1; ids ++= batch },
        table = "ev", userRows = 10)
    }
    val known = counts.keys.toIndexedSeq
    val points = Seq.fill(3) {
      val k = ids(b.rng.nextInt(ids.size))
      Op("ev.point", Read, q(s"SELECT id, v, kind FROM $ev WHERE id = $k"), check = v =>
        expect(s"point id=$k", rowsOf(v).map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          .toSeq, Seq((k, value(k), kinds((k % 4).toInt)))))
    }
    val travels = Seq.fill(2) {
      val v = known(b.rng.nextInt(known.size))
      Op("ev.time_travel", Read, q(s"SELECT count(*) FROM $ev VERSION AS OF $v"), check = res =>
        expect(s"count at version $v", rowsOf(res).head.getLong(0), counts(v)))
    }
    val history = Op("ev.history", Read, q(s"SELECT count(*) FROM ${b.tbl("`ev$history`")}"),
      check = res => expect("history length", rowsOf(res).head.getLong(0), counts.size.toLong))
    val files = Op("ev.files", Read,
      q(s"SELECT count(*), sum(rows) FROM ${b.tbl("`ev$files`")} WHERE content = 'data'"),
      check = res => expect("rows in $files", rowsOf(res).head.getLong(1), counts(head)))
    val describe = Op("ev.describe", Read, q(s"DESCRIBE TABLE $ev"), check = res =>
      expect("columns", rowsOf(res).take(3).map(_.getString(0)).toSeq, Seq("id", "v", "kind")))
    val show = Op("ev.show_tables", Read, q(s"SHOW TABLES IN ${b.Cat}.${b.Ns}"), check = res =>
      expect("ev listed", rowsOf(res).exists(_.getString(1) == "ev"), true))
    val fk = ids(b.rng.nextInt(ids.size))
    val foreign = Op("ev.foreign_plan", Read, () => {
      val base = s"/v1/iceberg/namespaces/${b.Ns}/tables/ev"
      val load = get(b, base)
      require(load.statusCode() == 200, s"loadTable answered ${load.statusCode()}")
      val plan = post(b, s"$base/plan",
        s"""{"filter":{"type":"eq","term":"id","value":$fk}}""", "application/json")
      require(plan.statusCode() == 200, s"plan answered ${plan.statusCode()}")
      val report = post(b, s"$base/metrics",
        s"""{"report-type":"scan-report","table-name":"${b.Ns}.ev","snapshot-id":$head,""" +
          """"filter":{"type":"eq","term":"id","value":""" + fk + """},"schema-id":0,""" +
          """"projected-field-ids":[1,2,3],"projected-field-names":["id","v","kind"],"metrics":{}}""",
        "application/json")
      require(report.statusCode() == 204, s"metrics answered ${report.statusCode()}")
      "\"data-file\"".r.findAllMatchIn(plan.body()).size
    }, check = n => expect(s"plan tasks for id=$fk", n.asInstanceOf[Int] >= 1, true))
    Seq(inserts(0), points(0), travels(0), history, points(1), files, describe,
      inserts(1), points(2), show, travels(1), foreign)
  }

  def gate(b: LakeBench): Seq[String] = {
    val spark = b.spark
    val n = spark.table(b.tbl("ev")).count()
    val h = spark.table(b.tbl("`ev$history`")).count()
    (if (n == counts(head)) Nil else Seq(s"ev: $n rows, generator tracked ${counts(head)}")) ++
      (if (h == counts.size) Nil else Seq(s"ev: history $h, generator tracked ${counts.size}"))
  }
}

/** table-ops: the row-dml and catalog-meta mixes in one JVM. Each round is
  * one row-dml round on the two `orders` tables followed by two
  * catalog-meta rounds on `ev`; templates are named `cow.*`, `mor.*` and
  * `ev.*`. */
final class TableOps extends Workload {
  private val dml = new RowDml
  private val meta = new CatalogMeta
  val roundSeconds = 20.0
  val tables: Seq[String] = dml.tables ++ meta.tables
  def register(b: LakeBench): Unit =
    Gen.par(Seq(() => dml.register(b), () => meta.register(b)))
  def round(b: LakeBench, r: Int): Seq[Op] = dml.round(b, r) ++ meta.round(b, r) ++ meta.round(b, r)
  // the row-dml gate ends by reopening the warehouse through a fresh server
  def gate(b: LakeBench): Seq[String] = meta.gate(b) ++ dml.gate(b)
}
