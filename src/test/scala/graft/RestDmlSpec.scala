package graft

import java.net.InetSocketAddress
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.rest.{RestCatalogClient, RestCatalogServer}

/** VERDICT r7 "Next round" #4: the full DML/procedures battery against the
  * REST-backed catalog (every commit CAS-arbitrated by the server over
  * HTTP), plus client resilience — transient-5xx retry and OAuth2
  * token-expiry refresh. */
class RestDmlSpec extends SparkSpec {

  private def server = RestCatalogSpec.server
  private def init(): Unit = {
    RestCatalogSpec.server
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.dml")
  }

  test("MERGE / UPDATE / DELETE run with server-arbitrated commits") {
    init()
    spark.sql("CREATE TABLE graftr.dml.batt (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftr.dml.batt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("""
      MERGE INTO graftr.dml.batt t
      USING (SELECT * FROM VALUES (2, 'B2'), (4, 'd') AS s(id, v)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    spark.sql("UPDATE graftr.dml.batt SET v = 'A1' WHERE id = 1")
    spark.sql("DELETE FROM graftr.dml.batt WHERE id = 3")
    assert(spark.sql("SELECT id, v FROM graftr.dml.batt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "A1"), (2L, "B2"), (4L, "d")))
    // every one of those was a separate REST-arbitrated commit
    assert(spark.sql("SELECT count(*) FROM graftr.dml.`batt$history`")
      .collect()(0).getLong(0) == 5)
  }

  test("time travel, rollback, branch/tag procedures through the REST catalog") {
    init()
    spark.sql("CREATE TABLE graftr.dml.tt (id BIGINT)")
    spark.sql("INSERT INTO graftr.dml.tt VALUES (1)")
    spark.sql("INSERT INTO graftr.dml.tt VALUES (2)")
    // time travel reads the server-resolved snapshot log
    assert(spark.sql("SELECT count(*) FROM graftr.dml.tt VERSION AS OF 1")
      .collect()(0).getLong(0) == 1)
    // refs: created/dropped via procedures, arbitrated by the server
    spark.sql("CALL graftr.system.create_tag('dml.tt', 'v1', 1)")
    assert(spark.sql("SELECT count(*) FROM graftr.dml.tt VERSION AS OF 'v1'")
      .collect()(0).getLong(0) == 1)
    // rollback moves HEAD server-side; a fresh read sees the old state
    spark.sql("CALL graftr.system.rollback_to_snapshot('dml.tt', 1)")
    assert(spark.sql("SELECT count(*) FROM graftr.dml.tt").collect()(0).getLong(0) == 1)
    spark.sql("CALL graftr.system.set_current_snapshot('dml.tt', 2)")
    assert(spark.sql("SELECT count(*) FROM graftr.dml.tt").collect()(0).getLong(0) == 2)
    // expire keeps the table readable; the tag PROTECTS its snapshot
    spark.sql("INSERT INTO graftr.dml.tt VALUES (3)")
    spark.sql("CALL graftr.system.expire_snapshots(`table` => 'dml.tt', keep_last => 1)")
    assert(spark.sql("SELECT count(*) FROM graftr.dml.tt").collect()(0).getLong(0) == 3)
    assert(spark.sql("SELECT count(*) FROM graftr.dml.`tt$history`")
      .collect()(0).getLong(0) == 2, "HEAD + the tagged snapshot survive")
    // dropping the ref releases it; a second expire prunes to HEAD only
    spark.sql("CALL graftr.system.drop_ref('dml.tt', 'v1')")
    spark.sql("CALL graftr.system.expire_snapshots(`table` => 'dml.tt', keep_last => 1)")
    assert(spark.sql("SELECT count(*) FROM graftr.dml.`tt$history`")
      .collect()(0).getLong(0) == 1)
  }

  test("client retries transient 503s and completes the operation") {
    init()
    // flaky reverse proxy: first N requests get 503, the rest forward to
    // the real server — the maintenance-window shape a catalog LB presents
    val failures = new AtomicInteger(2)
    val http = HttpClient.newHttpClient()
    val proxy = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    proxy.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (failures.getAndDecrement() > 0) {
        val msg = "{\"error\":\"service unavailable\"}".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(503, msg.length); ex.getResponseBody.write(msg); ex.close()
      } else {
        val b = HttpRequest.newBuilder(java.net.URI.create(
          s"${server.uri}${ex.getRequestURI}"))
        Option(ex.getRequestHeaders.getFirst("Authorization"))
          .foreach(a => b.header("Authorization", a))
        Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .foreach(c => b.header("Content-Type", c))
        val req = (ex.getRequestMethod match {
          case "GET" => b.GET()
          case "DELETE" => b.DELETE()
          case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
        }).build()
        val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
        val bytes = resp.body().getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(resp.statusCode(), if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    proxy.start()
    try {
      // token grant goes to the REAL server (no proxy flake in auth), then
      // the first two catalog calls hit 503 and must be replayed
      val direct = new RestCatalogClient(server.uri, Some("engine-a:secret-a"), None)
      val flaky = new RestCatalogClient(
        s"http://127.0.0.1:${proxy.getAddress.getPort}", None, Some(direct.token))
      assert(failures.get() == 2)
      assert(flaky.listNamespaces().nonEmpty) // retried through both 503s
      assert(failures.get() <= 0, "the 503 responses must have been consumed by retries")
    } finally proxy.stop(0)
  }

  test("a 503 on a non-idempotent POST is surfaced, never replayed") {
    init()
    // behind a proxy/LB a 503 can arrive AFTER the backend applied the
    // commit — outcome unknown, same hazard as a mid-flight IOException.
    // The client must fail loudly instead of replaying (a replay that
    // landed would 409 and the table layer's conflict retry would then
    // double-apply the mutation).
    val hits = new AtomicInteger(0)
    val proxy = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    proxy.createContext("/", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      hits.incrementAndGet()
      val msg = "{\"error\":\"service unavailable\"}".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(503, msg.length); ex.getResponseBody.write(msg); ex.close()
    })
    proxy.start()
    try {
      val direct = new RestCatalogClient(server.uri, Some("engine-a:secret-a"), None)
      val always503 = new RestCatalogClient(
        s"http://127.0.0.1:${proxy.getAddress.getPort}", None, Some(direct.token))
      val e = intercept[IllegalStateException] {
        always503.createNamespace(Seq("post503"))
      }
      assert(e.getMessage.contains("503"))
      assert(hits.get() == 1, "the POST must have been dispatched exactly once (no replay)")
    } finally proxy.stop(0)
  }

  test("expired bearer token is refreshed with a new grant, not surfaced") {
    // dedicated server with a 300ms token TTL
    val wh = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "rest-ttl-").toString
    val ttlServer = new RestCatalogServer(wh, Map("eng" -> "pw"), tokenTtlMs = 300L).start()
    try {
      val c = new RestCatalogClient(ttlServer.uri, Some("eng:pw"), None)
      val t0 = c.token
      c.createNamespace(Seq("ns1"))
      Thread.sleep(400L) // let the token expire server-side
      // next call gets 401, client re-grants and replays transparently
      assert(c.listNamespaces() == Seq(Seq("ns1")))
      assert(c.token != t0, "a fresh token must have been granted")
      // a preset-token client CANNOT refresh: expiry surfaces as 401
      val preset = new RestCatalogClient(ttlServer.uri, None, Some(t0))
      val e = intercept[IllegalStateException] { preset.listNamespaces() }
      assert(e.getMessage.contains("401"))
    } finally ttlServer.stop()
  }

  /** The same warehouse behind a plain (non-REST) graft catalog: its reads
    * prune the snapshot log locally, the baseline server planning must
    * match. */
  private def initLocal(): Unit = {
    spark.conf.set("spark.sql.catalog.graftl", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftl.warehouse", server.warehouse)
  }

  private def canon(ps: Set[String]): Set[String] = ps.map(graft.table.GraftTable.canonStr)

  test("plan-mode=server: the full MERGE/UPDATE/DELETE battery stays exact") {
    init()
    spark.sql("DROP TABLE IF EXISTS graftr.dml.sbatt")
    spark.sql("CREATE TABLE graftr.dml.sbatt (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftr.dml.sbatt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("""
      MERGE INTO graftr.dml.sbatt t
      USING (SELECT * FROM VALUES (2, 'B2'), (4, 'd') AS s(id, v)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    spark.sql("UPDATE graftr.dml.sbatt SET v = 'A1' WHERE id = 1")
    spark.sql("DELETE FROM graftr.dml.sbatt WHERE id = 3")
    assert(spark.sql("SELECT id, v FROM graftr.dml.sbatt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "A1"), (2L, "B2"), (4L, "d")))
    // time travel plans the OLD snapshot via the endpoint
    assert(spark.sql("SELECT count(*) FROM graftr.dml.sbatt VERSION AS OF 1")
      .collect()(0).getLong(0) == 3)
  }

  test("a catalog SELECT on a REST-backed table plans through the catalog by default") {
    init()
    spark.sql("DROP TABLE IF EXISTS graftr.dml.dflt")
    spark.sql("CREATE TABLE graftr.dml.dflt (id BIGINT)")
    spark.sql("INSERT INTO graftr.dml.dflt VALUES (1), (2)")
    spark.sql("INSERT INTO graftr.dml.dflt VALUES (10), (11)")
    // no session setting asks for it: the table's REST log alone decides
    val before = graft.table.GraftTable.serverPlanCount.get()
    assert(spark.sql("SELECT id FROM graftr.dml.dflt WHERE id > 5 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 11L))
    assert(graft.table.GraftTable.serverPlanCount.get() > before,
      "a REST-backed read did not consult the plan endpoint")
  }

  test("a plan response that names a file twice is refused: each row is read once") {
    init()
    spark.sql("DROP TABLE IF EXISTS graftr.dml.dupplan")
    spark.sql("CREATE TABLE graftr.dml.dupplan (id BIGINT)")
    spark.sql("INSERT INTO graftr.dml.dupplan VALUES (1), (2)")
    spark.sql("INSERT INTO graftr.dml.dupplan VALUES (3), (4)")
    val client = new RestCatalogClient(server.uri, Some("engine-a:secret-a"), None)
    val asked = new AtomicInteger()
    val t = graft.table.GraftTable.load(spark, s"${server.warehouse}/dml/dupplan",
      p => new graft.rest.RestSnapshotLog(p, client, Seq("dml"), "dupplan") {
        // a catalog that repeats its first planned path
        override def planDataFiles(filterJson: Option[String],
            snapshotId: Option[Long]): Seq[String] = {
          asked.incrementAndGet()
          val planned = super.planDataFiles(filterJson, snapshotId)
          planned ++ planned.take(1)
        }
      })
    val before = graft.table.GraftTable.serverPlanCount.get()
    val rows = t.readPruned(t.log.current, Seq.empty).collect().map(_.getLong(0)).sorted.toSeq
    assert(asked.get() > 0, "the read never asked the catalog for a plan")
    assert(rows == Seq(1L, 2L, 3L, 4L))
    assert(graft.table.GraftTable.serverPlanCount.get() == before,
      "a plan with a repeated file must not count as a server plan")
  }

  test("plan-mode=server: a dead/erroring plan endpoint falls back to local pruning") {
    init()
    spark.sql("DROP TABLE IF EXISTS graftr.dml.fback")
    spark.sql("CREATE TABLE graftr.dml.fback (id BIGINT)")
    spark.sql("INSERT INTO graftr.dml.fback VALUES (1), (2)")
    spark.sql("INSERT INTO graftr.dml.fback VALUES (20), (21)")
    val loc = {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val http = HttpClient.newHttpClient()
      val tok = {
        val r = http.send(HttpRequest.newBuilder(
            java.net.URI.create(s"${server.uri}/v1/oauth/tokens"))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(HttpRequest.BodyPublishers.ofString(
            "grant_type=client_credentials&client_id=engine-a&client_secret=secret-a"))
          .build(), HttpResponse.BodyHandlers.ofString())
        (org.json4s.jackson.JsonMethods.parse(r.body()) \ "access_token").extract[String]
      }
      val r = http.send(HttpRequest.newBuilder(
          java.net.URI.create(s"${server.uri}/v1/namespaces/dml/tables/fback"))
        .header("Authorization", s"Bearer $tok").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (org.json4s.jackson.JsonMethods.parse(r.body()) \ "location").extract[String]
    }
    // a RestSnapshotLog whose client points at a DEAD port: snapshot READS
    // still come from shared storage (the IRC split), but planScan throws —
    // the pruned read must fall back to local pruning, not fail
    val deadClient = new RestCatalogClient("http://127.0.0.1:1", None, Some("dead-token"))
    val t = graft.table.GraftTable.load(spark, loc,
      p => new graft.rest.RestSnapshotLog(p, deadClient, Seq("dml"), "fback"))
    val before = graft.table.GraftTable.serverPlanCount.get()
    val rows = t.readPruned(t.log.current,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 15L)))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(20L, 21L))
    assert(graft.table.GraftTable.serverPlanCount.get() == before,
      "a dead endpoint cannot have produced a successful server plan")
  }

  test("plan-mode=server: a filter the wire can't express still reads exactly") {
    init()
    spark.sql("DROP TABLE IF EXISTS graftr.dml.inexpr")
    spark.sql("CREATE TABLE graftr.dml.inexpr (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftr.dml.inexpr VALUES (1, 'apple'), (2, 'banana')")
    spark.sql("INSERT INTO graftr.dml.inexpr VALUES (3, 'apricot'), (4, 'cherry')")
    // LIKE 'a%' pushes StringStartsWith, which IcebergFilterJson drops —
    // the server plans a SUPERSET and the engine's own filter still
    // applies over the returned rows
    val rows = spark.sql(
      "SELECT v FROM graftr.dml.inexpr WHERE v LIKE 'a%' ORDER BY v")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("apple", "apricot"))
    // NOT <pred> drops whole (negation flips polarity): still exact
    val neg = spark.sql(
      "SELECT id FROM graftr.dml.inexpr WHERE NOT (id > 2) ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(neg == Seq(1L, 2L))
  }

  test("plan-mode=server: a catalog-routed SELECT builds its scan from the plan endpoint") {
    init()
    initLocal()
    spark.sql("DROP TABLE IF EXISTS graftr.dml.srvplan")
    spark.sql("CREATE TABLE graftr.dml.srvplan (id BIGINT, v STRING)")
    // three commits -> multiple files with disjoint id ranges (prunable)
    spark.sql("INSERT INTO graftr.dml.srvplan VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graftr.dml.srvplan VALUES (10, 'c'), (11, 'd')")
    spark.sql("INSERT INTO graftr.dml.srvplan VALUES (20, 'e'), (21, 'f')")
    val q = "SELECT id, v FROM %s.dml.srvplan WHERE id > 15 ORDER BY id"
    val localRows = spark.sql(q.format("graftl")).collect().map(_.getLong(0)).toSeq
    val localFiles = spark.sql(q.format("graftl")).inputFiles.toSet
    assert(localRows == Seq(20L, 21L))

    val before = graft.table.GraftTable.serverPlanCount.get()
    val serverRows = spark.sql(q.format("graftr")).collect().map(_.getLong(0)).toSeq
    val serverFiles = spark.sql(q.format("graftr")).inputFiles.toSet
    // 1. the read PROVABLY planned through the endpoint (no silent fallback)
    assert(graft.table.GraftTable.serverPlanCount.get() > before,
      "read did not consult the plan endpoint")
    // 2. pruning stays exact: same rows, same files as local planning
    assert(serverRows == localRows)
    assert(canon(serverFiles) == canon(localFiles))
    // 3. the scan's file list IS the endpoint's response for this filter
    val client = new RestCatalogClient(server.uri, Some("engine-a:secret-a"), None)
    val plannedFiles = client.planScan(Seq("dml"), "srvplan",
      Some("""{"type":"gt","term":"id","value":15}""")).map(_.dataFile).toSet
    assert(canon(serverFiles) == canon(plannedFiles),
      s"scan read $serverFiles but the endpoint planned $plannedFiles")
    assert(plannedFiles.size < canon(spark.sql(
      "SELECT * FROM graftr.dml.srvplan").inputFiles.toSet).size,
      "filter pruned nothing - the equality above would be vacuous")

    // MOR correctness with server planning: deletes still bite
    spark.sql("DELETE FROM graftr.dml.srvplan WHERE id = 20")
    assert(spark.sql(q.format("graftr")).collect().map(_.getLong(0)).toSeq == Seq(21L))
  }

  test("plan-mode=server: timestamp range predicates prune SERVER-side (VERDICT r16 #1)") {
    init()
    initLocal()
    spark.sql("DROP TABLE IF EXISTS graftr.dml.tsplan")
    spark.sql("CREATE TABLE graftr.dml.tsplan (id BIGINT, ev TIMESTAMP)")
    // three commits with disjoint event-time ranges — the dominant 100 TB
    // predicate shape; before canonical bounds the endpoint planned the
    // FULL list for these
    spark.sql("INSERT INTO graftr.dml.tsplan VALUES " +
      "(1, TIMESTAMP'2026-01-01 00:00:00'), (2, TIMESTAMP'2026-01-01 12:00:00')")
    spark.sql("INSERT INTO graftr.dml.tsplan VALUES " +
      "(3, TIMESTAMP'2026-02-01 00:00:00'), (4, TIMESTAMP'2026-02-01 12:00:00')")
    spark.sql("INSERT INTO graftr.dml.tsplan VALUES " +
      "(5, TIMESTAMP'2026-03-01 00:00:00'), (6, TIMESTAMP'2026-03-01 12:00:00')")
    val q = "SELECT id FROM %s.dml.tsplan " +
      "WHERE ev >= TIMESTAMP'2026-02-15 00:00:00' ORDER BY id"
    val localRows = spark.sql(q.format("graftl")).collect().map(_.getLong(0)).toSeq
    val localFiles = spark.sql(q.format("graftl")).inputFiles.toSet
    assert(localRows == Seq(5L, 6L))
    val allFiles = spark.sql("SELECT * FROM graftl.dml.tsplan").inputFiles.toSet
    assert(localFiles.size < allFiles.size, "local pruning must already prune")

    val before = graft.table.GraftTable.serverPlanCount.get()
    val serverRows = spark.sql(q.format("graftr")).collect().map(_.getLong(0)).toSeq
    val serverFiles = spark.sql(q.format("graftr")).inputFiles.toSet
    assert(graft.table.GraftTable.serverPlanCount.get() > before,
      "read did not consult the plan endpoint")
    assert(serverRows == localRows)
    // the SERVER pruned (planned < full) and exactly as well as local
    assert(canon(serverFiles) == canon(localFiles),
      s"server planned $serverFiles, local pruned $localFiles")
    // raw endpoint check with the emitter's own canonical literal
    val client = new RestCatalogClient(server.uri, Some("engine-a:secret-a"), None)
    val lit = graft.table.GraftTable.tsCanon(
      java.time.Instant.parse("2026-02-15T00:00:00Z").toEpochMilli * 1000L)
    val planned = client.planScan(Seq("dml"), "tsplan",
      Some(s"""{"type":"gt-eq","term":"ev","value":"$lit"}""")).map(_.dataFile).toSet
    assert(canon(planned) == canon(localFiles),
      s"endpoint planned $planned, local pruned $localFiles")
  }

  test("IcebergFilterJson: canonical timestamp literals, not-null, and OR conservatism") {
    import org.apache.spark.sql.sources._
    import graft.rest.IcebergFilterJson
    val inst = java.time.Instant.parse("2026-02-15T00:00:00.123456Z")
    val asTs = java.sql.Timestamp.from(inst)
    val asLdt = java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
    // instant forms render the canonical UTC string WITH the explicit
    // offset (Iceberg's timestamptz single-value convention); the NTZ
    // wall-clock form stays bare
    Seq[Any](inst, asTs).foreach { v =>
      val j = IcebergFilterJson.of(Seq(GreaterThanOrEqual("ev", v)))
      assert(j.exists(_.contains(""""value":"2026-02-15T00:00:00.123456+00:00"""")), s"$v -> $j")
    }
    assert(IcebergFilterJson.of(Seq(GreaterThanOrEqual("ev", asLdt)))
      .exists(_.contains(""""value":"2026-02-15T00:00:00.123456"""")))
    // and the offset form round-trips through the literal parser
    assert(graft.table.GraftTable.tsLitMicros("2026-02-15T00:00:00.123456+00:00")
      == graft.table.GraftTable.tsLitMicros(inst))
    assert(graft.table.GraftTable.tsLitMicros("2026-02-15T14:00:00.123456+14:00")
      == graft.table.GraftTable.tsLitMicros(inst))
    assert(IcebergFilterJson.of(Seq(IsNotNull("v")))
      .contains("""{"type":"not-null","term":"v"}"""))
    // an OR whose side is inexpressible is dropped WHOLE (emitting half an
    // OR would be a stronger filter — the server could prune files the
    // other branch matches); IsNotNull is now expressible, Not is not
    assert(IcebergFilterJson.of(Seq(Or(IsNotNull("v"), Not(EqualTo("id", 1L))))).isEmpty)
    assert(IcebergFilterJson.of(Seq(Or(IsNotNull("v"), IsNull("v")))).nonEmpty)
  }

  test("plan-mode=server: IS NOT NULL prunes all-null files over the wire (VERDICT r16 #4)") {
    init()
    spark.sql("DROP TABLE IF EXISTS graftr.dml.nnplan")
    spark.sql("CREATE TABLE graftr.dml.nnplan (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftr.dml.nnplan VALUES (1, CAST(NULL AS STRING)), (2, CAST(NULL AS STRING))")
    spark.sql("INSERT INTO graftr.dml.nnplan VALUES (3, 'x'), (4, NULL)")
    val client = new RestCatalogClient(server.uri, Some("engine-a:secret-a"), None)
    val full = client.planScan(Seq("dml"), "nnplan").map(_.dataFile).toSet
    val notNull = client.planScan(Seq("dml"), "nnplan",
      Some("""{"type":"not-null","term":"v"}""")).map(_.dataFile).toSet
    assert(notNull.size < full.size, s"all-null file not pruned: $notNull of $full")
    // exactness through the engine's server-planned read
    assert(spark.sql(
      "SELECT id FROM graftr.dml.nnplan WHERE v IS NOT NULL").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    assert(spark.sql(
      "SELECT id FROM graftr.dml.nnplan WHERE v IS NULL ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
  }
}
