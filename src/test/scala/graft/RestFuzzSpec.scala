package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Adversarial fuzz of the ENTIRE REST catalog surface (VERDICT r17 #2) —
  * the PlanFuzzSpec pattern (seeded hostile inputs, independent oracle)
  * turned loose on namespace/table/view CRUD, commits, rename, register
  * and grants. The contract under attack input:
  *
  *   1. the server NEVER 5xxs — every outcome is 2xx or a 4xx whose body
  *      is the spec ErrorModel shape;
  *   2. no request without a live bearer token has ANY effect;
  *   3. no identifier — URL segment or JSON-body field — resolves a path
  *      outside the warehouse (no create/rename/drop/register escape);
  *   4. under enforcing grants, a SELECT-only principal cannot mutate
  *      anything (and the canary table proves it byte-for-byte).
  *
  * Runs against a PRIVATE server over a PRIVATE warehouse: the fuzz mints
  * junk namespaces and (in the grants leg) flips enforcement — neither may
  * leak into the shared RestCatalogSpec server other suites use.
  */
class RestFuzzSpec extends SparkSpec {
  private implicit val fmts: Formats = DefaultFormats
  private val http = HttpClient.newHttpClient()

  private lazy val wh =
    Files.createTempDirectory(Paths.get("target"), "graft-fuzz-wh-").toString
  private lazy val server = new graft.rest.RestCatalogServer(wh,
    Map("owner" -> "o-secret", "reader" -> "r-secret")).start()

  private def mint(id: String, secret: String): String = {
    val r = http.send(HttpRequest.newBuilder(
        URI.create(s"${server.uri}/v1/oauth/tokens"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(
        s"grant_type=client_credentials&client_id=$id&client_secret=$secret"))
      .build(), HttpResponse.BodyHandlers.ofString())
    (JsonMethods.parse(r.body()) \ "access_token").extract[String]
  }
  private lazy val ownerTok = mint("owner", "o-secret")
  private lazy val readerTok = mint("reader", "r-secret")

  private def req(method: String, path: String, body: Option[String],
      token: String): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"${server.uri}$path"))
      .header("Authorization", s"Bearer $token")
      .header("Content-Type", "application/json")
    body match {
      case Some(x) => b.method(method, HttpRequest.BodyPublishers.ofString(x))
      case None    => b.method(method, HttpRequest.BodyPublishers.noBody())
    }
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  // ---- canary fixture: state the fuzz must never perturb ------------------
  private lazy val canaryFixture: Unit = {
    spark.conf.set("spark.sql.catalog.graftfz", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftfz.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftfz.credential", "owner:o-secret")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftfz.fz")
    spark.sql("CREATE TABLE graftfz.fz.canary (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftfz.fz.canary VALUES (1,'a'), (2,'b'), (3,'c')")
  }
  /** (version, rows, schema json) read straight from STORAGE — independent
    * of every HTTP path under test. */
  private def canaryState(): (Long, Seq[(Long, String)], String) = {
    canaryFixture
    val t = graft.table.GraftTable.load(spark, s"$wh/fz/canary")
    val head = t.log.current
    (head.version,
      t.read.orderBy("id").collect().toSeq.map(r => (r.getLong(0), r.getString(1))),
      head.schemas(head.currentSchemaId.toString))
  }
  /** Top-level entries of the warehouse's PARENT dir — the escape canary:
    * no fuzz request may mint or remove anything beside the warehouse. */
  private def parentEntries(): Set[String] = {
    val s = java.nio.file.Files.list(Paths.get(wh).getParent)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  private def errorModel(resp: HttpResponse[String]): Unit = {
    val j = scala.util.Try(JsonMethods.parse(resp.body())).getOrElse(
      fail(s"4xx body is not JSON: ${resp.statusCode()} ${resp.body().take(200)}"))
    assert((j \ "error" \ "message").extractOpt[String].isDefined &&
      (j \ "error" \ "type").extractOpt[String].isDefined &&
      (j \ "error" \ "code").extractOpt[Int].contains(resp.statusCode()),
      s"4xx body is not the ErrorModel shape: ${resp.body().take(200)}")
  }

  // ---- seeded generators ---------------------------------------------------
  private val rnd = new scala.util.Random(180816L)
  private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))

  // NOTE: "canary" is deliberately NOT in this pool — the valid-token loop
  // may issue real DELETEs, and the canary's survival is the invariant
  private val hostileIds = Seq("..", ".", "", "a/b", "a\\b", "%2E%2E",
    "..%2F..", "%00x", "名前", "a b", "-", "fz", "other", "_graft", "_views",
    "_iceberg", "_staging-x", "x" * 300, "a\tb", "a%1Fb", "null", "grants")
  private def seg(): String =
    java.net.URLEncoder.encode(pick(hostileIds), "UTF-8")

  private val bodies = Seq(
    "{}", "", "{", "[1,2", "null", "true", "\"str\"", "[]",
    """{"name": 5}""", """{"name": null}""", """{"namespace": "not-a-list"}""",
    """{"namespace": [".."]}""", """{"namespace": ["a/b","c"]}""",
    """{"name":"x","schema":5}""", """{"name":"x"}""",
    """{"requirements": 7, "updates": "x"}""",
    """{"requirements": [{"type":"assert-create"}], "updates": []}""",
    """{"updates":[{"action":"set-properties","updates":{"k":"v"}}]}""",
    """{"source":{"namespace":["fz"],"name":"canary"},"destination":{"namespace":[".."],"name":"out"}}""",
    """{"source":5}""", """{"plan-task":"AAAA"}""", """{"filter":{"type":"and"}}""",
    """{"principal":"reader","privilege":"OWNER","securable":[]}""",
    """{"metadata-location":"/etc/passwd","name":"reg"}""",
    "[" * 2000, "{\"a\":" * 500 + "1" + "}" * 500,
    new String(Array[Byte](-1, -2, 0, 65), "ISO-8859-1"))

  private def fuzzPath(): String = {
    val prefix = pick(Seq("/v1", "/v1/iceberg"))
    pick[() => String](Seq(
      () => s"$prefix/namespaces",
      () => s"$prefix/namespaces/${seg()}",
      () => s"$prefix/namespaces/${seg()}/tables",
      () => s"$prefix/namespaces/${seg()}/tables/${seg()}",
      () => s"$prefix/namespaces/fz/tables/${seg()}",
      () => s"$prefix/namespaces/${seg()}/tables/${seg()}/${pick(Seq("plan", "tasks", "metrics", "credentials", "commit", "head", "refs", "plan/xyz"))}",
      () => s"$prefix/namespaces/${seg()}/views",
      () => s"$prefix/namespaces/${seg()}/views/${seg()}",
      () => s"$prefix/namespaces/${seg()}/register",
      () => s"$prefix/tables/rename",
      () => s"$prefix/views/rename",
      () => s"$prefix/transactions/commit",
      () => s"/v1/grants",
      () => s"/v1/grants/revoke",
      () => s"/v1/config",
      () => s"/v1/${seg()}/${seg()}"))()
  }
  private def fuzzMethod(): String = pick(Seq("GET", "POST", "DELETE", "HEAD", "PUT", "PATCH"))

  // ---- the properties -------------------------------------------------------

  test("forged / absent bearer: every route 401s (or 400s pre-auth), zero effects") {
    val before = canaryState()
    val parentBefore = parentEntries()
    val nsBefore = java.nio.file.Files.list(Paths.get(wh)).iterator().asScala
      .map(_.getFileName.toString).toSet
    for (i <- 1 to 400) {
      val m = fuzzMethod()
      val p = fuzzPath()
      if (p != "/v1/oauth/tokens") {
        val body = if (m == "GET" || m == "HEAD") None else Some(pick(bodies))
        val tok = pick(Seq("forged-" + rnd.nextInt(5), "", "a" * 600))
        val r = req(m, p, body, tok)
        assert(r.statusCode() == 401 || r.statusCode() == 405,
          s"iteration $i: $m $p with forged token -> ${r.statusCode()} ${r.body().take(120)}")
        if (r.statusCode() == 401 && m != "HEAD") errorModel(r)
      }
    }
    assert(canaryState() == before, "a forged-token request mutated the canary")
    assert(parentEntries() == parentBefore, "a forged-token request escaped the warehouse")
    val nsAfter = java.nio.file.Files.list(Paths.get(wh)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(nsAfter == nsBefore, "a forged-token request mutated the warehouse")
  }

  test("1200 hostile requests with a valid token: never a 5xx, 4xx bodies are ErrorModel") {
    canaryState()
    val parentBefore = parentEntries()
    var mutated4xx = 0
    for (i <- 1 to 1200) {
      val m = fuzzMethod()
      val p = fuzzPath()
      val body = if (m == "GET" || m == "HEAD") None else Some(pick(bodies))
      val r = req(m, p, body, ownerTok)
      assert(r.statusCode() < 500,
        s"iteration $i: $m $p body=${body.map(_.take(80))} -> 5xx ${r.statusCode()} ${r.body().take(300)}")
      if (r.statusCode() >= 400 && m != "HEAD" && r.body().nonEmpty) { errorModel(r); mutated4xx += 1 }
    }
    assert(mutated4xx > 300, s"only $mutated4xx 4xxs - generator not hostile enough?")
    assert(parentEntries() == parentBefore, "a hostile request escaped the warehouse")
    // the canary's DATA and SCHEMA survived 1200 hostile calls (version may
    // move if a random body formed a legal metadata-only commit; bytes no)
    val (_, rows, schemaJson) = canaryState()
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")), s"canary rows corrupted: $rows")
    assert(schemaJson.contains("\"id\"") && schemaJson.contains("\"v\""))
  }

  test("identifier escapes: create/rename/register/drop/view with .. or separators all 400, zero paths resolved") {
    canaryState()
    val parentBefore = parentEntries()
    def post(p: String, b: String) = req("POST", p, Some(b), ownerTok)
    val cases = Seq(
      post("/v1/iceberg/namespaces", """{"namespace":["../esc1"],"properties":{}}"""),
      post("/v1/iceberg/namespaces", """{"namespace":[".."],"properties":{}}"""),
      post("/v1/namespaces", """{"namespace":["..",".."]}"""),
      post("/v1/iceberg/namespaces/fz/tables",
        """{"name":"../esc2","schema":{"type":"struct","schema-id":0,"fields":[{"id":1,"name":"x","required":false,"type":"long"}]}}"""),
      post("/v1/iceberg/namespaces/fz/tables",
        """{"name":"_graft","schema":{"type":"struct","schema-id":0,"fields":[{"id":1,"name":"x","required":false,"type":"long"}]}}"""),
      post("/v1/iceberg/tables/rename",
        """{"source":{"namespace":["fz"],"name":"canary"},"destination":{"namespace":[".."],"name":"stolen"}}"""),
      post("/v1/iceberg/tables/rename",
        """{"source":{"namespace":["fz"],"name":"canary"},"destination":{"namespace":["fz"],"name":"../stolen"}}"""),
      post("/v1/iceberg/views/rename",
        """{"source":{"namespace":["fz"],"name":"../x"},"destination":{"namespace":["fz"],"name":"y"}}"""),
      post("/v1/iceberg/namespaces/fz/register",
        """{"name":"../reg","metadata-location":"/dev/null"}"""),
      post("/v1/iceberg/namespaces/fz/views",
        """{"name":"../v","schema":{"type":"struct","schema-id":0,"fields":[{"id":1,"name":"x","required":false,"type":"long"}]},"view-version":{"version-id":1,"representations":[{"type":"sql","sql":"SELECT 1","dialect":"spark"}],"schema-id":0,"default-namespace":[]}}"""),
      req("DELETE", "/v1/iceberg/namespaces/fz/tables/..?purgeRequested=true", None, ownerTok),
      req("DELETE", "/v1/iceberg/namespaces/fz/views/..", None, ownerTok),
      req("DELETE", "/v1/iceberg/namespaces/%2E%2E", None, ownerTok),
      req("GET", "/v1/iceberg/namespaces/fz/tables/..%2F..%2Fcanary", None, ownerTok))
    cases.zipWithIndex.foreach { case (r, i) =>
      assert(r.statusCode() == 400 || r.statusCode() == 404,
        s"case $i: expected 400/404, got ${r.statusCode()} ${r.body().take(200)}")
      errorModel(r)
    }
    assert(parentEntries() == parentBefore, "an identifier escape resolved outside the warehouse")
    // canary untouched, not renamed away, still loadable
    val (_, rows, _) = canaryState()
    assert(rows.size == 3)
    assert(!java.nio.file.Files.exists(Paths.get(wh).getParent.resolve("stolen")))
    assert(!java.nio.file.Files.exists(Paths.get(wh).resolve("fz").resolve("..#escape")))
  }

  test("malformed / requirement-free updateTable commits never corrupt the canary") {
    val before = canaryState()
    def commit(b: String) =
      req("POST", "/v1/iceberg/namespaces/fz/tables/canary", Some(b), ownerTok)
    val hostile = Seq(
      "{", "", "[]", """{"requirements": 5}""", """{"updates": 5}""",
      """{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":999999}],"updates":[]}""",
      """{"requirements":[{"type":"assert-create"}],"updates":[]}""",
      """{"requirements":[],"updates":[{"action":"no-such-action"}]}""",
      """{"requirements":[],"updates":[{"action":"add-snapshot","snapshot":{"snapshot-id":7}}]}""",
      """{"requirements":[],"updates":[{"action":"set-location","location":"/etc"}]}""",
      """{"requirements":[{"type": 9}],"updates":[{"action": []}]}""",
      """{"identifier":{"namespace":[".."],"name":"canary"},"requirements":[],"updates":[]}""")
    hostile.foreach { b =>
      val r = commit(b)
      assert(r.statusCode() < 500, s"commit body ${b.take(60)} -> ${r.statusCode()} ${r.body().take(200)}")
      if (r.statusCode() >= 400) errorModel(r)
    }
    val after = canaryState()
    assert(after._2 == before._2, s"hostile commits corrupted canary rows: ${after._2}")
    assert(after._3 == before._3, "hostile commits corrupted the canary schema")
  }

  test("grants enforcing: a SELECT-only principal cannot mutate anything (runs last)") {
    val before = canaryState()
    // flip THIS warehouse to enforcing: catalog OWNER, then SELECT for reader
    assert(req("POST", "/v1/grants",
      Some("""{"principal":"owner","privilege":"OWNER","securable":[]}"""),
      ownerTok).statusCode() == 200)
    assert(req("POST", "/v1/grants",
      Some("""{"principal":"reader","privilege":"SELECT","securable":["fz"]}"""),
      ownerTok).statusCode() == 200)
    assert(req("POST", "/v1/grants",
      Some("""{"principal":"reader","privilege":"SELECT","securable":["fz","canary"]}"""),
      ownerTok).statusCode() == 200)
    assert(req("POST", "/v1/grants",
      Some("""{"principal":"reader","privilege":"USE_SCHEMA","securable":["fz"]}"""),
      ownerTok).statusCode() == 200)
    // reader CAN read: load + plan
    assert(req("GET", "/v1/iceberg/namespaces/fz/tables/canary", None, readerTok)
      .statusCode() == 200)
    assert(req("POST", "/v1/iceberg/namespaces/fz/tables/canary/plan",
      Some("{}"), readerTok).statusCode() == 200)
    // reader CANNOT mutate — across every mutating shape, incl. grants
    val mutations = Seq(
      ("POST", "/v1/iceberg/namespaces/fz/tables/canary",
        Some("""{"requirements":[],"updates":[{"action":"set-properties","updates":{"k":"v"}}]}""")),
      ("DELETE", "/v1/iceberg/namespaces/fz/tables/canary", None),
      ("POST", "/v1/iceberg/namespaces/fz/tables",
        Some("""{"name":"evil","schema":{"type":"struct","schema-id":0,"fields":[{"id":1,"name":"x","required":false,"type":"long"}]}}""")),
      ("POST", "/v1/iceberg/tables/rename",
        Some("""{"source":{"namespace":["fz"],"name":"canary"},"destination":{"namespace":["fz"],"name":"mine"}}""")),
      ("POST", "/v1/iceberg/namespaces/fz/views",
        Some("""{"name":"evilview","schema":{"type":"struct","schema-id":0,"fields":[{"id":1,"name":"x","required":false,"type":"long"}]},"view-version":{"version-id":1,"representations":[{"type":"sql","sql":"SELECT 1","dialect":"spark"}],"schema-id":0,"default-namespace":[]}}""")),
      ("POST", "/v1/grants",
        Some("""{"principal":"reader","privilege":"OWNER","securable":[]}""")),
      ("POST", "/v1/grants/revoke",
        Some("""{"principal":"owner","privilege":"OWNER","securable":[]}""")),
      ("POST", "/v1/namespaces/fz/tables/canary/head", Some("""{"version":0}""")),
      ("DELETE", "/v1/iceberg/namespaces/fz", None))
    mutations.zipWithIndex.foreach { case ((m, p, b), i) =>
      val r = req(m, p, b, readerTok)
      assert(r.statusCode() == 403,
        s"mutation $i: $m $p as reader -> ${r.statusCode()} (want 403) ${r.body().take(160)}")
      errorModel(r)
    }
    // and 400 seeded-random mutating requests under enforcement: no 5xx,
    // no 2xx on a mutating route outside the reader's grants
    for (i <- 1 to 400) {
      val m = pick(Seq("POST", "DELETE", "PUT"))
      val p = fuzzPath()
      val r = req(m, p, Some(pick(bodies)), readerTok)
      assert(r.statusCode() < 500,
        s"iteration $i: $m $p -> 5xx ${r.statusCode()} ${r.body().take(200)}")
      val isRead = p.endsWith("/plan") || p.endsWith("/tasks") || p.endsWith("/metrics")
      assert(r.statusCode() >= 400 || isRead,
        s"iteration $i: mutating $m $p succeeded (${r.statusCode()}) for SELECT-only reader")
    }
    val after = canaryState()
    assert(after == before, "a SELECT-only principal changed state")
  }
}
