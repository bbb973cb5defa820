package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Byte-level conformance of the IRC surface against VENDORED spec shapes
  * (VERDICT r15 #4): the closest the sandbox allows to a third-party
  * Iceberg REST client. The driver below is written ONLY against the
  * published Iceberg REST OpenAPI — stdlib HTTP, request bodies typed out
  * from the spec, zero graft classes in the request path (graft appears
  * only in the FIXTURE setup, which plays the role of the data platform,
  * and in assertions). Every response is validated field-by-field against
  * `src/test/resources/iceberg-rest-spec/shapes.json`; a `closed` shape
  * fails on ANY field the spec does not name, so graft-private keys cannot
  * silently leak into the wire format and a renamed/retyped field cannot
  * ship unnoticed.
  */
class IrcSpecConformanceSpec extends SparkSpec {
  private implicit val fmts: Formats = DefaultFormats

  private def server = RestCatalogSpec.server
  private val http = HttpClient.newHttpClient()

  // ---- the shape checker -------------------------------------------------
  private lazy val shapes: Map[String, JValue] = {
    val in = getClass.getResourceAsStream("/iceberg-rest-spec/shapes.json")
    require(in != null, "vendored spec shapes missing")
    JsonMethods.parse(new String(in.readAllBytes(), "UTF-8")) match {
      case JObject(fields) => fields.toMap - "_comment"
      case other => fail(s"shapes.json is not an object: $other")
    }
  }

  /** All violations of `typeName` at `j`, as human-readable paths. */
  private def check(typeName: String, j: JValue, path: String): List[String] =
    typeName match {
      case "string"  => if (j.isInstanceOf[JString]) Nil else List(s"$path: want string, got $j")
      case "integer" => j match {
        case _: JInt | _: JLong => Nil
        case _ => List(s"$path: want integer, got $j")
      }
      case "number" => j match {
        case _: JInt | _: JLong | _: JDouble | _: JDecimal => Nil
        case _ => List(s"$path: want number, got $j")
      }
      case "boolean" => if (j.isInstanceOf[JBool]) Nil else List(s"$path: want boolean, got $j")
      case "object"  => if (j.isInstanceOf[JObject]) Nil else List(s"$path: want object, got $j")
      case "array"   => if (j.isInstanceOf[JArray]) Nil else List(s"$path: want array, got $j")
      case t if t.startsWith("array:") => j match {
        case JArray(items) => items.zipWithIndex.flatMap { case (it, i) =>
          check(t.stripPrefix("array:"), it, s"$path[$i]") }
        case _ => List(s"$path: want array, got $j")
      }
      case t if t.startsWith("enum:") =>
        val allowed = t.stripPrefix("enum:").split('|').toSet
        j match {
          case JString(s) if allowed(s) => Nil
          case other => List(s"$path: want one of $allowed, got $other")
        }
      case shapeName => shapes.get(shapeName) match {
        case None => List(s"$path: unknown shape '$shapeName' in fixtures")
        case Some(shape) => j match {
          case JObject(fields) =>
            val fm = fields.toMap
            def fieldTypes(k: String): Map[String, String] = (shape \ k) match {
              case JObject(fs) => fs.toMap.map { case (n, JString(t)) => n -> t
                case (n, other) => fail(s"bad fixture type for $n: $other") }
              case _ => Map.empty
            }
            val req = fieldTypes("required")
            val opt = fieldTypes("optional")
            val missing = req.keys.filterNot(fm.contains)
              .map(k => s"$path: missing required field '$k'").toList
            val closed = (shape \ "closed") == JBool(true)
            val extra =
              if (!closed) Nil
              else fm.keys.filterNot(k => req.contains(k) || opt.contains(k))
                .map(k => s"$path: field '$k' not in the $shapeName spec shape").toList
            val typed = fm.toList.flatMap { case (k, v) =>
              (req.get(k) orElse opt.get(k)).toList.flatMap(t => check(t, v, s"$path.$k"))
            }
            missing ++ extra ++ typed
          case other => List(s"$path: want $shapeName object, got $other")
        }
      }
    }

  private def conforms(shapeName: String, body: String): Unit = {
    val errs = check(shapeName, JsonMethods.parse(body), shapeName)
    assert(errs.isEmpty, errs.mkString(s"\n--- response drifts from $shapeName ---\n", "\n", ""))
  }

  // ---- stdlib-only spec driver (no graft classes) ------------------------
  private def req(method: String, path: String, body: Option[String],
      headers: Map[String, String]): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"${server.uri}$path"))
    headers.foreach { case (k, v) => b.header(k, v) }
    body match {
      case Some(x) => b.method(method, HttpRequest.BodyPublishers.ofString(x))
      case None    => b.method(method, HttpRequest.BodyPublishers.noBody())
    }
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private lazy val token: String = {
    val resp = req("POST", "/v1/oauth/tokens",
      Some("grant_type=client_credentials&client_id=engine-a&client_secret=secret-a"),
      Map("Content-Type" -> "application/x-www-form-urlencoded"))
    assert(resp.statusCode() == 200, resp.body())
    conforms("OAuthTokenResponse", resp.body())
    (JsonMethods.parse(resp.body()) \ "access_token").extract[String]
  }
  private def auth = Map("Authorization" -> s"Bearer $token",
    "Content-Type" -> "application/json")
  private def get(path: String, extra: Map[String, String] = Map.empty) =
    req("GET", path, None, auth ++ extra)
  private def post(path: String, body: String) = req("POST", path, Some(body), auth)

  /** Fixture: one namespace with a table (multi-file, with an equality
    * delete) and a view — set up through the engine, validated through the
    * spec driver. */
  private lazy val fixture: Unit = {
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.conf")
    spark.sql("DROP TABLE IF EXISTS graftr.conf.shapes")
    spark.sql("CREATE TABLE graftr.conf.shapes (id BIGINT, v STRING) USING graft " +
      "TBLPROPERTIES ('written-by' = 'conformance')")
    spark.sql("INSERT INTO graftr.conf.shapes VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graftr.conf.shapes VALUES (10, 'c'), (11, 'd')")
    val loc = (JsonMethods.parse(
      get("/v1/namespaces/conf/tables/shapes").body()) \ "location").extract[String]
    graft.table.GraftTable.load(spark, loc)
      .deleteByEquality {
        import spark.implicits._
        Seq(Tuple1(10L)).toDF("id")
      }
    spark.sql("DROP VIEW IF EXISTS graftr.conf.vshape")
    spark.sql("CREATE VIEW graftr.conf.vshape AS SELECT id FROM graftr.conf.shapes WHERE id > 1")
  }

  test("config, namespace, and table listings conform to the vendored spec shapes") {
    fixture
    val cfg = get("/v1/config")
    assert(cfg.statusCode() == 200)
    conforms("CatalogConfig", cfg.body())
    // the advertised prefix is how a spec client finds every other route
    val prefix = (JsonMethods.parse(cfg.body()) \ "overrides" \ "prefix").extract[String]
    assert(prefix == "iceberg")

    val nss = get(s"/v1/$prefix/namespaces")
    assert(nss.statusCode() == 200)
    conforms("ListNamespacesResponse", nss.body())

    val ns = get(s"/v1/$prefix/namespaces/conf")
    assert(ns.statusCode() == 200)
    conforms("GetNamespaceResponse", ns.body())

    val tbls = get(s"/v1/$prefix/namespaces/conf/tables")
    assert(tbls.statusCode() == 200)
    conforms("ListTablesResponse", tbls.body())
    assert((JsonMethods.parse(tbls.body()) \ "identifiers").children
      .exists(i => (i \ "name") == JString("shapes")))

    // pagination: pageSize=1 must emit a spec next-page-token, and the
    // paged shape still conforms
    val paged = get(s"/v1/$prefix/namespaces/conf/tables?pageSize=1")
    conforms("ListTablesResponse", paged.body())

    val views = get(s"/v1/$prefix/namespaces/conf/views")
    assert(views.statusCode() == 200)
    conforms("ListViewsResponse", views.body())
  }

  test("loadTable / loadView / loadCredentials conform; ETag revalidation works") {
    fixture
    val load = get("/v1/iceberg/namespaces/conf/tables/shapes")
    assert(load.statusCode() == 200)
    conforms("LoadTableResult", load.body())
    // spec ETag: a conditional re-load with the returned tag is a 304
    val etag = load.headers().firstValue("ETag")
    assert(etag.isPresent, "loadTable did not return an ETag")
    val cond = get("/v1/iceberg/namespaces/conf/tables/shapes",
      Map("If-None-Match" -> etag.get()))
    assert(cond.statusCode() == 304, s"${cond.statusCode()} ${cond.body()}")

    val view = get("/v1/iceberg/namespaces/conf/views/vshape")
    assert(view.statusCode() == 200)
    conforms("LoadViewResult", view.body())

    val creds = get("/v1/iceberg/namespaces/conf/tables/shapes/credentials")
    assert(creds.statusCode() == 200)
    conforms("LoadCredentialsResponse", creds.body())
  }

  test("scan planning and task fetch conform, including the paged form") {
    fixture
    val plan = post("/v1/iceberg/namespaces/conf/tables/shapes/plan",
      """{"filter":{"type":"gt","term":"id","value":5}}""")
    assert(plan.statusCode() == 200, plan.body())
    conforms("CompletedPlanningResult", plan.body())

    // a page-limited server over the same warehouse: the chained
    // plan-tasks page must conform to FetchScanTasksResult
    val paged = new graft.rest.RestCatalogServer(server.warehouse,
      Map("engine-a" -> "secret-a"), planPageSize = 1).start()
    try {
      val t2 = {
        val r = http.send(HttpRequest.newBuilder(
            URI.create(s"${paged.uri}/v1/oauth/tokens"))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(HttpRequest.BodyPublishers.ofString(
            "grant_type=client_credentials&client_id=engine-a&client_secret=secret-a"))
          .build(), HttpResponse.BodyHandlers.ofString())
        (JsonMethods.parse(r.body()) \ "access_token").extract[String]
      }
      def ppost(path: String, body: String) =
        http.send(HttpRequest.newBuilder(URI.create(s"${paged.uri}$path"))
          .header("Authorization", s"Bearer $t2")
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      val p1 = ppost("/v1/iceberg/namespaces/conf/tables/shapes/plan", "{}")
      assert(p1.statusCode() == 200)
      conforms("CompletedPlanningResult", p1.body())
      val tok = (JsonMethods.parse(p1.body()) \ "plan-tasks").extract[Seq[String]]
      assert(tok.nonEmpty, "page size 1 produced no plan-tasks")
      val p2 = ppost("/v1/iceberg/namespaces/conf/tables/shapes/tasks",
        s"""{"plan-task":"${tok.head}"}""")
      assert(p2.statusCode() == 200)
      conforms("FetchScanTasksResult", p2.body())
    } finally paged.stop()
  }

  test("the namespace probe answers 404 for a table's name, GET and HEAD alike") {
    fixture
    // conf.shapes is a TABLE: its directory sits where namespace
    // conf\u001fshapes would, and the probe must not report it as one
    val tableAsNs = "/v1/iceberg/namespaces/conf%1Fshapes"
    val got = get(tableAsNs)
    assert(got.statusCode() == 404, got.body())
    conforms("IcebergErrorResponse", got.body())
    assert(req("HEAD", tableAsNs, None, auth).statusCode() == 404)
    assert(req("HEAD", "/v1/iceberg/namespaces/conf", None, auth).statusCode() == 204)
  }

  test("spec DDL responses conform: createNamespace and createTable") {
    val nsName = "confddl"
    // idempotent re-runs: a 409 on an existing namespace is also spec-shaped
    val ns = post("/v1/iceberg/namespaces",
      s"""{"namespace":["$nsName"],"properties":{}}""")
    if (ns.statusCode() == 200) conforms("CreateNamespaceResponse", ns.body())
    else { assert(ns.statusCode() == 409); conforms("IcebergErrorResponse", ns.body()) }

    req("DELETE", s"/v1/iceberg/namespaces/$nsName/tables/tshape?purgeRequested=true",
      None, auth)
    // createTable straight from the published request schema — an Iceberg
    // struct with field ids, no graft types anywhere
    val ct = post(s"/v1/iceberg/namespaces/$nsName/tables",
      """{"name":"tshape","schema":{"type":"struct","schema-id":0,"fields":[
        |{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"v","required":false,"type":"string"}]},
        |"properties":{"written-by":"conformance"}}""".stripMargin)
    assert(ct.statusCode() == 200, ct.body())
    conforms("LoadTableResult", ct.body())
    // and the created table round-trips through spec loadTable
    val load = get(s"/v1/iceberg/namespaces/$nsName/tables/tshape")
    assert(load.statusCode() == 200)
    conforms("LoadTableResult", load.body())
  }

  test("error bodies carry the spec ErrorModel with code == HTTP status") {
    fixture
    def checkError(resp: HttpResponse[String], wantStatus: Int): Unit = {
      assert(resp.statusCode() == wantStatus, s"${resp.statusCode()} ${resp.body()}")
      conforms("IcebergErrorResponse", resp.body())
      assert((JsonMethods.parse(resp.body()) \ "error" \ "code")
        .extract[Int] == wantStatus, resp.body())
    }
    checkError(get("/v1/iceberg/namespaces/conf/tables/no_such_table"), 404)
    checkError(get("/v1/iceberg/namespaces/no_such_ns/tables"), 404)
    checkError(post("/v1/iceberg/namespaces/conf/tables/shapes/metrics", "{}"), 400)
    // auth failures are ErrorModel too, not bare strings
    checkError(req("GET", "/v1/iceberg/namespaces", None,
      Map("Authorization" -> "Bearer not-a-token")), 401)
  }
}
