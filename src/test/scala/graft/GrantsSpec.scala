package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.catalog.GrantStore

/** Catalog-level access control (VERDICT r12 #5 — the reference's UC-grants
  * concept, `main.tf:730-756`): principal→privilege grants enforced on the
  * engine catalog (loadTable / write / DDL) and on the REST server routes,
  * composing with row filters + column masks. */
class GrantsSpec extends SparkSpec {
  import GrantStore.Grant
  import spark.implicits._

  private val wh = SparkSpec.warehouse
  private lazy val whIo = graft.table.FileIO.forPath(wh)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gdb")
    spark.sql("DROP TABLE IF EXISTS graft.gdb.accounts")
    spark.sql("CREATE TABLE graft.gdb.accounts (id BIGINT, email STRING, region STRING)")
    spark.sql("INSERT INTO graft.gdb.accounts VALUES " +
      "(1, 'a@x.com', 'EU'), (2, 'b@y.org', 'US'), (3, 'c@z.net', 'US')")
  }

  override def afterAll(): Unit = {
    // the shared warehouse must leave the suite NON-enforcing: other specs
    // run unprincipaled (unaffected), but leave no surprises behind
    graft.table.FileIO.forPath(wh).delete(s"$wh/_grants.json")
    spark.conf.unset("spark.graft.principal")
    super.afterAll()
  }

  /** Exception messages may be wrapped by the analyzer — search the chain. */
  private def deepMsg(t: Throwable): String = {
    var cur = t; val sb = new StringBuilder
    while (cur != null) { sb.append(cur.getMessage).append(" | "); cur = cur.getCause }
    sb.toString
  }

  private def asPrincipal[A](p: String)(f: => A): A = {
    spark.conf.set("spark.graft.principal", p)
    try f finally spark.conf.unset("spark.graft.principal")
  }

  private def seedGrants(gs: Grant*): Unit = {
    graft.table.FileIO.forPath(wh).delete(s"$wh/_grants.json")
    gs.foreach(GrantStore.grant(whIo, wh, _))
  }

  test("no grants file => not enforcing: any principal reads and writes") {
    graft.table.FileIO.forPath(wh).delete(s"$wh/_grants.json")
    asPrincipal("nobody") {
      assert(spark.sql("SELECT * FROM graft.gdb.accounts").count() == 3)
    }
  }

  test("denied principal fails loadTable; granted principal succeeds") {
    seedGrants(
      Grant("admin", "OWNER", Nil),
      Grant("alice", "SELECT", Seq("gdb", "accounts")))
    asPrincipal("bob") {
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM graft.gdb.accounts").collect()
      }
      assert(deepMsg(e).contains("lacks SELECT"), deepMsg(e))
    }
    asPrincipal("alice") {
      assert(spark.sql("SELECT * FROM graft.gdb.accounts").count() == 3)
    }
    // a session with NO principal stays engine-internal/privileged
    assert(spark.sql("SELECT * FROM graft.gdb.accounts").count() == 3)
  }

  test("SELECT-only principal cannot write; MODIFY grant unlocks it") {
    seedGrants(
      Grant("admin", "OWNER", Nil),
      Grant("alice", "SELECT", Seq("gdb", "accounts")))
    asPrincipal("alice") {
      val e = intercept[Exception] {
        spark.sql("INSERT INTO graft.gdb.accounts VALUES (9, 'x@x', 'US')")
      }
      assert(deepMsg(e).contains("lacks MODIFY"), deepMsg(e))
      val d = intercept[Exception] {
        spark.sql("DELETE FROM graft.gdb.accounts WHERE id = 1")
      }
      assert(deepMsg(d).contains("lacks MODIFY"), deepMsg(d))
    }
    GrantStore.grant(whIo, wh, Grant("alice", "MODIFY", Seq("gdb", "accounts")))
    asPrincipal("alice") {
      spark.sql("INSERT INTO graft.gdb.accounts VALUES (9, 'x@x', 'US')")
      assert(spark.sql("SELECT * FROM graft.gdb.accounts").count() == 4)
      spark.sql("DELETE FROM graft.gdb.accounts WHERE id = 9")
    }
  }

  test("path-based format(\"graft\") entry meets the same grant gate (ADVICE r14)") {
    // the grants file at the warehouse root governs ANY spelling of the
    // table — catalog ident or raw path — so the path entry cannot launder
    // access around a catalog denial
    seedGrants(
      Grant("admin", "OWNER", Nil),
      Grant("alice", "SELECT", Seq("gdb", "accounts")))
    val path = s"$wh/gdb/accounts"
    asPrincipal("bob") {
      val e = intercept[Exception] {
        spark.read.format("graft").load(path).collect()
      }
      assert(deepMsg(e).contains("lacks SELECT"), deepMsg(e))
    }
    asPrincipal("alice") {
      assert(spark.read.format("graft").load(path).count() == 3)
      // SELECT-only: the path write is denied too
      val w = intercept[Exception] {
        Seq((9L, "x@x", "US")).toDF("id", "email", "region")
          .write.format("graft").mode("append").save(path)
      }
      assert(deepMsg(w).contains("lacks MODIFY"), deepMsg(w))
    }
    GrantStore.grant(whIo, wh, Grant("alice", "MODIFY", Seq("gdb", "accounts")))
    asPrincipal("alice") {
      Seq((9L, "x@x", "US")).toDF("id", "email", "region")
        .write.format("graft").mode("append").save(path)
      assert(spark.read.format("graft").load(path).count() == 4)
      spark.sql("DELETE FROM graft.gdb.accounts WHERE id = 9")
    }
    // no principal: engine-internal/privileged, unchanged
    assert(spark.read.format("graft").load(path).count() == 3)
  }

  test("CREATE_TABLE is namespace-scoped; DDL needs MODIFY") {
    seedGrants(
      Grant("admin", "OWNER", Nil),
      Grant("carol", "SELECT", Seq("gdb")),
      Grant("carol", "CREATE_TABLE", Seq("gdb")))
    asPrincipal("carol") {
      spark.sql("CREATE TABLE graft.gdb.carols (id BIGINT)")
      val e = intercept[Exception] {
        spark.sql("ALTER TABLE graft.gdb.carols ADD COLUMN note STRING")
      }
      assert(deepMsg(e).contains("lacks MODIFY"), deepMsg(e))
    }
    asPrincipal("admin") { // OWNER at catalog level covers everything
      spark.sql("ALTER TABLE graft.gdb.carols ADD COLUMN note STRING")
      spark.sql("DROP TABLE graft.gdb.carols")
    }
  }

  test("grants inherit down the hierarchy: namespace SELECT covers its tables") {
    seedGrants(
      Grant("admin", "OWNER", Nil),
      Grant("dave", "SELECT", Seq("gdb")))
    asPrincipal("dave") {
      assert(spark.sql("SELECT * FROM graft.gdb.accounts").count() == 3)
    }
  }

  test("governance x grants: a granted read still applies masks and filters") {
    spark.sql("ALTER TABLE graft.gdb.accounts SET TBLPROPERTIES (" +
      "'graft.filter' = \"region <> 'EU'\", " +
      "'graft.mask.email' = \"regexp_replace(email, '^[^@]*', 'xxx')\")")
    try {
      seedGrants(
        Grant("admin", "OWNER", Nil),
        Grant("alice", "SELECT", Seq("gdb", "accounts")))
      asPrincipal("alice") {
        val rows = spark.sql(
          "SELECT id, email FROM graft.gdb.accounts ORDER BY id").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        // grants let alice in; governance still filters EU and masks email
        assert(rows.toSeq == Seq((2L, "xxx@y.org"), (3L, "xxx@z.net")))
      }
    } finally spark.sql("ALTER TABLE graft.gdb.accounts UNSET TBLPROPERTIES " +
      "('graft.filter', 'graft.mask.email')")
  }

  test("write-only principal: MODIFY alone resolves a DML target but cannot read") {
    seedGrants(
      Grant("admin", "OWNER", Nil),
      Grant("frank", "MODIFY", Seq("gdb", "accounts")))
    asPrincipal("frank") {
      // UC semantics: MODIFY suffices for INSERT without SELECT (ADVICE r13)
      spark.sql("INSERT INTO graft.gdb.accounts VALUES (42, 'f@f', 'US')")
      // but the read path proper still requires SELECT
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM graft.gdb.accounts").collect()
      }
      assert(deepMsg(e).contains("lacks SELECT"), deepMsg(e))
      // ... including the METADATA-ONLY answers: count/min/max from the
      // snapshot log never touch a scan, so the guard must fire in the
      // metadata-aggregate rule itself (a MODIFY-only principal could
      // otherwise lift counts and column extrema)
      val m = intercept[Exception] {
        spark.sql("SELECT count(*), min(id), max(id) FROM graft.gdb.accounts").collect()
      }
      assert(deepMsg(m).contains("lacks SELECT"), deepMsg(m))
    }
    // ... and the MATERIALIZED-VIEW answers: a fresh MV serves GROUP BY
    // aggregates without any scan of the source being built
    spark.sql("DROP TABLE IF EXISTS graft.gdb.accounts_mv")
    spark.sql("CALL graft.system.materialize_agg(" +
      "'gdb.accounts', 'gdb.accounts_mv', 'region', 'id')")
    try asPrincipal("frank") {
      val g = intercept[Exception] {
        spark.sql("SELECT region, count(*), sum(id) FROM graft.gdb.accounts GROUP BY region")
          .collect()
      }
      assert(deepMsg(g).contains("lacks SELECT"), deepMsg(g))
    } finally {
      spark.sql("CALL graft.system.deregister_agg_rewrite('gdb.accounts_mv')")
      spark.sql("DROP TABLE graft.gdb.accounts_mv")
    }
    asPrincipal("admin") {
      assert(spark.sql("SELECT * FROM graft.gdb.accounts WHERE id = 42").count() == 1)
      spark.sql("DELETE FROM graft.gdb.accounts WHERE id = 42")
    }
  }

  test("rename needs MODIFY on source + CREATE_TABLE in destination namespace") {
    seedGrants(
      Grant("admin", "OWNER", Nil),
      Grant("gina", "SELECT", Seq("gdb")),
      // namespace-wide MODIFY: grants are name-keyed, so the rename-back
      // below needs the privilege to cover the table's NEW name too
      Grant("gina", "MODIFY", Seq("gdb")))
    // MODIFY on source alone is not enough: rename re-keys the securable
    asPrincipal("gina") {
      val e = intercept[Exception] {
        spark.sql("ALTER TABLE graft.gdb.accounts RENAME TO gdb.accounts2")
      }
      assert(deepMsg(e).contains("lacks CREATE_TABLE"), deepMsg(e))
    }
    GrantStore.grant(whIo, wh, Grant("gina", "CREATE_TABLE", Seq("gdb")))
    asPrincipal("gina") {
      spark.sql("ALTER TABLE graft.gdb.accounts RENAME TO gdb.accounts2")
      spark.sql("ALTER TABLE graft.gdb.accounts2 RENAME TO gdb.accounts")
    }
    // and a principal without MODIFY on the source is refused outright
    seedGrants(
      Grant("admin", "OWNER", Nil),
      Grant("hank", "SELECT", Seq("gdb")),
      Grant("hank", "CREATE_TABLE", Seq("gdb")))
    asPrincipal("hank") {
      val e = intercept[Exception] {
        spark.sql("ALTER TABLE graft.gdb.accounts RENAME TO gdb.stolen")
      }
      assert(deepMsg(e).contains("lacks MODIFY"), deepMsg(e))
    }
  }

  test("GrantStore re-reads small files: a same-size cross-process rewrite is seen") {
    val io = graft.table.FileIO.forPath(wh)
    seedGrants(
      Grant("admin", "OWNER", Nil),
      Grant("aaaa", "SELECT", Seq("gdb", "accounts")))
    assert(GrantStore.allowed(whIo, wh, "aaaa", "SELECT", Seq("gdb", "accounts")))
    // out-of-band rewrite with IDENTICAL byte size: swap principal aaaa->bbbb
    val raw = io.readString(s"$wh/_grants.json").replace("aaaa", "bbbb")
    io.writeAtomicReplace(s"$wh/_grants.json", raw)
    assert(io.size(s"$wh/_grants.json") < 4096) // the always-re-read regime
    assert(!GrantStore.allowed(whIo, wh, "aaaa", "SELECT", Seq("gdb", "accounts")),
      "revoked principal kept access through a stale size-keyed cache")
    assert(GrantStore.allowed(whIo, wh, "bbbb", "SELECT", Seq("gdb", "accounts")))
  }

  test("time-travel reads are grant-checked too") {
    seedGrants(Grant("admin", "OWNER", Nil))
    asPrincipal("eve") {
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM graft.gdb.accounts VERSION AS OF 0").collect()
      }
      assert(deepMsg(e).contains("lacks SELECT"), deepMsg(e))
    }
  }

  // ------------------------------------------------------------ REST layer

  test("REST: 403 with spec error body for denied routes; grants admin works") {
    val wh2 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "grants-wh-").toString
    val server = new graft.rest.RestCatalogServer(wh2,
      Map("engine-a" -> "pw-a", "engine-b" -> "pw-b")).start()
    try {
      implicit val fmts: Formats = DefaultFormats
      val http = HttpClient.newHttpClient()
      def token(id: String, pw: String): String = {
        val r = http.send(HttpRequest.newBuilder(URI.create(s"${server.uri}/v1/oauth/tokens"))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(HttpRequest.BodyPublishers.ofString(
            s"grant_type=client_credentials&client_id=$id&client_secret=$pw")).build(),
          HttpResponse.BodyHandlers.ofString())
        (JsonMethods.parse(r.body()) \ "access_token").extract[String]
      }
      def req(m: String, path: String, tok: String, body: String = ""): HttpResponse[String] = {
        val b = HttpRequest.newBuilder(URI.create(s"${server.uri}$path"))
          .header("Authorization", s"Bearer $tok")
        val built = m match {
          case "GET" => b.GET()
          case "POST" => b.header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(body))
          case "DELETE" => b.DELETE()
        }
        http.send(built.build(), HttpResponse.BodyHandlers.ofString())
      }
      val ta = token("engine-a", "pw-a")
      val tb = token("engine-b", "pw-b")
      // pre-grants: both principals can act (not enforcing yet)
      assert(req("POST", "/v1/namespaces", ta,
        """{"namespace":["db"]}""").statusCode() == 200)
      assert(req("POST", "/v1/namespaces/db/tables", ta,
        """{"name":"t","schemaJson":""" +
          org.json4s.jackson.Serialization.write(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType))).json) +
          ""","properties":{}}""").statusCode() == 200)
      // the first grant must create a CATALOG-LEVEL OWNER: a non-OWNER
      // privilege or an OWNER scoped to a namespace would flip enforcement
      // with no admin reachable (ADVICE r13)
      assert(req("POST", "/v1/grants", tb,
        """{"principal":"engine-b","privilege":"SELECT","securable":["db","t"]}""")
        .statusCode() == 400)
      assert(req("POST", "/v1/grants", ta,
        """{"principal":"engine-a","privilege":"OWNER","securable":["db"]}""")
        .statusCode() == 400)
      assert(req("POST", "/v1/grants", ta,
        """{"principal":"engine-a","privilege":"OWNER","securable":[]}""")
        .statusCode() == 200)
      // now enforcing: engine-b has nothing
      val denied = req("GET", "/v1/namespaces/db/tables/t", tb)
      assert(denied.statusCode() == 403, denied.body())
      val e = JsonMethods.parse(denied.body()) \ "error"
      assert((e \ "type").extract[String] == "ForbiddenException")
      assert((e \ "code").extract[Int] == 403)
      assert((e \ "message").extract[String].contains("lacks SELECT"))
      // engine-b cannot administer grants
      assert(req("POST", "/v1/grants", tb,
        """{"principal":"engine-b","privilege":"OWNER","securable":[]}""")
        .statusCode() == 403)
      // OWNER grants engine-b SELECT -> read ok, commit still 403
      assert(req("POST", "/v1/grants", ta,
        """{"principal":"engine-b","privilege":"SELECT","securable":["db","t"]}""")
        .statusCode() == 200)
      assert(req("GET", "/v1/namespaces/db/tables/t", tb).statusCode() == 200)
      val commitDenied = req("POST", "/v1/namespaces/db/tables/t/commit", tb,
        """{"parentVersion":0,"version":1,"storedJson":"{}","moveHead":true}""")
      assert(commitDenied.statusCode() == 403, commitDenied.body())
      // and engine-b cannot create tables
      assert(req("POST", "/v1/namespaces/db/tables", tb,
        """{"name":"t2","schemaJson":"{}","properties":{}}""").statusCode() == 403)
      // rename is guarded on BOTH surfaces: MODIFY on source +
      // CREATE_TABLE on the destination namespace (ADVICE r13 — an
      // unguarded rename detaches a table from its name-keyed grants)
      assert(req("POST", "/v1/iceberg/tables/rename", tb,
        """{"source":{"namespace":["db"],"name":"t"},""" +
        """"destination":{"namespace":["db"],"name":"hijacked"}}""")
        .statusCode() == 403)
      assert(req("POST", "/v1/tables/rename", tb,
        """{"fromNamespace":["db"],"fromName":"t",""" +
        """"toNamespace":["db"],"toName":"hijacked"}""").statusCode() == 403)
      // a fully-granted principal renames fine (and back)
      assert(req("POST", "/v1/iceberg/tables/rename", ta,
        """{"source":{"namespace":["db"],"name":"t"},""" +
        """"destination":{"namespace":["db"],"name":"t_rn"}}""")
        .statusCode() == 204)
      assert(req("POST", "/v1/iceberg/tables/rename", ta,
        """{"source":{"namespace":["db"],"name":"t_rn"},""" +
        """"destination":{"namespace":["db"],"name":"t"}}""")
        .statusCode() == 204)
      // scan planning AND its task pages are READS: SELECT alone reaches
      // both (without the "tasks" privilege case the MODIFY catch-all
      // would 403 a reader on page 2 of its own plan). 400 on the garbage
      // token = the grant gate passed and the handler judged the token.
      assert(req("POST", "/v1/iceberg/namespaces/db/tables/t/plan", tb, "{}")
        .statusCode() == 200)
      assert(req("POST", "/v1/iceberg/namespaces/db/tables/t/tasks", tb,
        """{"plan-task":"garbage"}""").statusCode() == 400)
      // revoke closes the read back down
      assert(req("POST", "/v1/grants/revoke", ta,
        """{"principal":"engine-b","privilege":"SELECT","securable":["db","t"]}""")
        .statusCode() == 200)
      assert(req("GET", "/v1/namespaces/db/tables/t", tb).statusCode() == 403)
      // grants listing (admin only)
      val listing = req("GET", "/v1/grants", ta)
      assert(listing.statusCode() == 200)
      assert((JsonMethods.parse(listing.body()) \ "grants").children.nonEmpty)
      assert(req("GET", "/v1/grants", tb).statusCode() == 403)
    } finally server.stop()
  }
}
