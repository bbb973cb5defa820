package graft.rest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import graft.table.{CommitConflictException, Ref, Snapshot, SnapshotLog}

/** HTTP client for [[RestCatalogServer]] — the engine side of the
  * reference's REST-catalog wiring (`main.tf:795-801`): table resolution
  * and commits go over HTTP with a bearer token; data and snapshot JSONs
  * are read from shared storage directly. Built on `java.net.http` (JDK 11+,
  * no extra dependency).
  *
  * Auth: pass either a pre-issued `token` or a `credential` of the form
  * `client-id:client-secret` — the client then performs the OAuth2
  * client-credentials grant against `/v1/oauth/tokens` at construction,
  * mirroring Iceberg's `credential` catalog property (`main.tf:798-800`). */
class RestCatalogClient(val baseUri: String, credential: Option[String],
    presetToken: Option[String]) {

  private implicit val fmts: Formats = DefaultFormats
  private val http = HttpClient.newHttpClient()

  /** OAuth2 client-credentials grant — run eagerly at construction (bad
    * credentials fail fast) and again on token EXPIRY (a 401 mid-session
    * triggers one re-grant + replay; see [[send]]). */
  private def grantToken(): String = {
    val cred = credential.getOrElse(throw new IllegalArgumentException(
      "REST catalog needs a 'token' or a 'credential' (client-id:client-secret) option"))
    val Array(id, secret) = cred.split(":", 2)
    val form = s"grant_type=client_credentials&client_id=${enc(id)}&client_secret=${enc(secret)}"
    val resp = http.send(HttpRequest.newBuilder(URI.create(s"$baseUri/v1/oauth/tokens"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
      HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new IllegalArgumentException(s"OAuth token request failed (${resp.statusCode()}): ${resp.body()}")
    (JsonMethods.parse(resp.body()) \ "access_token").extract[String]
  }

  @volatile private var cachedToken: String = presetToken.getOrElse(grantToken())

  /** Current bearer token (refreshed in place on expiry). */
  def token: String = cachedToken

  private def enc(s: String) = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private val Sep = "\u001f" // Iceberg REST multipart-namespace separator
  private def encNs(ns: Seq[String]): String = enc(ns.mkString(Sep))
  // Listing, probing, dropping, planning and credential re-vends go to the
  // spec routes foreign engines use; the native `/v1/` routes remain only
  // where the spec route answers differently (see RestCatalogServer).
  private val Spec = "/v1/iceberg"

  private def dispatch(method: String, path: String, body: Option[String]): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"$baseUri$path"))
      .header("Authorization", s"Bearer $cachedToken")
      .header("Content-Type", "application/json")
    val req = (method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body.getOrElse("{}")))
    }).build()
    http.send(req, HttpResponse.BodyHandlers.ofString())
  }

  private val MaxAttempts = 3

  /** Send with bounded retry on TRANSIENT failures and self-healing auth:
    *
    *  - connect/IO errors and 503 replay with linear backoff — but ONLY for
    *    idempotent GETs. Behind a proxy/LB a 503 can be returned AFTER the
    *    backend applied the request (same outcome-unknown hazard as a
    *    mid-flight IOException), so a replayed commit that actually landed
    *    would 409 and the table layer's conflict retry would re-apply the
    *    mutation (double append). Non-GET 503s surface to the caller;
    *  - a 401 with a credential on hand means the bearer token EXPIRED:
    *    re-run the client-credentials grant once and replay (Iceberg's
    *    REST clients refresh the same way). Preset-token clients cannot
    *    refresh — their 401 surfaces to the caller;
    *  - CAS conflicts (409) and 4xx are NEVER retried here — commit retry
    *    is the table layer's job (retryOnConflict rebuilds the candidate
    *    against the new head; a blind HTTP replay of a 409 would push a
    *    stale snapshot). */
  private def send(method: String, path: String, body: Option[String] = None): HttpResponse[String] = {
    var refreshed = false
    var attempt = 1
    while (true) {
      val resp =
        try Some(dispatch(method, path, body))
        catch {
          // An IOException leaves the dispatch OUTCOME unknown — the server
          // may have applied the request before the connection died. Blind
          // replay is safe only for idempotent GETs; replaying a POST
          // (commit!) that actually landed turns into a spurious 409, and
          // the table layer's conflict retry would then re-apply the
          // mutation on top of it (double append). Non-GETs fail loudly.
          case e: java.io.IOException if method != "GET" =>
            throw new IllegalStateException(
              s"$method $path failed mid-flight (outcome unknown, not replayed): " +
                s"${e.getMessage}", e)
          case e: java.io.IOException =>
            if (attempt >= MaxAttempts) throw new IllegalStateException(
              s"$method $path failed after $MaxAttempts attempts: ${e.getMessage}", e)
            None
        }
      resp match {
        case Some(r) if r.statusCode() == 503 && method == "GET" &&
            attempt < MaxAttempts => () // retry (idempotent read)
        case Some(r) if r.statusCode() == 401 && credential.isDefined && !refreshed =>
          cachedToken = grantToken()
          refreshed = true
          attempt -= 1 // the refresh replay doesn't consume a transient-retry slot
        case Some(r) => return r
        case None => () // IOException mid-window: retry
      }
      Thread.sleep(50L * attempt)
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  private def expect(resp: HttpResponse[String], what: String,
      casOp: Boolean = false): JValue = {
    resp.statusCode() match {
      case 200 => JsonMethods.parse(resp.body())
      case 409 if casOp => throw new CommitConflictException(errMsg(resp))
      case 400 => throw new IllegalArgumentException(s"$what: ${errMsg(resp)}")
      case code => throw new IllegalStateException(s"$what failed ($code): ${errMsg(resp)}")
    }
  }
  private def errMsg(resp: HttpResponse[String]): String =
    try {
      // spec ErrorModel: {"error": {"message", "type", "code"}}
      (JsonMethods.parse(resp.body()) \ "error" \ "message").extract[String]
    } catch { case _: Exception => resp.body() }

  // ---- config / namespaces -------------------------------------------------

  /** The server's `warehouse` (shared-storage root) from `GET /v1/config` —
    * the Iceberg REST config handshake that tells engines where the data
    * plane lives. */
  def warehouse(): String =
    (expect(send("GET", "/v1/config"), "config") \ "overrides" \ "warehouse").extract[String]

  def listNamespaces(): Seq[Seq[String]] =
    (expect(send("GET", s"$Spec/namespaces"), "list namespaces") \ "namespaces")
      .extract[Seq[Seq[String]]]

  def createNamespace(ns: Seq[String]): Unit =
    expect(send("POST", "/v1/namespaces", Some(Serialization.write(CreateNsReq(ns)))),
      "create namespace")

  /** 200 → true, 404 → false; any OTHER status (401 auth, 500 server) is a
    * real failure and raises — an existence probe must never report
    * "absent" because the server errored (a caller would then e.g. attempt
    * CREATE on an existing table). */
  private def probe(path: String, what: String): Boolean = {
    val resp = send("GET", path)
    resp.statusCode() match {
      case 200 => true
      case 404 => false
      case _ => expect(resp, what); false // expect throws for non-200
    }
  }

  def namespaceExists(ns: Seq[String]): Boolean =
    probe(s"$Spec/namespaces/${encNs(ns)}", "namespace existence check")

  /** Returns false on 404; propagates 409 (non-empty). `cascade` asks the
    * server to drop the whole namespace tree — tables, stored views, and
    * nested namespaces — matching the local warehouse catalog's recursive
    * CASCADE semantics. */
  def dropNamespace(ns: Seq[String], cascade: Boolean = false): Boolean = {
    val suffix = if (cascade) "?cascade=true" else ""
    val resp = send("DELETE", s"/v1/namespaces/${encNs(ns)}$suffix")
    if (resp.statusCode() == 404) false
    else { expect(resp, "drop namespace"); true }
  }

  // ---- tables --------------------------------------------------------------

  def listTables(ns: Seq[String]): Seq[String] =
    (expect(send("GET", s"$Spec/namespaces/${encNs(ns)}/tables"), "list tables") \ "identifiers")
      .extract[Seq[Map[String, Any]]].map(_("name").toString)

  def tableExists(ns: Seq[String], table: String): Boolean =
    probe(s"/v1/namespaces/${encNs(ns)}/tables/${enc(table)}", "table existence check")

  /** Table location on shared storage, or None if absent. */
  def tableLocation(ns: Seq[String], table: String): Option[String] = {
    val resp = send("GET", s"/v1/namespaces/${encNs(ns)}/tables/${enc(table)}")
    if (resp.statusCode() != 200) None
    else Some((JsonMethods.parse(resp.body()) \ "location").extract[String])
  }

  def createTable(ns: Seq[String], table: String, schemaJson: String,
      properties: Map[String, String]): String =
    (expect(send("POST", s"/v1/namespaces/${encNs(ns)}/tables",
      Some(Serialization.write(CreateTableReq(table, schemaJson, properties)))),
      "create table") \ "location").extract[String]

  /** Spec dropTable with `purgeRequested=true`: the table's whole tree,
    * data included, goes. Returns false only on 404 (no such table);
    * auth/server errors raise instead of masquerading as "nothing to
    * drop". */
  def dropTable(ns: Seq[String], table: String): Boolean = {
    val resp = send("DELETE",
      s"$Spec/namespaces/${encNs(ns)}/tables/${enc(table)}?purgeRequested=true")
    resp.statusCode() match {
      case 204 => true
      case 404 => false
      case _ => expect(resp, "drop table"); true // expect throws for non-200
    }
  }

  def renameTable(fromNs: Seq[String], from: String, toNs: Seq[String], to: String): Unit =
    expect(send("POST", "/v1/tables/rename",
      Some(Serialization.write(RenameReq(fromNs, from, toNs, to)))), "rename table")

  // ---- server-side scan planning ---------------------------------------------

  /** One planned file-scan task: the data file plus the delete files the
    * SERVER scoped to it (position deletes always; equality deletes only
    * when they out-sequence the data file). */
  final case class PlannedTask(dataFile: String, recordCount: Long,
      positionDeletes: Seq[String], equalityDeletes: Seq[String])

  /** Ask the catalog to plan a scan (spec `POST …/tables/{t}/plan`): the
    * server prunes the snapshot's file list against `filterJson` (an
    * Iceberg expression JSON object, e.g.
    * `{"type":"gt","term":"id","value":5}`) using the column bounds it
    * holds, so the engine never lists or filters metadata itself — the
    * capability the `endpoints` config advertises. */
  def planScan(ns: Seq[String], table: String,
      filterJson: Option[String] = None,
      snapshotId: Option[Long] = None): Seq[PlannedTask] = {
    val body = "{" + (filterJson.map(f => s""""filter":$f""").toSeq ++
      snapshotId.map(v => s""""snapshot-id":$v""").toSeq).mkString(",") + "}"
    val first = expect(send("POST",
      s"$Spec/namespaces/${encNs(ns)}/tables/${enc(table)}/plan",
      Some(body)), "plan scan")
    // graft's server always plans synchronously
    val status = (first \ "plan-status").extractOpt[String]
    if (!status.contains("completed")) throw new IllegalStateException(
      s"plan scan: plan-status ${status.getOrElse("missing")}, expected 'completed'")
    // each response carries its OWN delete-files array (task references
    // index into it), plus optional chained `plan-tasks` tokens — drain
    // them through spec fetchScanTasks until no page points onward, so
    // callers always see the complete task list regardless of the server's
    // page size
    def tasksOf(resp: org.json4s.JValue): Seq[PlannedTask] = {
      // IndexedSeq: delete-file-references index into this per position —
      // a List would cost O(posN) per lookup, quadratic on MOR-heavy pages
      val deletes = (resp \ "delete-files").children.map(d =>
        ((d \ "file-path").extract[String], (d \ "content").extract[String]))
        .toIndexedSeq
      (resp \ "file-scan-tasks").children.map { t =>
        val refs = (t \ "delete-file-references").extractOpt[Seq[Int]].getOrElse(Nil)
          .map(deletes)
        PlannedTask(
          (t \ "data-file" \ "file-path").extract[String],
          (t \ "data-file" \ "record-count").extract[Long],
          refs.collect { case (p, "position-deletes") => p },
          refs.collect { case (p, "equality-deletes") => p })
      }
    }
    val out = scala.collection.mutable.ArrayBuffer(tasksOf(first): _*)
    var pending = (first \ "plan-tasks").extractOpt[Seq[String]].getOrElse(Nil).toList
    // bounded drain: a buggy/hostile server re-issuing a token (or a
    // token cycle) must fail loudly, not loop forever accumulating tasks
    val seen = scala.collection.mutable.Set.empty[String]
    while (pending.nonEmpty) {
      val tok = pending.head
      pending = pending.tail
      require(seen.add(tok), "plan-tasks cycle: the server repeated a page token")
      require(seen.size <= 100000, "plan-tasks chain exceeded 100k pages")
      val page = expect(send("POST",
        s"$Spec/namespaces/${encNs(ns)}/tables/${enc(table)}/tasks",
        Some(s"""{"plan-task":${Serialization.write(tok)}}""")), "fetch scan tasks")
      out ++= tasksOf(page)
      pending = pending ++ (page \ "plan-tasks").extractOpt[Seq[String]].getOrElse(Nil)
    }
    out.toSeq
  }

  // ---- vended storage credentials -------------------------------------------

  private case class VendedCreds(config: Map[String, String], expiresAtMs: Option[Long])
  private val vended = new java.util.concurrent.ConcurrentHashMap[String, VendedCreds]()

  /** The table's vended storage credentials (spec `storage-credentials`
    * stanza, reference `main.tf:676-696`), RE-VENDED through the spec
    * loadCredentials endpoint whenever the cached vend has passed its
    * `expires-at-ms` — the bearer-token refresh discipline applied to the
    * data plane: holders of short-lived storage creds ask the catalog for
    * fresh ones and continue, they never cache past expiry. Empty map when
    * the server vends nothing. */
  def storageCredentials(ns: Seq[String], table: String): Map[String, String] = {
    val key = (ns :+ table).mkString("\u0000")
    val now = System.currentTimeMillis()
    Option(vended.get(key)).filter(_.expiresAtMs.forall(_ > now)) match {
      case Some(live) => live.config
      case None => // first ask, or expired: (re-)vend
        val body = expect(send("GET",
          s"$Spec/namespaces/${encNs(ns)}/tables/${enc(table)}/credentials"),
          "load credentials")
        val cfg = (body \ "storage-credentials") match {
          case JArray(item :: _) => (item \ "config").extract[Map[String, String]]
          case _ => Map.empty[String, String]
        }
        val v = VendedCreds(cfg,
          cfg.get("expires-at-ms").flatMap(s => scala.util.Try(s.toLong).toOption))
        vended.put(key, v)
        cfg
    }
  }

  // ---- commit CAS / head / refs -------------------------------------------

  def commit(ns: Seq[String], table: String, parentVersion: Long, version: Long,
      storedJson: String, moveHead: Boolean): Unit =
    expect(send("POST", s"/v1/namespaces/${encNs(ns)}/tables/${enc(table)}/commit",
      Some(Serialization.write(CommitReq(parentVersion, version, storedJson, moveHead)))),
      "commit", casOp = true)

  def setHead(ns: Seq[String], table: String, version: Long): Unit =
    expect(send("POST", s"/v1/namespaces/${encNs(ns)}/tables/${enc(table)}/head",
      Some(Serialization.write(HeadReq(version)))), "set head")

  def setRef(ns: Seq[String], table: String, name: String, ref: Ref): Unit =
    expect(send("POST", s"/v1/namespaces/${encNs(ns)}/tables/${enc(table)}/refs",
      Some(Serialization.write(RefReq(name, ref.version, ref.refType)))), "set ref")

  def dropRef(ns: Seq[String], table: String, name: String): Unit =
    expect(send("DELETE", s"/v1/namespaces/${encNs(ns)}/tables/${enc(table)}/refs/${enc(name)}"),
      "drop ref")
}

/** Snapshot log whose WRITES go through the REST catalog server while reads
  * stay on shared storage — the exact Iceberg REST-catalog split: the engine
  * writes data files and manifest chunks itself, then asks the catalog to
  * CAS the new snapshot in; rollback/branch/tag mutations are arbitrated the
  * same way. Every [[graft.table.GraftTable]] operator works unchanged on
  * top of this because all metadata mutations funnel through these five
  * methods. */
class RestSnapshotLog(tableRoot: String, client: RestCatalogClient,
    ns: Seq[String], table: String) extends SnapshotLog(tableRoot) {

  override def commit(parentVersion: Long, build: Long => Snapshot): Snapshot = {
    val (snap, json) = prepare(parentVersion, build)
    client.commit(ns, table, parentVersion, snap.version, json, moveHead = true)
    snap
  }

  override def commitDetached(parentVersion: Long, build: Long => Snapshot): Snapshot = {
    val (snap, json) = prepare(parentVersion, build, mainLineage = false)
    client.commit(ns, table, parentVersion, snap.version, json, moveHead = false)
    snap
  }

  override def setHead(v: Long): Unit = client.setHead(ns, table, v)
  override def setRef(name: String, ref: Ref): Unit = client.setRef(ns, table, name, ref)
  override def dropRef(name: String): Unit = client.dropRef(ns, table, name)

  /** Engine-side consumption of server scan planning: the planned DATA
    * file paths for this table ([[RestCatalogClient.planScan]] drains any
    * plan-task pages). [[graft.table.GraftTable]] calls this for every
    * read of a REST-backed table, so the engine's own catalog-routed reads
    * exercise the same endpoint foreign engines use. */
  def planDataFiles(filterJson: Option[String], snapshotId: Option[Long]): Seq[String] =
    client.planScan(ns, table, filterJson, snapshotId).map(_.dataFile)
}

/** Spark data-source filters → Iceberg REST expression JSON — the inverse
  * of the server's `parseIcebergExpr`, with the SAME conservatism mirrored
  * for the emit direction: a conjunct (or an AND side) that can't be
  * expressed is simply dropped (the server prunes on less — a WEAKER
  * filter only returns extra files), while an OR with an inexpressible
  * side is dropped whole (emitting half an OR would be a STRONGER filter —
  * the server could prune files the other branch matches). The engine
  * re-applies the full predicate over returned rows regardless. */
object IcebergFilterJson {
  import org.apache.spark.sql.sources._

  /** The implicit conjunction of `filters` as one expression, or None when
    * nothing is expressible (the server then plans the full file list). */
  def of(filters: Seq[Filter]): Option[String] =
    filters.flatMap(one).reduceOption((l, r) =>
      s"""{"type":"and","left":$l,"right":$r}""")

  private def jstr(s: String): String =
    Serialization.write(s)(DefaultFormats)

  /** Literal rendering, limited to values whose server-side string
    * comparison provably matches engine semantics: integrals/decimals
    * (exact numeric compare), finite floats, strings, booleans,
    * ISO-rendering dates, and timestamps in graft's CANONICAL UTC bound
    * form (VERDICT r16 #1 — per-file bounds are stored zone-free in the
    * same form, so event-time ranges now prune server-side; legacy
    * space-form stats simply carry no claim and stay un-pruned). */
  private def jlit(v: Any): Option[String] = v match {
    case null => None
    case x: Int => Some(x.toString)
    case x: Long => Some(x.toString)
    case x: Short => Some(x.toString)
    case x: Byte => Some(x.toString)
    case x: Float if java.lang.Float.isFinite(x) => Some(x.toString)
    case x: Double if java.lang.Double.isFinite(x) => Some(x.toString)
    case x: java.math.BigDecimal => Some(x.toPlainString)
    case x: BigDecimal => Some(x.underlying.toPlainString)
    case x: String => Some(jstr(x))
    case x: Boolean => Some(x.toString)
    case x: java.sql.Date => Some(jstr(x.toString))      // ISO yyyy-MM-dd
    case x: java.time.LocalDate => Some(jstr(x.toString))
    case x @ (_: java.sql.Timestamp | _: java.time.Instant) =>
      // timestamptz (either java8API setting): the INSTANT, rendered with
      // an explicit UTC offset — Iceberg's single-value convention — so a
      // foreign catalog can never interpret the wall-clock under its own
      // zone and prune against shifted instants (review r17)
      graft.table.GraftTable.tsLitMicros(x)
        .map(m => jstr(graft.table.GraftTable.tsCanon(m) + "+00:00"))
    case x: java.time.LocalDateTime => // timestamp_ntz: zone-free wall-clock
      graft.table.GraftTable.tsLitMicros(x)
        .map(m => jstr(graft.table.GraftTable.tsCanon(m)))
    case _ => None
  }

  private def binary(op: String, c: String, v: Any): Option[String] =
    jlit(v).map(l => s"""{"type":"$op","term":${jstr(c)},"value":$l}""")

  private def one(f: Filter): Option[String] = f match {
    case EqualTo(c, v) => binary("eq", c, v)
    case GreaterThan(c, v) => binary("gt", c, v)
    case GreaterThanOrEqual(c, v) => binary("gt-eq", c, v)
    case LessThan(c, v) => binary("lt", c, v)
    case LessThanOrEqual(c, v) => binary("lt-eq", c, v)
    case In(c, vs) if vs != null && vs.nonEmpty =>
      val lits = vs.toSeq.map(jlit)
      if (lits.exists(_.isEmpty)) None
      else Some(s"""{"type":"in","term":${jstr(c)},"values":[${lits.flatten.mkString(",")}]}""")
    case IsNull(c) => Some(s"""{"type":"is-null","term":${jstr(c)}}""")
    case IsNotNull(c) => Some(s"""{"type":"not-null","term":${jstr(c)}}""")
    case And(l, r) => (one(l), one(r)) match {
      case (Some(a), Some(b)) => Some(s"""{"type":"and","left":$a,"right":$b}""")
      case (a, b) => a.orElse(b) // weaker — sound for pruning
    }
    case Or(l, r) =>
      for (a <- one(l); b <- one(r))
        yield s"""{"type":"or","left":$a,"right":$b}"""
    case _ => None // Not / string matches: no wire claim
  }
}
