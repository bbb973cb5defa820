package graft.rest

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.UUID
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.catalog.GrantStore
import graft.table.{CommitConflictException, FileIO, GraftTable, Ref, Snapshot, SnapshotLog}

/** Commit request: the client built and serialized the candidate snapshot
  * (and already wrote its manifest chunks to shared storage); the server
  * only arbitrates the compare-and-swap. */
private[rest] case class CommitReq(parentVersion: Long, version: Long,
    storedJson: String, moveHead: Boolean)
private[rest] case class CreateTableReq(name: String, schemaJson: String,
    properties: Map[String, String])
private[rest] case class CreateNsReq(namespace: Seq[String])
private[rest] case class HeadReq(version: Long)
private[rest] case class RefReq(name: String, version: Long, refType: String)
private[rest] case class RenameReq(fromNamespace: Seq[String], fromName: String,
    toNamespace: Seq[String], toName: String)

/** In-process REST catalog server — the engine's analogue of the reference
  * stack's Iceberg REST catalog endpoint (reference `main.tf:795-801`: every
  * EMR engine resolves tables and commits snapshots over HTTP against
  * `uri = <catalog endpoint>`; Trino points at the same endpoint,
  * `main.tf:812-816`). Serves the snapshot-log warehouse over JDK
  * `com.sun.net.httpserver.HttpServer` with the same split of
  * responsibilities as the Iceberg REST spec:
  *
  *   - DATA PLANE stays on shared storage: parquet files, immutable
  *     snapshot JSONs, and manifest chunks are written by the ENGINE
  *     (the S3 analogue — executors never talk to the catalog).
  *   - CONTROL PLANE goes through HTTP: namespace/table DDL, table
  *     resolution, and — critically — the commit CAS. The server is the
  *     single arbiter of "which snapshot is HEAD", which is what makes
  *     commits safe on stores with no atomic create (S3), multi-host.
  *
  * Auth mirrors the reference's OAuth2 wiring (`main.tf:798-800`
  * client-id/secret): `POST /v1/oauth/tokens` with a client-credentials
  * grant issues a bearer token; every other endpoint requires
  * `Authorization: Bearer <token>` and answers 401 otherwise.
  *
  * Endpoints (namespace parts joined with the spec's 0x1F unit
  * separator). The spec surface under `/v1/iceberg/` is the one every
  * engine uses, graft's own [[RestCatalogClient]] included; the native
  * routes under `/v1/` remain only where the spec route answers
  * differently from what graft's catalog needs:
  * {{{
  *   POST   /v1/oauth/tokens                         client_credentials -> token
  *   GET    /v1/config                               overrides + advertised endpoints
  *   GET    /v1/grants                               list grants (catalog OWNERs)
  *   POST   /v1/grants                               grant
  *   POST   /v1/grants/revoke                        revoke
  *
  *   native (graft's catalog only):
  *   POST   /v1/namespaces                           create namespace (idempotent; spec: 409)
  *   DELETE /v1/namespaces/{ns}                      drop (?cascade=true drops the tree)
  *   POST   /v1/namespaces/{ns}/tables               create from a Spark schema + graft.* properties
  *   GET    /v1/namespaces/{ns}/tables/{t}           location + current version (no metadata render)
  *   POST   /v1/namespaces/{ns}/tables/{t}/commit    CAS commit (409 on conflict)
  *   POST   /v1/namespaces/{ns}/tables/{t}/head      move HEAD (rollback)
  *   POST   /v1/namespaces/{ns}/tables/{t}/refs      set a branch/tag
  *   DELETE /v1/namespaces/{ns}/tables/{t}/refs/{r}  drop a ref
  *   POST   /v1/tables/rename                        rename, creating a missing destination namespace
  *
  *   spec (prefix = iceberg):
  *   GET    /v1/iceberg/namespaces                   listNamespaces
  *   POST   /v1/iceberg/namespaces                   createNamespace (409 if it exists)
  *   GET    /v1/iceberg/namespaces/{ns}              loadNamespaceMetadata (HEAD: exists)
  *   DELETE /v1/iceberg/namespaces/{ns}              dropNamespace (409 if non-empty)
  *   GET    /v1/iceberg/namespaces/{ns}/tables       listTables
  *   POST   /v1/iceberg/namespaces/{ns}/tables       createTable
  *   POST   /v1/iceberg/namespaces/{ns}/register     registerTable (existing Iceberg metadata)
  *   GET    /v1/iceberg/namespaces/{ns}/tables/{t}   loadTable (HEAD: exists)
  *   POST   /v1/iceberg/namespaces/{ns}/tables/{t}   updateTable commit
  *   DELETE /v1/iceberg/namespaces/{ns}/tables/{t}   dropTable (?purgeRequested=true deletes data)
  *   GET    /v1/iceberg/namespaces/{ns}/tables/{t}/credentials  loadCredentials
  *   POST   /v1/iceberg/namespaces/{ns}/tables/{t}/metrics      reportMetrics
  *   POST   /v1/iceberg/namespaces/{ns}/tables/{t}/plan         planTableScan (always completed)
  *   POST   /v1/iceberg/namespaces/{ns}/tables/{t}/tasks        fetchScanTasks
  *   POST   /v1/iceberg/transactions/commit          multi-table commit
  *   GET    /v1/iceberg/namespaces/{ns}/views        listViews
  *   POST   /v1/iceberg/namespaces/{ns}/views        createView
  *   GET    /v1/iceberg/namespaces/{ns}/views/{v}    loadView (HEAD: exists)
  *   POST   /v1/iceberg/namespaces/{ns}/views/{v}    view commit (replace / set-properties)
  *   DELETE /v1/iceberg/namespaces/{ns}/views/{v}    dropView
  *   POST   /v1/iceberg/tables/rename                renameTable (history preserved)
  *   POST   /v1/iceberg/views/rename                 renameView
  * }}}
  */
class RestCatalogServer(val warehouse: String,
    credentials: Map[String, String], port: Int = 0,
    tokenTtlMs: Long = 3600000L,
    // vended per-table storage credentials (reference `main.tf:676-696`:
    // UC's credential vending hands engines short-lived storage access
    // alongside the table metadata). Whatever map is wired here is returned
    // in every LoadTableResult's `config` plus a spec `storage-credentials`
    // stanza scoped to the table location.
    storageCredentials: Map[String, String] = Map.empty,
    // > 0: every vend stamps `expires-at-ms` (the s3.session-token-expires-
    // at-ms pattern) into the vended config, and the spec loadCredentials
    // endpoint (GET .../tables/{t}/credentials) RE-vends with a fresh stamp
    // — the short-lived-credential lifecycle UC's vending actually has. A
    // client holding expired creds re-vends and continues
    // ([[RestCatalogClient.storageCredentials]]), mirroring its bearer-token
    // refresh loop. 0 = non-expiring static creds (pre-r15 behavior).
    credentialTtlMs: Long = 0L,
    // Max file-scan-tasks inlined per scan-planning response (VERDICT r15
    // #2): a 100×-metadata table must never produce one unbounded JSON
    // body. Overflow is returned as spec `plan-tasks` — opaque tokens the
    // client drains through POST …/tables/{t}/tasks (fetchScanTasks).
    // 10k tasks ≈ single-digit MB of JSON; tests set 1-2 to force paging.
    planPageSize: Int = 10000,
    // Live (root, snapshot, filter) plan prunes kept hot for the paged
    // drains (VERDICT r16 #5): with N concurrent foreign engines each
    // draining a distinct table/filter, fewer cache slots than live drains
    // re-introduces an O(pages × files) prune per drain. Eviction is
    // NEVER a correctness event — plan-task tokens are stateless, a miss
    // re-prunes — so this is purely the memory-vs-recompute knob.
    planCacheSize: Int = 64) {

  require(planPageSize > 0, // 0 would page forever at the same offset
    s"planPageSize must be positive, got $planPageSize")
  require(planCacheSize > 0,
    s"planCacheSize must be positive, got $planCacheSize")

  private implicit val fmts: Formats = DefaultFormats
  // token -> (principal = OAuth client id, absolute expiry epoch ms);
  // expired entries fail auth with 401, which a credentialed client answers
  // with a fresh client-credentials grant (RestCatalogClient.send) — the
  // OAuth2 expiry/refresh loop. The principal is what [[GrantStore]]
  // authorizes: the bearer token IS an identity, not just a gate.
  private case class TokenInfo(principal: String, expiresAt: Long)
  private val tokens = new java.util.concurrent.ConcurrentHashMap[String, TokenInfo]()
  private var server: HttpServer = _

  // Warehouse IO through the Hadoop FileSystem seam — the catalog server
  // arbitrates commits while metadata lives on any FS the URI names (the
  // reference's warehouse is S3, `main.tf:616-619`).
  private val io: FileIO = FileIO.forPath(warehouse)

  def start(): RestCatalogServer = {
    io.mkdirs(warehouse)
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null) // single dispatch thread: metadata ops are tiny
    server.start()
    this
  }

  def uri: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = if (server != null) server.stop(0)

  // One SnapshotLog per table root, reused so manifest-chunk caches persist.
  private val logs = scala.collection.concurrent.TrieMap.empty[String, SnapshotLog]
  private def logOf(root: String): SnapshotLog =
    logs.getOrElseUpdate(root, new SnapshotLog(root))

  private val Sep = "\u001f" // Iceberg REST multipart-namespace separator
  private def decNs(seg: String): Seq[String] =
    java.net.URLDecoder.decode(seg, "UTF-8").split(Sep).toSeq

  /** Identifier hygiene at the PATH chokepoints (RestFuzzSpec): a
    * namespace part, table or view name that is empty, ".", "..", or
    * carries a path separator / NUL would resolve OUTSIDE its parent
    * directory — warehouse escape via createTable {"name":"../x"},
    * rename-to-anywhere, dropNamespace(".."), purge-drop of the warehouse
    * itself. URL-path segments can't smuggle a raw "/", but JSON-body
    * identifiers (create/rename/register) and the URL-DECODED namespace
    * separator form can. 400 (client fault), never a path resolution. */
  private def checkIdent(parts: Seq[String]): Seq[String] = {
    parts.foreach { p =>
      if (p.isEmpty || p == "." || p == ".." ||
          p.exists(c => c == '/' || c == '\\' || c < ' '))
        throw new IllegalArgumentException(
          s"invalid identifier part '${p.take(64)}'")
      // layout-internal names: a TABLE named "_graft" makes its parent
      // namespace probe as a table (isTable checks <p>/_graft/HEAD); one
      // named "_views"/"_iceberg" collides with view storage / rendered
      // metadata; "_staging-*" with in-flight write staging
      if (p == "_graft" || p == "_views" || p == "_iceberg" ||
          p.startsWith("_staging-"))
        throw new IllegalArgumentException(s"identifier '$p' is reserved")
    }
    parts
  }
  private def nsDir(ns: Seq[String]): String =
    (warehouse +: checkIdent(ns)).mkString("/")
  private def tableRoot(ns: Seq[String], t: String): String =
    (warehouse +: checkIdent(ns :+ t)).mkString("/")
  // HEAD probe OR committed-snapshot listing (SnapshotLog.exists semantics):
  // a delete+rename HEAD replace must not make a live table 404 mid-commit
  private def isTable(p: String): Boolean =
    io.exists(s"$p/_graft/HEAD") ||
      io.listNames(s"$p/_graft").exists(n => n.startsWith("v") && n.endsWith(".json"))

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    // a HEAD request takes the status only — the JDK server rejects a
    // response body on HEAD, and an err() fired before the HEAD-specific
    // routes (auth failure, hostile identifier) lands here (RestFuzzSpec)
    val bytes =
      if (ex.getRequestMethod == "HEAD") Array.emptyByteArray
      else body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }
  private def ok(ex: HttpExchange, json: String = "{}"): Unit = respond(ex, 200, json)

  /** Spec error body (Iceberg REST `ErrorModel`): `{"error": {"message",
    * "type", "code"}}` — the shape conformant clients (Trino, PyIceberg)
    * switch on. `type` defaults by status; call sites may name the exact
    * spec exception (NoSuchTableException, AlreadyExistsException, …). */
  private def err(ex: HttpExchange, code: Int, msg: String,
      errType: String = null): Unit = {
    val t = Option(errType).getOrElse(code match {
      case 400 => "BadRequestException"
      case 401 => "NotAuthorizedException"
      case 403 => "ForbiddenException"
      case 404 => "NoSuchResourceException"
      case 409 => "ConflictException"
      case _   => "InternalServerError"
    })
    respond(ex, code, Serialization.write(Map("error" ->
      Map("message" -> msg, "type" -> t, "code" -> code))))
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** Parse the REQUEST body: malformed JSON (syntax errors, jackson
    * depth/size constraint trips, empty input) is the CLIENT's 400. The
    * mapping is scoped HERE rather than a handler-level catch-all so a
    * jackson failure on SERVER-side JSON (a corrupted on-disk snapshot or
    * schema string) still surfaces as the 500 it is — a client told "fix
    * your request" for our bit rot would retry forever (review r16). */
  private def readJson(ex: HttpExchange): JValue =
    try JsonMethods.parse(readBody(ex)) match {
      // a JSON `null` body extracts to a NULL case class (json4s), which
      // NPEs at first field access — the one scalar shape the per-route
      // MappingException mapping can't catch (RestFuzzSpec)
      case JNull | JNothing =>
        throw new IllegalArgumentException("request body must be a JSON document")
      case j => j
    }
    catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        throw new IllegalArgumentException(
          s"malformed request body: ${e.getOriginalMessage}")
      case e: org.json4s.MappingException =>
        throw new IllegalArgumentException(
          s"malformed request body: ${e.getMessage}")
    }

  /** The live principal behind the request's bearer token, or None (no
    * header, unknown token, expired token). */
  private def principalOf(ex: HttpExchange): Option[String] = {
    val h = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    if (!h.startsWith("Bearer ")) None
    else Option(tokens.get(h.stripPrefix("Bearer ")))
      .filter(_.expiresAt > System.currentTimeMillis())
      .map(_.principal)
  }

  private def authorized(ex: HttpExchange): Boolean = principalOf(ex).isDefined

  /** OAuth2 client-credentials grant (form-encoded body, per RFC 6749 and
    * the Iceberg REST spec's token endpoint). */
  private def oauth(ex: HttpExchange): Unit = {
    val form = readBody(ex).split("&").map(_.split("=", 2)).collect {
      case Array(k, v) => java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    if (!form.get("grant_type").contains("client_credentials"))
      return err(ex, 400, "unsupported grant_type")
    val id = form.getOrElse("client_id", "")
    if (!credentials.get(id).contains(form.getOrElse("client_secret", "")))
      return err(ex, 401, "invalid client credentials")
    val token = UUID.randomUUID().toString
    // sweep expired entries on grant so the map stays bounded by LIVE
    // tokens (clients re-grant on 401, which would otherwise leak one
    // entry per refresh on a long-lived server)
    val now = System.currentTimeMillis()
    tokens.entrySet().removeIf(e => e.getValue.expiresAt < now)
    tokens.put(token, TokenInfo(id, now + tokenTtlMs))
    // expires_in is a NUMBER per RFC 6749 §4.2.2 / the spec's
    // OAuthTokenResponse — a string here trips conforming clients
    ok(ex, Serialization.write(Map(
      "access_token" -> token, "token_type" -> "bearer",
      "expires_in" -> tokenTtlMs / 1000)))
  }

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    (method, path) match {
      case ("POST", "/v1/oauth/tokens") => oauth(ex)
      case _ if !authorized(ex) => err(ex, 401, "missing or invalid bearer token")
      case ("GET", "/v1/config") =>
        // `prefix` routes SPEC-conformant Iceberg REST clients to the
        // /v1/iceberg/... surface below; graft's native routes stay at /v1/.
        // `endpoints` is the spec's capability advertisement — clients
        // feature-detect optional surfaces (scan planning, metrics,
        // credential re-vend, views, transactions) from this list instead
        // of probing routes and treating 404s as capability signals.
        val endpoints = Seq(
          "GET /v1/{prefix}/namespaces",
          "GET /v1/{prefix}/namespaces/{namespace}",
          "HEAD /v1/{prefix}/namespaces/{namespace}",
          "POST /v1/{prefix}/namespaces",
          "DELETE /v1/{prefix}/namespaces/{namespace}",
          "GET /v1/{prefix}/namespaces/{namespace}/tables",
          "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}",
          "HEAD /v1/{prefix}/namespaces/{namespace}/tables/{table}",
          "POST /v1/{prefix}/namespaces/{namespace}/tables",
          "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}",
          "DELETE /v1/{prefix}/namespaces/{namespace}/tables/{table}",
          "POST /v1/{prefix}/namespaces/{namespace}/register",
          "POST /v1/{prefix}/tables/rename",
          "POST /v1/{prefix}/transactions/commit",
          "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}/credentials",
          "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/metrics",
          "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan",
          "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/tasks",
          "GET /v1/{prefix}/namespaces/{namespace}/views",
          "GET /v1/{prefix}/namespaces/{namespace}/views/{view}",
          "HEAD /v1/{prefix}/namespaces/{namespace}/views/{view}",
          "POST /v1/{prefix}/namespaces/{namespace}/views",
          "POST /v1/{prefix}/namespaces/{namespace}/views/{view}",
          "DELETE /v1/{prefix}/namespaces/{namespace}/views/{view}",
          "POST /v1/{prefix}/views/rename")
        ok(ex, Serialization.write(Map(
          "overrides" -> Map("warehouse" -> warehouse, "prefix" -> "iceberg"),
          "defaults" -> Map.empty[String, String],
          "endpoints" -> endpoints)))
      case (m, p) =>
        val segs = p.stripPrefix("/v1/").split("/").filter(_.nonEmpty).toList
        // grants: every authenticated route maps to a required privilege on
        // a securable; the check no-ops until a first grant is written
        // (GrantStore's not-enforcing default)
        val principal = principalOf(ex).getOrElse(
          return err(ex, 401, "missing or invalid bearer token"))
        requiredPrivilege(m, segs).foreach { case (privs, parts) =>
          GrantStore.checkAny(io, warehouse, principal, privs, parts)
        }
        segs match {
          case "grants" :: rest => grantsRoute(ex, m, rest, principal)
          case _ => route(ex, m, segs)
        }
    }
  } catch {
    case a: GrantStore.AccessDeniedException =>
      err(ex, 403, a.getMessage, "ForbiddenException")
    case c: CommitConflictException =>
      err(ex, 409, c.getMessage, "CommitFailedException")
    case e: IllegalArgumentException => err(ex, 400, String.valueOf(e.getMessage))
    // a WELL-FORMED JSON body whose fields don't fit the route's request
    // shape ({"name": 5}) is the client's fault exactly like unparseable
    // JSON — readJson maps the parse half, this maps the extract half
    // (RestFuzzSpec: it surfaced as a 500 before)
    case e: org.json4s.MappingException =>
      err(ex, 400, s"malformed request body: ${e.getMessage}")
    case e: IllegalStateException => err(ex, 409, String.valueOf(e.getMessage))
    // a file that VANISHES between a route's existence check and its read
    // is a concurrent drop/expire, not a server fault: the resource is
    // gone → 404. A shell-exec failure on a vanished temp file (Hadoop
    // local FS chmod during a raced write) is the write-side twin → 409,
    // retryable; through graft's `LocalFs` that race throws
    // NoSuchFileException instead (→ 404). Surfaced by ConcurrencySoakSpec's
    // drop/recreate races — both were 500s before.
    case e: java.io.FileNotFoundException =>
      err(ex, 404, s"resource vanished (concurrent drop?): ${e.getMessage}",
        "NoSuchTableException")
    case e: java.nio.file.NoSuchFileException =>
      err(ex, 404, s"resource vanished (concurrent drop?): ${e.getMessage}",
        "NoSuchTableException")
    case e: org.apache.hadoop.util.Shell.ExitCodeException =>
      err(ex, 409, s"storage mutation raced a concurrent operation, retry: " +
        s"${e.getMessage}", "CommitFailedException")
    // Hadoop's local FS reports "mkdirs under a concurrently-deleted parent"
    // as a generic IOException with this message prefix — the drop-vs-create
    // race's third face (the first two throw typed exceptions above). Other
    // IOExceptions (disk full, permissions) stay honest 500s.
    case e: java.io.IOException
        if String.valueOf(e.getMessage).startsWith("Mkdirs failed") =>
      err(ex, 409, s"storage mutation raced a concurrent operation, retry: " +
        s"${e.getMessage}", "CommitFailedException")
    // ...and the fourth face: Hadoop's local FS reports "list a directory
    // that vanished between exists() and list()" (File.list() == null) as a
    // generic IOException with this message — a read that loses the race
    // against a concurrent drop sees the resource gone → 404, like the
    // FileNotFoundException face above. (Surfaced by ConcurrencySoakSpec:
    // /plan racing dropTable 500'd here.)
    // ADVICE r18: the same message also covers REAL faults (permissions,
    // disk I/O) where File.list() returns null with the directory still
    // present — so re-stat the named directory and only downgrade to 404
    // when it is actually gone; a still-existing dir stays an honest 500.
    case e: java.io.IOException
        if String.valueOf(e.getMessage)
          .startsWith("Invalid directory or I/O error occurred") &&
          !namedPathStillExists(e.getMessage, "for dir: ") =>
      err(ex, 404, s"resource vanished (concurrent drop?): ${e.getMessage}",
        "NoSuchTableException")
    // ...and the fifth face: Hadoop's local mkdirs stats its target twice
    // (exists, then isDirectory), so a directory that a concurrent drop
    // deletes between the two reads is reported as "not a directory". Only
    // when the named path is gone; a real file in the way stays a 500.
    // (Surfaced by ConcurrencySoakSpec: a recreate's Iceberg render racing
    // a drop of the previous incarnation 500'd here.)
    case e: org.apache.hadoop.fs.FileAlreadyExistsException
        if String.valueOf(e.getMessage)
          .startsWith("Destination exists and is not a directory") &&
          !namedPathStillExists(e.getMessage, "not a directory: ") =>
      err(ex, 409, s"storage mutation raced a concurrent operation, retry: " +
        s"${e.getMessage}", "CommitFailedException")
    case e: Exception => err(ex, 500, s"${e.getClass.getSimpleName}: ${e.getMessage}")
  }

  /** Hadoop's RawLocalFileSystem names the path after `marker` in the
    * messages of the race faces above ("Invalid directory or I/O error
    * occurred for dir: <path>", "Destination exists and is not a directory:
    * <path>"); parse it back out and stat it. True = the path is still
    * there, so the failure was a real fault, not the drop race. A message
    * without the marker (format drift) conservatively reports "exists" so
    * the error stays a 500 rather than masquerading as a concurrent drop. */
  private def namedPathStillExists(msg: String, marker: String): Boolean = {
    val i = String.valueOf(msg).indexOf(marker)
    if (i < 0) true
    else new java.io.File(msg.substring(i + marker.length).trim).exists()
  }

  /** Route shape -> (privilege, securable) for [[GrantStore]] enforcement —
    * the UC-grants surface the reference wires for its external engine
    * (`main.tf:730-756`): table reads need SELECT, commits/DDL on a table
    * need MODIFY, creating needs CREATE_TABLE on the namespace, and
    * navigating a namespace needs USE_SCHEMA. The graft-native and spec
    * /iceberg/ surfaces enforce identically (same securables). */
  private def requiredPrivilege(method: String, segs: List[String])
      : Option[(Seq[String], Seq[String])] = {
    val s = segs match { case "iceberg" :: rest => rest; case x => x }
    (method, s) match {
      // table/view loads: SELECT on the table — or MODIFY, so a write-only
      // foreign engine can resolve its DML target before committing (the
      // same UC semantics as GraftCatalog.loadTable; ADVICE r13)
      case ("GET" | "HEAD", "namespaces" :: ns :: ("tables" | "views") :: t :: Nil) =>
        Some(Seq("SELECT", "MODIFY") -> (decNs(ns) :+ t))
      // credential re-vend: same gate as loading the table itself
      case ("GET", "namespaces" :: ns :: "tables" :: t :: "credentials" :: Nil) =>
        Some(Seq("SELECT", "MODIFY") -> (decNs(ns) :+ t))
      // metrics reports come from READERS too — don't demand MODIFY
      case ("POST", "namespaces" :: ns :: "tables" :: t :: "metrics" :: Nil) =>
        Some(Seq("SELECT", "MODIFY") -> (decNs(ns) :+ t))
      // scan planning is a READ — and so is fetching its task pages
      // (without "tasks" here the MODIFY catch-all below would 403 a
      // SELECT-only reader on page 2 of the very plan it was allowed
      // to start)
      case ("POST", "namespaces" :: ns :: "tables" :: t :: ("plan" | "tasks") :: Nil) =>
        Some(Seq("SELECT", "MODIFY") -> (decNs(ns) :+ t))
      // commit / head / refs / drop / view-commit: MODIFY on the table
      case ("POST" | "DELETE", "namespaces" :: ns :: ("tables" | "views") :: t :: _) =>
        Some(Seq("MODIFY") -> (decNs(ns) :+ t))
      // create table/view/register: CREATE_TABLE on the namespace
      case ("POST", "namespaces" :: ns :: ("tables" | "views" | "register") :: Nil) =>
        Some(Seq("CREATE_TABLE") -> decNs(ns))
      // namespace navigation (exists / list tables / list views): USE_SCHEMA
      case ("GET" | "HEAD", "namespaces" :: ns :: _) =>
        Some(Seq("USE_SCHEMA") -> decNs(ns))
      // creating a namespace mutates the CATALOG — without this gate any
      // authenticated principal could mint namespaces under enforcement
      // (RestFuzzSpec); CREATE_TABLE at catalog level doubles as the
      // schema-creation right (UC's CREATE_SCHEMA analogue)
      case ("POST", "namespaces" :: Nil) =>
        Some(Seq("CREATE_TABLE", "CREATE_SCHEMA") -> Seq.empty)
      case ("DELETE", "namespaces" :: ns :: Nil) =>
        Some(Seq("MODIFY") -> decNs(ns))
      case _ => None // list/create namespaces, transactions: checked per-table
                     // inside; rename: MODIFY+CREATE_TABLE checked in the
                     // handlers (they need the request body's identifiers)
    }
  }

  /** GRANT/REVOKE administration (catalog OWNERs only):
    * {{{
    *   GET  /v1/grants                     list all grants
    *   POST /v1/grants                     {"principal","privilege","securable":[...]}
    *   POST /v1/grants/revoke              same body, removes the grant
    * }}}
    * The FIRST grant flips the warehouse to enforcing — so it must name an
    * OWNER, or the caller would lock everyone (including itself) out;
    * rejected with 400 otherwise. */
  private def grantsRoute(ex: HttpExchange, method: String,
      segs: List[String], principal: String): Unit = {
    if (!GrantStore.isAdmin(io, warehouse, principal))
      throw new GrantStore.AccessDeniedException(
        s"principal '$principal' is not a catalog OWNER")
    (method, segs) match {
      case ("GET", Nil) =>
        val gs = GrantStore.load(io, warehouse).getOrElse(Nil)
        ok(ex, Serialization.write(Map("grants" -> gs.map(g => Map(
          "principal" -> g.principal, "privilege" -> g.privilege,
          "securable" -> g.parts)))))
      case ("POST", Nil) =>
        val g = parseGrant(readJson(ex))
        // the first grant flips the warehouse to enforcing, so it must make
        // grants administration itself reachable: isAdmin requires OWNER at
        // the CATALOG level (empty securable) — an OWNER grant scoped to a
        // namespace would enforce with no admin left, the exact lock-out
        // this check exists to prevent
        if (GrantStore.load(io, warehouse).isEmpty &&
            !(g.privilege == "OWNER" && g.parts.isEmpty))
          return err(ex, 400, "the first grant must create a catalog-level " +
            "OWNER (anything else locks every principal out, including yours)")
        GrantStore.grant(io, warehouse, g)
        ok(ex)
      case ("POST", "revoke" :: Nil) =>
        GrantStore.revoke(io, warehouse, parseGrant(readJson(ex)))
        ok(ex)
      case _ => err(ex, 404, s"no grants route $method /${segs.mkString("/")}")
    }
  }

  /** Grant fields of an already-[[readJson]]-parsed body — the malformed-
    * body-to-400 mapping lives in ONE place (readJson) instead of a
    * subtly different duplicate here (ADVICE r16). */
  private def parseGrant(j: JValue): GrantStore.Grant =
    GrantStore.Grant(
      (j \ "principal").extractOpt[String].getOrElse(
        throw new IllegalArgumentException("grant needs principal")),
      (j \ "privilege").extractOpt[String].getOrElse(
        throw new IllegalArgumentException("grant needs privilege")),
      (j \ "securable").extractOpt[Seq[String]].getOrElse(Nil))

  /** SPEC-conformant Iceberg REST Catalog read surface (the role Unity
    * Catalog's IRC plays in the reference, `main.tf:795-801`, `main.tf:812`):
    * a real Iceberg REST client that fetched `/v1/config` gets
    * `prefix = iceberg` and then loads tables here. `loadTable` renders the
    * snapshot log as Iceberg v2 metadata on first request per version
    * (cached under `<table>/_iceberg/v<N>/`) and returns the spec
    * `LoadTableResult` with the metadata inlined — the engine IS the
    * catalog the reference wires engines against. The write half lives in
    * [[icebergCommit]]/[[icebergTransaction]]/[[icebergCreateTable]]:
    * spec updateTable commits, multi-table transactions, and DDL. */
  /** Spec list pagination (`pageToken` / `pageSize`): the token is the last
    * name of the previous page — a stable EXCLUSIVE cursor over the sorted
    * listing, so pages stay consistent even when entries are created or
    * dropped between requests (a positional offset would skip or repeat).
    * Returns the page and the `next-page-token` to emit, if any. */
  private def paged(ex: HttpExchange, names: Seq[String]): (Seq[String], Option[String]) = {
    val params = Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    val sorted = names.sorted
    val after = params.get("pageToken") match {
      case Some(t) => sorted.dropWhile(_ <= t)
      case None    => sorted
    }
    params.get("pageSize").flatMap(s => scala.util.Try(s.toInt).toOption)
      .filter(_ > 0) match {
      case None    => (after, None)
      case Some(n) => (after.take(n), if (after.size > n) Some(after(n - 1)) else None)
    }
  }

  private def withNextToken(base: Map[String, Any], next: Option[String]): String =
    Serialization.write(base ++ next.map("next-page-token" -> _))

  private def icebergRoute(ex: HttpExchange, method: String, segs: List[String]): Unit =
    (method, segs) match {
      case ("GET", "namespaces" :: Nil) =>
        val all = io.listNames(warehouse)
          .filter(n => io.isDirectory(s"$warehouse/$n") && !isTable(s"$warehouse/$n"))
        val (page, next) = paged(ex, all)
        ok(ex, withNextToken(Map("namespaces" -> page.map(Seq(_))), next))
      case ("GET" | "HEAD", "namespaces" :: ns :: Nil) =>
        // a table's directory is not a namespace (db\u001ft for table db.t)
        val dir = nsDir(decNs(ns))
        if (!io.isDirectory(dir) || isTable(dir)) err(ex, 404, s"no namespace $ns")
        else if (method == "HEAD") { ex.sendResponseHeaders(204, -1); ex.close() }
        else ok(ex, Serialization.write(Map(
          "namespace" -> decNs(ns), "properties" -> Map.empty[String, String])))
      case ("GET", "namespaces" :: ns :: "tables" :: Nil) =>
        val dir = nsDir(decNs(ns))
        if (!io.isDirectory(dir)) return err(ex, 404, s"no namespace $ns")
        val names = io.listNames(dir).filter(n => isTable(s"$dir/$n"))
        val (page, next) = paged(ex, names)
        ok(ex, withNextToken(Map("identifiers" ->
          page.map(n => Map("namespace" -> decNs(ns), "name" -> n))), next))
      case ("GET" | "HEAD", "namespaces" :: ns :: "tables" :: t :: Nil) =>
        val root = tableRoot(decNs(ns), t)
        if (!isTable(root)) return err(ex, 404, s"no table $t", "NoSuchTableException")
        if (method == "HEAD") { ex.sendResponseHeaders(204, -1); ex.close(); return }
        val (metaUri, metadataJson) = renderIcebergMetadata(root)
        // ETag = the metadata location (changes exactly when the table
        // commits); a conformant client revalidates with If-None-Match and
        // skips re-parsing an unchanged table's metadata on 304
        val inm = Option(ex.getRequestHeaders.getFirst("If-None-Match"))
        if (inm.contains(metaUri)) {
          ex.getResponseHeaders.set("ETag", metaUri)
          ex.sendResponseHeaders(304, -1); ex.close(); return
        }
        ex.getResponseHeaders.set("ETag", metaUri)
        ok(ex, tableResult(root, metaUri, metadataJson))
      // spec loadCredentials: re-vend the table's storage credentials
      // WITHOUT re-loading metadata — the cheap refresh path a client whose
      // vended creds expired mid-job takes (LoadCredentialsResponse)
      case ("GET", "namespaces" :: ns :: "tables" :: t :: "credentials" :: Nil) =>
        val root = tableRoot(decNs(ns), t)
        if (!isTable(root)) return err(ex, 404, s"no table $t", "NoSuchTableException")
        ok(ex, s"""{"storage-credentials":${vendCredentials(root)}}""")
      case ("POST", "namespaces" :: Nil) =>
        val body = readJson(ex)
        val nsSeq = (body \ "namespace").extractOpt[Seq[String]].getOrElse(
          throw new IllegalArgumentException("createNamespace needs namespace"))
        require(nsSeq.nonEmpty, "createNamespace: empty namespace")
        if (io.isDirectory(nsDir(nsSeq)))
          return err(ex, 409, s"namespace ${nsSeq.mkString(".")} exists")
        io.mkdirs(nsDir(nsSeq))
        ok(ex, Serialization.write(Map(
          "namespace" -> nsSeq, "properties" -> Map.empty[String, String])))
      case ("DELETE", "namespaces" :: ns :: Nil) =>
        val dir = nsDir(decNs(ns))
        if (!io.isDirectory(dir)) err(ex, 404, s"no namespace $ns")
        else if (io.listNames(dir).nonEmpty)
          err(ex, 409, s"namespace $ns is not empty")
        else { io.delete(dir); ex.sendResponseHeaders(204, -1); ex.close() }
      case ("POST", "namespaces" :: ns :: "tables" :: Nil) =>
        icebergCreateTable(ex, decNs(ns))
      case ("POST", "namespaces" :: ns :: "register" :: Nil) =>
        // spec registerTable: a foreign engine hands over an EXISTING
        // Iceberg table by metadata location (the migration-in counterpart
        // of dropTable's metadata-only default). The import replays the
        // full snapshot chain through IcebergImport's Spark-free core, so
        // the registered table time-travels from day one.
        val body = readJson(ex)
        val name = (body \ "name").extractOpt[String].getOrElse(
          throw new IllegalArgumentException("register needs name"))
        val metaLoc = (body \ "metadata-location").extractOpt[String].getOrElse(
          throw new IllegalArgumentException("register needs metadata-location"))
        if (!io.isDirectory(nsDir(decNs(ns))))
          return err(ex, 404, s"no namespace $ns")
        val root = tableRoot(decNs(ns), name)
        if (isTable(root)) return err(ex, 409, s"table $name exists")
        graft.table.IcebergImport.importIntoPath(
          new org.apache.hadoop.conf.Configuration(), metaLoc, root)
        val (metaUri, metadataJson) = renderIcebergMetadata(root)
        ok(ex, tableResult(root, metaUri, metadataJson))
      case ("DELETE", "namespaces" :: ns :: "tables" :: t :: Nil) =>
        val root = tableRoot(decNs(ns), t)
        val purge = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").contains("purgeRequested=true")
        if (!isTable(root)) err(ex, 404, s"no table $t")
        else {
          // spec default (purgeRequested=false) is a METADATA-ONLY drop: a
          // foreign engine's plain DROP TABLE expects data files to survive.
          // Remove the catalog trees (_graft snapshot log + _iceberg export)
          // so the table 404s, but leave data files in place; only an
          // explicit ?purgeRequested=true takes the whole tree.
          if (purge) io.deleteRecursive(root)
          else Seq(s"$root/_graft", s"$root/_iceberg")
            .filter(io.isDirectory).foreach(io.deleteRecursive)
          logs.remove(root); invalidatePlans(root)
          ex.sendResponseHeaders(204, -1); ex.close()
        }
      case ("POST", "namespaces" :: ns :: "tables" :: t :: Nil) =>
        icebergCommit(ex, decNs(ns), t)
      // spec reportMetrics: engines POST scan/commit reports after reads
      // (Iceberg's Spark/Trino clients do this unconditionally and treat
      // failures as log noise — a 404 here spams every foreign reader's
      // logs). Validate the envelope minimally, acknowledge with 204; the
      // reports are advisory telemetry, not state.
      case ("POST", "namespaces" :: ns :: "tables" :: t :: "metrics" :: Nil) =>
        val root = tableRoot(decNs(ns), t)
        if (!isTable(root)) return err(ex, 404, s"no table $t", "NoSuchTableException")
        val body = readJson(ex)
        if ((body \ "report-type").extractOpt[String].isEmpty)
          return err(ex, 400, "metrics report needs report-type")
        ex.sendResponseHeaders(204, -1); ex.close()
      // spec scan planning (PlanTableScanRequest → completed
      // PlanTableScanResult): the CATALOG plans the scan — it holds the
      // per-file column bounds in the snapshot log, so it prunes the file
      // list against the request's filter expression server-side and hands
      // the engine ready FileScanTasks with correctly SCOPED delete files.
      // At 100 TB this is the difference between every engine listing and
      // filtering manifests itself and one metadata-sized response.
      // Always synchronous `completed`: pruning is O(files) over in-memory
      // metadata, never long-running. The RESPONSE is bounded: at most
      // [[planPageSize]] inline tasks, the rest behind spec `plan-tasks`
      // tokens served by the fetchScanTasks route below.
      case ("POST", "namespaces" :: ns :: "tables" :: t :: "plan" :: Nil) =>
        val body = readJson(ex)
        icebergPlanScan(ex, decNs(ns), t,
          (body \ "snapshot-id").extractOpt[Long], body \ "filter", offset = 0)
      // spec fetchScanTasks: {"plan-task": <opaque token>} → the next page
      // of FileScanTasks. The token is stateless — base64 JSON pinning
      // (snapshot version, filter, offset) — so the single-threaded server
      // keeps no plan registry and a page can be re-fetched idempotently;
      // the route is bearer-authed and table-scoped like /plan itself, and
      // a tampered token can only re-ask a prune the caller could request
      // directly. Pages stay consistent under concurrent commits because
      // they are pinned to the SNAPSHOT, not to "current".
      case ("POST", "namespaces" :: ns :: "tables" :: t :: "tasks" :: Nil) =>
        val body = readJson(ex)
        (body \ "plan-task").extractOpt[String].flatMap(decodePlanTask) match {
          case None => err(ex, 400, "fetchScanTasks needs a valid plan-task token")
          case Some((snapV, filter, off)) =>
            icebergPlanScan(ex, decNs(ns), t, Some(snapV), filter, off)
        }
      case ("POST", "transactions" :: "commit" :: Nil) =>
        icebergTransaction(ex)
      case ("GET", "namespaces" :: ns :: "views" :: Nil) =>
        if (!io.isDirectory(nsDir(decNs(ns)))) return err(ex, 404, s"no namespace $ns")
        val dir = s"${nsDir(decNs(ns))}/_views"
        val names =
          if (io.isDirectory(dir))
            io.listNames(dir).filter(_.endsWith(".json")).map(_.stripSuffix(".json"))
          else Nil
        val (page, next) = paged(ex, names)
        ok(ex, withNextToken(Map("identifiers" ->
          page.map(n => Map("namespace" -> decNs(ns), "name" -> n))), next))
      case ("GET" | "HEAD", "namespaces" :: ns :: "views" :: v :: Nil) =>
        checkIdent(Seq(v))
        val path = s"${nsDir(decNs(ns))}/_views/$v.json"
        if (!io.exists(path)) return err(ex, 404, s"no view $v")
        if (method == "HEAD") { ex.sendResponseHeaders(204, -1); ex.close(); return }
        val (metaUri, metadataJson) = renderViewMeta(decNs(ns), v, path)
        ok(ex, s"""{"metadata-location":"$metaUri","metadata":$metadataJson,"config":{}}""")
      case ("POST", "namespaces" :: ns :: "views" :: Nil) =>
        icebergCreateView(ex, decNs(ns))
      case ("POST", "namespaces" :: ns :: "views" :: v :: Nil) =>
        icebergCommitView(ex, decNs(ns), checkIdent(Seq(v)).head)
      case ("DELETE", "namespaces" :: ns :: "views" :: v :: Nil) =>
        checkIdent(Seq(v))
        val dir = s"${nsDir(decNs(ns))}/_views"
        if (!io.exists(s"$dir/$v.json")) return err(ex, 404, s"no view $v")
        io.delete(s"$dir/$v.json")
        // sweep this view's CAS markers and its rendered spec metadata —
        // arbitration is uuid-scoped so leftovers are harmless, but they'd
        // accumulate forever (same sweep as GraftCatalog.dropView)
        io.listNames(dir).filter(_.startsWith(s"$v.json."))
          .foreach(n => io.delete(s"$dir/$n"))
        if (io.isDirectory(s"$dir/_iceberg/$v")) io.deleteRecursive(s"$dir/_iceberg/$v")
        ex.sendResponseHeaders(204, -1); ex.close()
      case ("POST", "tables" :: "rename" :: Nil) =>
        icebergRename(ex, view = false)
      case ("POST", "views" :: "rename" :: Nil) =>
        icebergRename(ex, view = true)
      case _ => err(ex, 404, s"$method iceberg/${segs.mkString("/")}")
    }

  /** Spec `renameTable` / `renameView` (`POST /v1/{prefix}/tables/rename`,
    * `…/views/rename`): move the whole table tree (snapshot log INCLUDED —
    * history, branches and time travel survive the rename) or the stored
    * view file (full version history in one JSON). The reference's UC
    * serves the same rename surface to Trino/Spark (`main.tf:795-820`). */
  private def icebergRename(ex: HttpExchange, view: Boolean): Unit = {
    val body = readJson(ex)
    def ident(key: String): (Seq[String], String) = {
      val ns = (body \ key \ "namespace").extractOpt[Seq[String]].getOrElse(
        throw new IllegalArgumentException(s"rename needs $key.namespace"))
      val n = (body \ key \ "name").extractOpt[String].getOrElse(
        throw new IllegalArgumentException(s"rename needs $key.name"))
      // JSON-body identifiers can smuggle separators / ".." past the URL
      // layer — a hostile rename is an arbitrary directory move otherwise
      (checkIdent(ns), checkIdent(Seq(n)).head)
    }
    val (srcNs, srcName) = ident("source")
    val (dstNs, dstName) = ident("destination")
    // grants: rename = MODIFY on the source securable + CREATE_TABLE in the
    // destination namespace (grants are name-keyed, so an unguarded rename
    // would detach a table from its grants or graft it under another
    // securable's — ADVICE r13). requiredPrivilege can't see the body, so
    // the check lives here.
    principalOf(ex).foreach { principal =>
      GrantStore.check(io, warehouse, principal, "MODIFY", srcNs :+ srcName)
      GrantStore.check(io, warehouse, principal, "CREATE_TABLE", dstNs)
    }
    if (!io.isDirectory(nsDir(dstNs)))
      return err(ex, 404, s"no namespace ${dstNs.mkString(".")}")
    if (view) {
      val from = s"${nsDir(srcNs)}/_views/$srcName.json"
      val to = s"${nsDir(dstNs)}/_views/$dstName.json"
      if (!io.exists(from)) return err(ex, 404, s"no view $srcName")
      if (io.exists(to)) return err(ex, 409, s"view $dstName exists")
      io.mkdirs(s"${nsDir(dstNs)}/_views")
      io.rename(from, to)
      // the rendered spec metadata under the OLD name is a stale cache now
      val stale = s"${nsDir(srcNs)}/_views/_iceberg/$srcName"
      if (io.isDirectory(stale)) io.deleteRecursive(stale)
    } else {
      val from = tableRoot(srcNs, srcName)
      val to = tableRoot(dstNs, dstName)
      if (!isTable(from)) return err(ex, 404, s"no table $srcName")
      if (isTable(to)) return err(ex, 409, s"table $dstName exists")
      io.rename(from, to)
      logs.remove(from); invalidatePlans(from)
    }
    ex.sendResponseHeaders(204, -1); ex.close()
  }

  /** `view-version` JSON (CreateViewRequest / add-view-version) → the SQL
    * text and session context a graft [[graft.catalog.StoredViewVersion]]
    * stores. The spark-dialect SQL representation is preferred; any SQL
    * representation is accepted otherwise (graft re-parses the text with
    * Spark's parser at read time — late binding, so a Trino-dialect view
    * that is also valid Spark SQL still resolves). */
  private def parseViewVersion(vv: JValue, versionId: Int, schemaJson: String):
      graft.catalog.StoredViewVersion = {
    val sqlReprs = (vv \ "representations").children
      .filter(r => (r \ "type").extractOpt[String].contains("sql"))
    val pick = sqlReprs.find(r => (r \ "dialect").extractOpt[String].contains("spark"))
      .orElse(sqlReprs.headOption).getOrElse(throw new IllegalArgumentException(
        "view-version needs at least one representation of type 'sql'"))
    val sql = (pick \ "sql").extractOpt[String].getOrElse(
      throw new IllegalArgumentException("sql representation needs 'sql' text"))
    graft.catalog.StoredViewVersion(versionId,
      (vv \ "timestamp-ms").extractOpt[Long].getOrElse(System.currentTimeMillis()),
      sql, schemaJson,
      (vv \ "default-catalog").extractOpt[String].getOrElse(""),
      (vv \ "default-namespace").extractOpt[Seq[String]].getOrElse(Nil))
  }

  /** Spec Iceberg REST `createView` (CreateViewRequest → LoadViewResult):
    * the foreign-engine CREATE VIEW role of the reference's UC IRC
    * (`main.tf:809-820` — Trino creating views other engines then read).
    * Stores the same [[graft.catalog.ViewStore]] JSON GraftCatalog writes,
    * so the created view is immediately usable from a graft `SELECT`. */
  private def icebergCreateView(ex: HttpExchange, ns: Seq[String]): Unit = {
    val body = readJson(ex)
    val name = checkIdent(Seq((body \ "name").extractOpt[String].getOrElse(
      throw new IllegalArgumentException("createView needs name")))).head
    if ((body \ "location").extractOpt[String].exists(_.nonEmpty))
      throw new IllegalArgumentException(
        "custom location is not supported: views live under the namespace")
    if (!io.isDirectory(nsDir(ns)))
      return err(ex, 404, s"no namespace ${ns.mkString(".")}")
    val dir = s"${nsDir(ns)}/_views"
    val path = s"$dir/$name.json"
    if (io.exists(path)) return err(ex, 409, s"view $name exists")
    val st = graft.table.IcebergImport.sparkSchema(body \ "schema")
    require(st.fields.nonEmpty, "createView: empty schema")
    val vv = body \ "view-version"
    if (vv == JNothing) throw new IllegalArgumentException("createView needs view-version")
    val v1 = parseViewVersion(vv,
      (vv \ "version-id").extractOpt[Int].filter(_ >= 1).getOrElse(1), st.json)
    val sv = graft.catalog.StoredView(v1.sql, v1.currentCatalog, v1.currentNamespace,
      st.json, Nil, Nil, Nil,
      (body \ "properties").extractOpt[Map[String, String]].getOrElse(Map.empty),
      viewUuid = Some(UUID.randomUUID().toString),
      versions = Some(Seq(v1)))
    // exclusive-create arbitrates concurrent creators of the same name:
    // the loser sees the winner's file and 409s instead of overwriting it
    io.mkdirs(dir)
    if (!io.createExclusive(path, org.json4s.jackson.Serialization.write(sv)))
      return err(ex, 409, s"view $name exists")
    val (metaUri, metadataJson) = renderViewMeta(ns, name, path)
    ok(ex, s"""{"metadata-location":"$metaUri","metadata":$metadataJson,"config":{}}""")
  }

  /** Spec Iceberg REST view commit (`POST …/views/{view}`, the surface
    * Iceberg's replaceView/ALTER VIEW emits): `add-view-version` +
    * `set-current-view-version` replace the definition (appending to the
    * stored history through the SAME ViewStore CAS GraftCatalog's
    * CREATE OR REPLACE VIEW uses, so foreign and graft replacers arbitrate
    * against each other); `set-properties`/`remove-properties` alone are a
    * property-only update (ALTER VIEW semantics — no version advance). The
    * catalog REASSIGNS version ids monotonically (history-max + 1), which
    * the view spec explicitly allows; `set-current-view-version` must
    * therefore be -1 ("the version just added") or echo the request's own
    * version-id — making an OLDER version current again is not supported.
    * All-or-nothing: any unsupported update action 400s the whole commit. */
  private def icebergCommitView(ex: HttpExchange, ns: Seq[String], name: String): Unit = {
    val dir = s"${nsDir(ns)}/_views"
    val path = s"$dir/$name.json"
    if (!io.exists(path)) return err(ex, 404, s"no view $name")
    val body = readJson(ex)
    val updates = (body \ "updates").children
    def actionsOf(a: String) = updates.filter(u =>
      (u \ "action").extractOpt[String].contains(a))
    val unsupported = updates.flatMap(u => (u \ "action").extractOpt[String])
      .filterNot(Set("add-schema", "add-view-version", "set-current-view-version",
        "set-properties", "remove-properties"))
    if (unsupported.nonEmpty) throw new IllegalArgumentException(
      s"unsupported view update action(s): ${unsupported.mkString(", ")} " +
        "(add-schema / add-view-version / set-current-view-version / " +
        "set-properties / remove-properties are accepted)")

    def checkRequirements(sv: graft.catalog.StoredView): Unit =
      (body \ "requirements").children.foreach { r =>
        (r \ "type").extractOpt[String] match {
          case Some("assert-view-uuid") =>
            val want = (r \ "uuid").extractOpt[String].getOrElse("")
            val have = sv.viewUuid.getOrElse(
              graft.catalog.ViewStore.fallbackUuid(ns :+ name))
            if (want != have) throw new CommitConflictException(
              s"requirement failed: view-uuid is $have, expected $want")
          case other => throw new IllegalArgumentException(
            s"unsupported view requirement type: ${other.getOrElse("<missing>")}")
        }
      }

    def props(base: Map[String, String]): Map[String, String] = {
      val set = actionsOf("set-properties").flatMap(u =>
        (u \ "updates").extractOpt[Map[String, String]].getOrElse(Map.empty))
      val removed = actionsOf("remove-properties").flatMap(u =>
        (u \ "removals").extractOpt[Seq[String]].getOrElse(Nil))
      base ++ set -- removed
    }

    val addedVersion = actionsOf("add-view-version") match {
      case Nil => None
      case v :: Nil => Some(v \ "view-version")
      case many => throw new IllegalArgumentException(
        s"one add-view-version per commit (got ${many.size})")
    }
    actionsOf("set-current-view-version").foreach { u =>
      val want = (u \ "view-version-id").extractOpt[Int].getOrElse(
        throw new IllegalArgumentException("set-current-view-version needs view-version-id"))
      val requested = addedVersion.flatMap(vv =>
        (vv \ "version-id").extractOpt[Int]).getOrElse(-1)
      if (addedVersion.isEmpty || (want != -1 && want != requested))
        throw new IllegalArgumentException(
          "set-current-view-version must name the version added in this commit " +
            "(-1 or its version-id); making an older version current is not supported")
    }

    val result = addedVersion match {
      case Some(vv) =>
        // schema for the new version: the commit's add-schema (schema-id -1
        // or matching), else a prior version's schema by id (render stamps
        // schema-id = version-id), else 400
        val addedSchemas = actionsOf("add-schema").map { u =>
          ((u \ "schema" \ "schema-id").extractOpt[Int].getOrElse(-1),
            graft.table.IcebergImport.sparkSchema(u \ "schema"))
        }
        val sid = (vv \ "schema-id").extractOpt[Int].getOrElse(-1)
        graft.catalog.ViewStore.replaceWithCas(io, dir, path, ns :+ name,
            30000L)(() => graft.catalog.ViewStore.read(io, path)) { (prev, _) =>
          checkRequirements(prev)
          val schemaJson =
            addedSchemas.find(_._1 == sid).orElse(addedSchemas.lastOption.filter(_ => sid == -1))
              .map(_._2.json)
              .orElse(prev.allVersions.find(_.versionId == sid).map(_.schemaJson))
              .getOrElse(throw new IllegalArgumentException(
                s"add-view-version: no schema with id $sid (add-schema it in this commit)"))
          val history = prev.allVersions
          val next = parseViewVersion(vv, history.map(_.versionId).max + 1, schemaJson)
          prev.copy(sql = next.sql, currentCatalog = next.currentCatalog,
            currentNamespace = next.currentNamespace, schemaJson = schemaJson,
            properties = props(prev.properties),
            versions = Some(history :+ next))
        }
      case None =>
        // property-only commit: read-modify-write, same non-versioned
        // semantics as GraftCatalog.alterView (ALTER VIEW SET PROPERTIES
        // changes state without advancing current-version-id)
        val prev = graft.catalog.ViewStore.read(io, path)
        checkRequirements(prev)
        val next = prev.copy(properties = props(prev.properties))
        graft.catalog.ViewStore.write(io, dir, path, next)
        next
    }
    val _ = result
    val (metaUri, metadataJson) = renderViewMeta(ns, name, path)
    ok(ex, s"""{"metadata-location":"$metaUri","metadata":$metadataJson,"config":{}}""")
  }

  /** Spec Iceberg REST `loadView`: renders the stored graft view
    * ([[graft.catalog.ViewStore]] JSON, the same file GraftCatalog reads)
    * as Iceberg VIEW SPEC v1 metadata — the Unity-Catalog-serves-views-to-
    * Trino role in the reference stack (`main.tf:812-816`). Rendered fresh
    * on every load (views are tiny and ALTER VIEW SET PROPERTIES changes
    * state without advancing the version-id, so a version-keyed cache
    * would serve stale properties); the render itself is deterministic, so
    * the written metadata file is byte-stable for unchanged views. */
  private def renderViewMeta(ns: Seq[String], name: String, path: String): (String, String) = {
    val sv = graft.catalog.ViewStore.read(io, path)
    val uuid = sv.viewUuid.getOrElse(graft.catalog.ViewStore.fallbackUuid(ns :+ name))
    val absDir = absolutize(s"${nsDir(ns)}/_views/_iceberg/$name")
    val metaFile = s"$absDir/v${sv.currentVersionId}.metadata.json"
    io.mkdirs(absDir)
    io.writeAtomicReplace(metaFile,
      graft.table.IcebergExport.renderViewMetadata(sv, uuid, absDir))
    val metaUri =
      if (metaFile.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*")) metaFile else s"file://$metaFile"
    (metaUri, io.readString(metaFile))
  }

  // absolutize a plain-path root: exported data-file URIs must be
  // absolute (`file://<relative>` would parse the first segment as an
  // authority). Every Iceberg-surface path comparison must use the SAME
  // absolutized root as the renderer, or relative-warehouse keys never
  // match the absolute URIs foreign writers echo back.
  private def absolutize(root: String): String =
    if (root.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*") || root.startsWith("/")) root
    else java.nio.file.Paths.get(root).toAbsolutePath.toString

  /** Renders of superseded versions kept alive: a conformant client that
    * loaded the table just before a commit holds manifest-list/manifest
    * URIs under the PREVIOUS render — deleting it mid-scan fails that
    * reader with FileNotFound. Real catalogs retain old metadata until
    * explicit expiry; we keep the most recent N and prune older. */
  private val retainedRenders = 3

  /** Render (once per version, cached) the Iceberg metadata tree for the
    * table at `root`, pruning renders older than the retained window, and
    * return (metadata-location URI, metadata JSON). Shared by loadTable and
    * the commit response. */
  private def renderIcebergMetadata(root: String): (String, String) = {
    val log = logOf(root)
    val absRoot = absolutize(root)
    val icebergDir = s"$absRoot/_iceberg"
    val outDir = s"$icebergDir/v${log.currentVersion}"
    val metaFile = s"$outDir/metadata/v1.metadata.json"
    val metaPath =
      if (io.exists(metaFile)) metaFile
      else graft.table.IcebergExport.export(log, absRoot, outDir, FileIO.activeConf())
    // prune only renders older than the retained window (in-flight readers
    // of a recent render keep their referenced files; see retainedRenders)
    val rendered = io.listNames(icebergDir)
      .filter(_.matches("v\\d+")).map(n => n.drop(1).toLong)
      .sorted(Ordering[Long].reverse)
    rendered.drop(retainedRenders)
      .filter(_ != log.currentVersion)
      .foreach(v => io.deleteRecursive(s"$icebergDir/v$v"))
    val metaUri =
      if (metaPath.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*")) metaPath
      else s"file://$metaPath"
    (metaUri, io.readString(metaFile))
  }

  /** Spec Iceberg REST `updateTable` (commitTableResponse): accepts the
    * `add-snapshot` (+ `set-snapshot-ref main`) shape every Iceberg writer
    * produces for appends/overwrites. The new snapshot's manifest list —
    * written by the FOREIGN engine in Iceberg format — is decoded with the
    * importer's Avro reader into graft's file model; files already in the
    * current snapshot keep their entry (sequence numbers, stats, schema
    * pin) by canonical-path match, genuinely new files enter with this
    * commit's sequence number, and `assert-ref-snapshot-id` maps onto the
    * snapshot log's CAS (409 on conflict, like any graft commit). */
  private def icebergCommit(ex: HttpExchange, ns: Seq[String], t: String): Unit = {
    val root = tableRoot(ns, t)
    if (!isTable(root)) return err(ex, 404, s"no table $t")
    applyIcebergTableChange(root, readJson(ex))
    // spec commitTableResponse: fresh metadata for the committed state
    val (metaUri, metadataJson) = renderIcebergMetadata(root)
    ok(ex, s"""{"metadata-location":"$metaUri","metadata":$metadataJson}""")
  }

  /** The spec commit REQUIREMENTS of one table change, validated against
    * `head` — shared by the single-table commit and the transaction
    * endpoint's all-tables-first validation pass. */
  private def checkIcebergRequirements(head: graft.table.Snapshot, body: JValue): Unit =
    (body \ "requirements").children.foreach { r =>
      (r \ "type").extractOpt[String] match {
        case Some("assert-ref-snapshot-id") =>
          val ref = (r \ "ref").extractOpt[String].getOrElse("main")
          if (ref != "main") throw new IllegalArgumentException(
            s"unsupported requirement: assert-ref-snapshot-id on ref '$ref' " +
              "(only main commits are accepted)")
          val want = (r \ "snapshot-id").extractOpt[Long].getOrElse(-1L)
          if (want != head.version) throw new CommitConflictException(
            s"requirement failed: main is at snapshot ${head.version}, expected $want")
        case Some("assert-table-uuid" | "assert-create") => ()
        case other => throw new IllegalArgumentException(
          s"unsupported requirement type: ${other.getOrElse("<missing>")}")
      }
    }

  /** Iceberg partition-spec JSON → graft `write.partition-by` transform
    * list. Source-ids resolve through graft.id = field-id - 1 (the one
    * import mapping); `bucket[N]` maps to murmur3 `iceberg_bucket` so
    * foreign semantics are preserved bit-for-bit; `void` fields are retired
    * and simply dropped. Round-trips through graft's parser HERE so a bad
    * spec 400s the carrying request instead of breaking every later write.
    * Shared by foreign `add-spec` commits and spec `createTable`. */
  private def specToPartitionBy(sj: JValue, specSchema: StructType): String = {
    def colOf(srcId: Int): String = specSchema.fields.find(f =>
      f.metadata.contains("graft.id") && f.metadata.getLong("graft.id") == srcId - 1L)
      .getOrElse(throw new IllegalArgumentException(
        s"partition spec: no top-level field with field-id $srcId")).name
    val Bucketed = """bucket\[(\d+)\]""".r
    val Truncated = """truncate\[(\d+)\]""".r
    val parts = (sj \ "fields").children.flatMap { f =>
      val srcId = (f \ "source-id").extractOpt[Int].getOrElse(
        throw new IllegalArgumentException("spec field needs source-id"))
      (f \ "transform").extractOpt[String].getOrElse(
        throw new IllegalArgumentException("spec field needs transform")) match {
        case "void"       => None
        case "identity"   => Some(colOf(srcId))
        case Bucketed(n)  => Some(s"iceberg_bucket($n,${colOf(srcId)})")
        case Truncated(w) => Some(s"truncate($w,${colOf(srcId)})")
        case "year"       => Some(s"years(${colOf(srcId)})")
        case "month"      => Some(s"months(${colOf(srcId)})")
        case "day"        => Some(s"days(${colOf(srcId)})")
        case "hour"       => Some(s"hours(${colOf(srcId)})")
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform '$other'")
      }
    }
    graft.table.PartitionTransform.parseList(
      Some(parts.mkString(",")).filter(_.nonEmpty), specSchema)
    parts.mkString(",")
  }

  /** Iceberg sort-order JSON → graft `write.sort-by` list (identity
    * transforms only — graft's write order sorts on columns). Direction and
    * null-order are preserved via [[graft.table.SortField]]'s
    * `name[:desc[:nulls-first]]` encoding, so a desc / nulls-last
    * write-order survives the round-trip back out of IcebergExport instead
    * of being misrepresented as asc/nulls-first (ADVICE r10). */
  private def orderToSortBy(wo: JValue, specSchema: StructType): String =
    (wo \ "fields").children.map { f =>
      val tr = (f \ "transform").extractOpt[String].getOrElse("identity")
      if (tr != "identity") throw new IllegalArgumentException(
        s"write-order transform '$tr' is not supported (identity only)")
      val srcId = (f \ "source-id").extractOpt[Int].getOrElse(
        throw new IllegalArgumentException("sort field needs source-id"))
      val name = specSchema.fields.find(x => x.metadata.contains("graft.id") &&
        x.metadata.getLong("graft.id") == srcId - 1L)
        .getOrElse(throw new IllegalArgumentException(
          s"sort order: no top-level field with field-id $srcId")).name
      val dir = (f \ "direction").extractOpt[String].getOrElse("asc")
      val nul = (f \ "null-order").extractOpt[String].getOrElse(
        if (dir == "desc") "nulls-last" else "nulls-first")
      graft.table.SortField(name, dir, nul).render
    }.mkString(",")

  /** Spec Iceberg REST `createTable` (CreateTableRequest → LoadTableResult):
    * schema arrives as Iceberg schema JSON (field ids preserved through the
    * graft.id = id - 1 mapping so later exports render the SAME ids back),
    * partition-spec and write-order translate to the `write.partition-by` /
    * `write.sort-by` table properties that steer graft's write path. The
    * foreign-engine CREATE TABLE role of the reference's UC IRC
    * (`main.tf:803` Trino DDL against the catalog). */
  private def icebergCreateTable(ex: HttpExchange, ns: Seq[String]): Unit = {
    val body = readJson(ex)
    val name = (body \ "name").extractOpt[String].getOrElse(
      throw new IllegalArgumentException("createTable needs name"))
    if ((body \ "stage-create").extractOpt[Boolean].contains(true))
      throw new IllegalArgumentException("stage-create is not supported")
    if ((body \ "location").extractOpt[String].exists(_.nonEmpty))
      throw new IllegalArgumentException(
        "custom location is not supported: tables live under the warehouse")
    if (!io.isDirectory(nsDir(ns)))
      return err(ex, 404, s"no namespace ${ns.mkString(".")}")
    val root = tableRoot(ns, name)
    if (isTable(root)) return err(ex, 409, s"table $name exists")
    val st = graft.table.IcebergImport.sparkSchema(body \ "schema")
    require(st.fields.nonEmpty, "createTable: empty schema")
    val props = (body \ "properties").extractOpt[Map[String, String]]
      .getOrElse(Map.empty)
    props.keys.find(_.startsWith("graft.")).foreach(k =>
      throw new IllegalArgumentException(
        s"property '$k' is reserved (graft.* keys are server-owned provenance)"))
    val partBy = (body \ "partition-spec") match {
      case JNothing | JNull => None
      case sj => Some(specToPartitionBy(sj, st)).filter(_.nonEmpty)
    }
    val sortBy = (body \ "write-order") match {
      case JNothing | JNull => None
      case wo => Some(orderToSortBy(wo, st)).filter(_.nonEmpty)
    }
    val log = logOf(root)
    log.initDirs()
    log.commit(-1L, _ => Snapshot(0L, -1L, System.currentTimeMillis(), "create",
      0, Map("0" -> st.json), Seq.empty,
      graft.table.PartitionTransform.stampVersion(
        props ++ partBy.map("write.partition-by" -> _)
              ++ sortBy.map("write.sort-by" -> _))))
    val (metaUri, metadataJson) = renderIcebergMetadata(root)
    ok(ex, tableResult(root, metaUri, metadataJson))
  }

  /** (table root, snapshot version, snapshot commit stamp, canonical
    * filter) → pruned file list. Access-ordered LRU of [[planCacheSize]]:
    * the plan-task tokens stay STATELESS (a miss simply re-prunes, so
    * restarts and tampered offsets cost nothing), but a paged drain of a
    * million-file plan does the O(files) prune ONCE instead of once per
    * page (review r16 — O(pages × files) was quadratic at exactly the
    * metadata scale paging exists for). The commit stamp (timestampMs of
    * the freshly-loaded snapshot — SnapshotLog re-reads versions from
    * storage) REVALIDATES every hit against disk: a drop/recreate that
    * bypasses this instance's routes (a second server over the same
    * warehouse, a path-API drop) restarts version numbering, and a stale
    * (root, version) entry must not hand a foreign engine the previous
    * incarnation's file list (ADVICE r16). */
  private val planCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long, String), Seq[graft.table.DataFile]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, String), Seq[graft.table.DataFile]]): Boolean =
        size() > planCacheSize
    })

  /** Evict cached plan prunes for a table root (and with `prefix`, every
    * root under it — namespace cascades): a non-purge drop leaves data
    * files on disk and a same-path recreate RESTARTS version numbering,
    * so a stale (root, version, filter) entry could hand a foreign engine
    * the previous incarnation's file list (review r16). Every route that
    * evicts `logs` evicts here too. */
  private def invalidatePlans(root: String, prefix: Boolean = false): Unit = {
    planCache.synchronized {
      planCache.keySet.removeIf(k =>
        k._1 == root || (prefix && k._1.startsWith(root + "/")))
    }
  }

  /** Cache-through prune for the scan leg: (root, snapshot version, commit
    * stamp, canonical filter) → pruned file list via [[planCache]]. Left =
    * the bad-request message (a non-numeric literal against a numeric
    * column is the CALLER's fault, not a server fault). */
  private def prunedCached(root: String, snap: graft.table.Snapshot,
      filter: JValue): Either[String, Seq[graft.table.DataFile]] = {
    val filterKey = filterCanon(filter)
    // O(1) snapshot identity beyond (root, version): commit wall-clock plus
    // file-list shape — two same-versioned incarnations commit at different
    // millis, and even a same-milli recreate names its files with fresh
    // UUIDs, so first-path/count differ. vN.json is re-read per request
    // (SnapshotLog.snapshot), so this stamp reflects CURRENT disk state.
    val stamp = snap.timestampMs ^ (snap.files.size.toLong << 44) ^
      (snap.files.headOption.map(_.path.hashCode.toLong).getOrElse(0L) << 12)
    val cacheKey = (root, snap.version, stamp, filterKey)
    val cached = planCache.get(cacheKey)
    if (cached != null) Right(cached)
    else try {
      val pruned = graft.table.GraftTable.pruneFilesByStats(
        snap, parseIcebergExpr(filter).toSeq)
      planCache.put(cacheKey, pruned)
      Right(pruned)
    } catch { case _: NumberFormatException =>
      Left("filter value does not match the column's type")
    }
  }

  /** One page of spec scan planning — serves BOTH the /plan route (offset
    * 0, with `plan-status`) and the /tasks fetch route (offset from the
    * token). Prunes the snapshot's file list against the filter with the
    * SAME pruning body the engine's own reads use
    * ([[graft.table.GraftTable.pruneFilesByStats]], minus the session's
    * Spark-eval fallback for bucket literals), then inlines at most
    * [[planPageSize]] FileScanTasks; the remainder rides behind one
    * chained `plan-tasks` token per page. delete-files are repeated per
    * page because `delete-file-references` index into the SAME response's
    * array — deletes are metadata-sized next to a 100×-file data page. */
  private def icebergPlanScan(ex: HttpExchange, ns: Seq[String], t: String,
      snapshotId: Option[Long], filter: JValue, offset: Int): Unit = {
    val root = tableRoot(ns, t)
    if (!isTable(root)) return err(ex, 404, s"no table $t", "NoSuchTableException")
    val log = logOf(root)
    val snap = snapshotId match {
      case Some(v) =>
        val got = scala.util.Try(log.snapshot(v))
        if (got.isFailure) return err(ex, 404, s"no snapshot $v")
        got.get
      case None => log.current
    }
    if ((filter \ "type").extractOpt[String].contains("false"))
      return ok(ex, """{"plan-status":"completed","file-scan-tasks":[],"delete-files":[]}""")
    val files = prunedCached(root, snap, filter) match {
      case Right(fs) => fs
      case Left(msg) => return err(ex, 400, msg)
    }
    val absRoot = absolutize(root)
    def abs(p: String): String =
      graft.table.GraftTable.resolveUnder(absRoot, p) // THE one path rule
    def contentFile(f: graft.table.DataFile, content: String,
        extra: String = ""): String =
      s"""{"spec-id":0,"partition":[],"content":"$content",""" +
        s""""file-path":${Serialization.write(abs(f.path))},""" +
        s""""file-format":"parquet","file-size-in-bytes":${f.bytes},""" +
        s""""record-count":${f.rows}$extra}"""
    // field ids are Iceberg ids (graft.id + 1) — resolve legacy
    // eq-deletes (no stored ids) by name against the current schema.
    // FAIL the request rather than emit a short/empty equality-ids list:
    // an engine that can't see a key column would skip the delete and
    // silently RESURRECT deleted rows (graft's own reader resolves these
    // by name, so the rows are genuinely deleted)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(snap.schemas(snap.currentSchemaId.toString))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    def eqIds(e: graft.table.EqDeleteFile): Option[Seq[Int]] =
      if (e.colIds.nonEmpty) Some(e.colIds.map(_ + 1))
      else {
        // a resolved field with NO graft.id metadata is as unplannable
        // as an unresolvable column — route it to the 409 "compact
        // first" path, not an unexplained 500 out of Option.map
        val ids = e.cols.map(c => schema.fields
          .find(f => f.name == c && f.metadata.contains("graft.id"))
          .map(f => f.metadata.getLong("graft.id").toInt + 1))
        if (ids.forall(_.isDefined)) Some(ids.flatten) else None
      }
    val eqResolved: Seq[(graft.table.EqDeleteFile, Seq[Int])] =
      snap.eqDeleteFiles.map { e =>
        eqIds(e) match {
          case Some(ids) => e -> ids
          case None => return err(ex, 409,
            s"cannot plan: equality delete ${e.file.path} keys on " +
              s"columns (${e.cols.mkString(", ")}) that no longer all " +
              "resolve in the current schema — compact " +
              "(CALL graft.system.rewrite_data_files) before foreign scans",
            "CommitFailedException")
        }
      }
    val posN = snap.deleteFiles.size
    val deleteJson =
      snap.deleteFiles.map(contentFile(_, "position-deletes")) ++
      eqResolved.map { case (e, ids) => contentFile(e.file, "equality-deletes",
        s""","equality-ids":[${ids.mkString(",")}]""") }
    val page = files.slice(offset, offset + planPageSize)
    val tasks = page.map { f =>
      // position deletes are path-scoped inside the delete file itself
      // (non-matching paths no-op) → referenced by every task; equality
      // deletes bite only data files with a STRICTLY LOWER data
      // sequence number — scoped here so a naive engine applying every
      // referenced delete still gets exact results
      val refs = (0 until posN) ++
        snap.eqDeleteFiles.zipWithIndex.collect {
          case (e, i) if f.seq < e.seq => posN + i
        }
      s"""{"data-file":${contentFile(f, "data")},""" +
        s""""delete-file-references":[${refs.mkString(",")}]}"""
    }
    // next offset in Long: a forged token with offset near Int.MaxValue
    // must not wrap negative and mint an invalid chained token (ADVICE r16)
    val nextOff = offset.toLong + planPageSize
    val nextTok =
      if (nextOff < files.size)
        Some(encodePlanTask(snap.version, filter, nextOff.toInt))
      else None
    val status = if (offset == 0) """"plan-status":"completed",""" else ""
    val more = nextTok.map(tk => s""","plan-tasks":["$tk"]""").getOrElse("")
    ok(ex, s"""{${status}"file-scan-tasks":[${tasks.mkString(",")}],""" +
      s""""delete-files":[${deleteJson.mkString(",")}]$more}""")
  }

  /** Opaque fetchScanTasks token: URL-safe base64 of
    * `{"s":<snapshot>,"o":<offset>,"f":<filter|null>}` — stateless,
    * idempotently re-fetchable, snapshot-pinned. */
  private def encodePlanTask(snapV: Long, filter: JValue, offset: Int): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(
      s"""{"s":$snapV,"o":$offset,"f":${filterCanon(filter)}}"""
        .getBytes(StandardCharsets.UTF_8))

  /** THE canonical string rendering of a plan filter — shared by the plan
    * cache key and the stateless task tokens so a future canonicalization
    * change cannot desynchronize them (review r17). */
  private def filterCanon(filter: JValue): String = filter match {
    case JNothing | JNull => "null"
    case other => JsonMethods.compact(JsonMethods.render(other))
  }

  private def decodePlanTask(tok: String): Option[(Long, JValue, Int)] =
    scala.util.Try {
      val j = JsonMethods.parse(new String(
        java.util.Base64.getUrlDecoder.decode(tok), StandardCharsets.UTF_8))
      ((j \ "s").extract[Long], j \ "f", (j \ "o").extract[Int])
    }.toOption.filter(_._3 >= 0)

  /** Iceberg REST expression JSON → Spark data-source filter, for the scan
    * planner's stats pruning. CONSERVATIVE by construction: any node the
    * min/max pruner can't use maps to None = "cannot exclude" — under AND a
    * missing side just weakens pruning (the other side still prunes), under
    * OR/NOT the whole subtree is dropped (pruning with half an OR would be
    * WRONG — OR excludes a file only when both sides do). The engine
    * re-applies the full filter over the returned rows regardless, so
    * parsing less can only return extra files, never lose rows. */
  private def parseIcebergExpr(j: JValue,
      depth: Int = 0): Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    // hostile nesting guard: past this depth the subtree contributes no
    // pruning claim (conservative keep) instead of risking stack overflow —
    // real engines emit filters a few levels deep
    if (depth > 200) return None
    def term(v: JValue): Option[String] = v match {
      case JString(s) => Some(s)
      // {"type":"reference","term":"col"} — transform terms (bucket[n](c),
      // day(c), …) are not prunable here and fall to None
      case o: JObject if (o \ "type").extractOpt[String].contains("reference") =>
        (o \ "term").extractOpt[String]
      case _ => None
    }
    def lit(v: JValue): Option[Any] = v match {
      // out-of-Long-range integers must NOT wrap (BigInt.toLong is
      // modular): `n > -2^64-5` would truncate to `n > -5` and wrongly
      // prune files every row of which matches — no claim instead
      case JInt(i) => if (i.isValidLong) Some(i.toLong) else None
      case JLong(l) => Some(l)
      case JDouble(d) => Some(d)
      case JDecimal(d) => Some(d.toDouble)
      case JString(s) => Some(s)
      case JBool(b) => Some(b)
      case _ => None
    }
    def binary(make: (String, Any) => Filter): Option[Filter] =
      for (t <- term(j \ "term"); v <- lit(j \ "value")) yield make(t, v)
    (j \ "type").extractOpt[String] match {
      case Some("eq") => binary(EqualTo.apply)
      case Some("lt") => binary(LessThan.apply)
      case Some("lt-eq") => binary(LessThanOrEqual.apply)
      case Some("gt") => binary(GreaterThan.apply)
      case Some("gt-eq") => binary(GreaterThanOrEqual.apply)
      case Some("is-null") => term(j \ "term").map(IsNull.apply)
      // all-null files prune from the per-file null counts (VERDICT r16 #4)
      case Some("not-null") => term(j \ "term").map(IsNotNull.apply)
      case Some("in") =>
        val vs = (j \ "values") match {
          case JArray(items) => items.map(lit)
          case _ => Nil
        }
        if (vs.isEmpty || vs.exists(_.isEmpty)) None
        else term(j \ "term").map(t => In(t, vs.flatten.toArray))
      case Some("and") =>
        (parseIcebergExpr(j \ "left", depth + 1),
            parseIcebergExpr(j \ "right", depth + 1)) match {
          case (Some(l), Some(r)) => Some(And(l, r))
          case (one, other) => one.orElse(other) // AND of unknown: keep the known side
        }
      case Some("or") =>
        for (l <- parseIcebergExpr(j \ "left", depth + 1);
             r <- parseIcebergExpr(j \ "right", depth + 1))
          yield Or(l, r)
      case _ => None // not/is-nan/true/unknown: no pruning claim
    }
  }

  /** Spec `LoadTableResult` body: metadata plus the vended storage
    * credentials ([[storageCredentials]], reference `main.tf:676-696`) in
    * both the flat `config` (older-client compatibility) and the spec
    * `storage-credentials` stanza scoped to the table location. */
  private def tableResult(root: String, metaUri: String,
      metadataJson: String): String = {
    val cfg = Serialization.write(storageCredentials)
    s"""{"metadata-location":"$metaUri","metadata":$metadataJson,""" +
      s""""config":$cfg,"storage-credentials":${vendCredentials(root)}}"""
  }

  /** One vend: the configured credential map scoped to the table location,
    * stamped with an absolute `expires-at-ms` when [[credentialTtlMs]] > 0.
    * Every call is a FRESH vend — re-vending after expiry yields a later
    * stamp, which is the whole lifecycle contract. */
  private def vendCredentials(root: String): String =
    if (storageCredentials.isEmpty) "[]"
    else {
      val stamped =
        if (credentialTtlMs <= 0) storageCredentials
        else storageCredentials +
          ("expires-at-ms" -> (System.currentTimeMillis() + credentialTtlMs).toString)
      s"""[{"prefix":${Serialization.write(root)},"config":${Serialization.write(stamped)}}]"""
    }

  /** Validate + apply ONE table's spec commit (requirements, updates,
    * manifest-list decode, CAS) without writing the HTTP response — the
    * shared core of [[icebergCommit]] and [[icebergTransaction]]. */
  private def applyIcebergTableChange(root: String, body: JValue): Unit = {
    val log = logOf(root)
    val head = log.current
    checkIcebergRequirements(head, body)

    // all-or-nothing: every update must be one we actually APPLY — a 200
    // that silently dropped a co-update (set-properties, a branch ref
    // move, a stage-only WAP commit) would tell the writer its transaction
    // succeeded when half of it didn't
    val updates = (body \ "updates").children
    val unsupported = updates.flatMap(u => (u \ "action").extractOpt[String])
      .filterNot(Set("add-snapshot", "set-snapshot-ref",
        "add-schema", "set-current-schema-id",
        "set-properties", "remove-properties",
        "add-spec", "set-default-spec-id", "remove-snapshots"))
    if (unsupported.nonEmpty) throw new IllegalArgumentException(
      s"unsupported update action(s): ${unsupported.mkString(", ")} " +
        "(add-snapshot / set-snapshot-ref main / add-schema / " +
        "set-current-schema-id / set-properties / remove-properties / " +
        "add-spec / set-default-spec-id / remove-snapshots commits are accepted)")

    // ---- foreign snapshot expiry (Iceberg's expireSnapshots emits
    // `remove-snapshots`): graft retention is prefix-based and never drops
    // HEAD or a ref target, so the requested set must be EXACTLY the prefix
    // the log would expire — holes, HEAD, or a ref target reject the whole
    // commit with nothing deleted. Metadata-only by design: in the IRC
    // split the CLIENT engine deletes the unreferenced data files it
    // computed; the server owns only the metadata tree. Must be the sole
    // action in its commit (as Iceberg's RemoveSnapshots produces it).
    val removeIds: Seq[Long] = updates
      .filter(u => (u \ "action").extractOpt[String].contains("remove-snapshots"))
      .flatMap(u => (u \ "snapshot-ids").extractOpt[Seq[Long]].getOrElse(
        throw new IllegalArgumentException("remove-snapshots needs snapshot-ids")))
    if (removeIds.nonEmpty) {
      if (!updates.flatMap(u => (u \ "action").extractOpt[String])
          .forall(_ == "remove-snapshots"))
        throw new IllegalArgumentException(
          "remove-snapshots must be the only update action in its commit")
      val want = removeIds.toSet
      val candidates = log.expireCandidates(removeIds.max + 1).toSet
      if (candidates != want) throw new IllegalArgumentException(
        s"remove-snapshots [${want.toSeq.sorted.mkString(",")}] is not an expirable " +
          s"prefix (would expire [${candidates.toSeq.sorted.mkString(",")}]; " +
          "HEAD and ref targets are always retained)")
      log.expireMetadata(removeIds.max + 1)
      // the cached Iceberg render for the (unchanged) current version still
      // lists the expired snapshots — drop it so the next load re-renders
      io.deleteRecursive(s"${absolutize(root)}/_iceberg/v${log.currentVersion}")
      return
    }
    val refMoves = updates
      .filter(u => (u \ "action").extractOpt[String].contains("set-snapshot-ref"))
      .flatMap(u => (u \ "ref-name").extractOpt[String])
    if (refMoves.exists(_ != "main")) throw new IllegalArgumentException(
      s"unsupported set-snapshot-ref target(s): ${refMoves.filter(_ != "main").mkString(", ")}")
    val snapJsonOpt = updates
      .find(u => (u \ "action").extractOpt[String].contains("add-snapshot"))
      .map(_ \ "snapshot")
    if (snapJsonOpt.isDefined && !refMoves.contains("main"))
      throw new IllegalArgumentException(
        "stage-only (WAP) commits are not supported: the update set must move main")

    // ---- foreign schema evolution (ALTER TABLE): add-schema registers the
    // schema under a server-assigned id; set-current-schema-id (-1 = the
    // one just added, per spec) switches resolution. graft.ids = id - 1,
    // the ONE import mapping, so round-tripping stays exact.
    val schemaAdds = updates
      .filter(u => (u \ "action").extractOpt[String].contains("add-schema"))
      .map(_ \ "schema")
    val setCurrentReq = updates
      .find(u => (u \ "action").extractOpt[String].contains("set-current-schema-id"))
      .map(u => (u \ "schema-id").extractOpt[Int].getOrElse(
        throw new IllegalArgumentException("set-current-schema-id needs schema-id")))
    // ---- foreign table-property changes (Trino `ALTER TABLE SET
    // PROPERTIES`, reference `main.tf:809-820`): applied over the head's
    // map in update order; reserved graft.* keys are commit provenance the
    // server owns, so a foreign writer may not set or remove them.
    val propSets: Map[String, String] = updates
      .filter(u => (u \ "action").extractOpt[String].contains("set-properties"))
      .flatMap(u => (u \ "updates").extractOpt[Map[String, String]].getOrElse(
        throw new IllegalArgumentException("set-properties needs an updates map")))
      .toMap
    val propRemovals: Seq[String] = updates
      .filter(u => (u \ "action").extractOpt[String].contains("remove-properties"))
      .flatMap(u => (u \ "removals").extractOpt[Seq[String]].getOrElse(
        throw new IllegalArgumentException("remove-properties needs a removals list")))
    (propSets.keys ++ propRemovals).find(_.startsWith("graft.")).foreach(k =>
      throw new IllegalArgumentException(
        s"property '$k' is reserved (graft.* keys are server-owned provenance)"))

    // ---- foreign partition-spec evolution (Trino `ALTER TABLE SET
    // PROPERTIES partitioning = ...`, reference `main.tf:803-820`):
    // `add-spec` + `set-default-spec-id` rewrite `write.partition-by` — in
    // graft (as in Iceberg) existing files keep their layout, the spec only
    // steers FUTURE writes and stats-key derivation, so translating the
    // spec fields to transform strings IS the whole change. graft keeps
    // only the current spec, so the new default must be the spec added in
    // this same commit (-1 per spec, or an explicit id with one add-spec).
    val specAdds = updates
      .filter(u => (u \ "action").extractOpt[String].contains("add-spec"))
      .map(_ \ "spec")
    val setDefaultSpec = updates
      .find(u => (u \ "action").extractOpt[String].contains("set-default-spec-id"))
      .map(u => (u \ "spec-id").extractOpt[Int].getOrElse(
        throw new IllegalArgumentException("set-default-spec-id needs spec-id")))
    if (setDefaultSpec.isDefined && specAdds.isEmpty)
      throw new IllegalArgumentException(
        "set-default-spec-id without add-spec: historical spec ids are not retained")
    if (specAdds.nonEmpty && setDefaultSpec.isEmpty)
      throw new IllegalArgumentException(
        "add-spec without set-default-spec-id: staged specs are not retained")

    if (snapJsonOpt.isEmpty && schemaAdds.isEmpty && setCurrentReq.isEmpty &&
        propSets.isEmpty && propRemovals.isEmpty && specAdds.isEmpty)
      throw new IllegalArgumentException(
        "unsupported update set: nothing to apply")
    val nextSchemaId = (head.schemas.keys.map(_.toInt).toSeq :+ -1).max + 1
    val addedSchemas: Seq[(Int, StructType)] = schemaAdds.zipWithIndex.map {
      case (sj, i) =>
        val st = graft.table.IcebergImport.sparkSchema(sj)
        require(st.fields.nonEmpty, "add-schema: empty schema")
        (nextSchemaId + i) -> st
    }
    val newSchemas = head.schemas ++
      addedSchemas.map { case (id, st) => id.toString -> st.json }
    val newCurrentId = setCurrentReq match {
      case None => head.currentSchemaId
      case Some(-1) =>
        addedSchemas.lastOption.map(_._1).getOrElse(throw new IllegalArgumentException(
          "set-current-schema-id -1 needs an add-schema in the same commit"))
      case Some(id) =>
        if (!newSchemas.contains(id.toString)) throw new IllegalArgumentException(
          s"set-current-schema-id: unknown schema-id $id")
        id
    }

    val newPartitionBy: Option[String] = specAdds.lastOption.map(sj =>
      specToPartitionBy(sj,
        DataType.fromJson(newSchemas(newCurrentId.toString)).asInstanceOf[StructType]))
    val applySpec: Map[String, String] => Map[String, String] = m =>
      newPartitionBy match {
        case None     => m
        case Some("") => m - "write.partition-by" // spec of only-void/no fields = unpartition
        case Some(p)  => m + ("write.partition-by" -> p)
      }

    val op = snapJsonOpt match {
      case None => // metadata-only ALTER TABLE commit
        if (schemaAdds.nonEmpty || setCurrentReq.nonEmpty) "add-schema"
        else if (specAdds.nonEmpty) "set-partition-spec"
        else "set-properties"
      case Some(snapJson) => (snapJson \ "summary" \ "operation").extractOpt[String] match {
        case Some("delete")    => "delete"
        case Some("overwrite") => "overwrite"
        case Some("replace")   => "rewrite-data"
        case _                 => "append"
      }
    }

    // decode the new file state against the PRE-commit current schema (the
    // snapshot's files were written before any schema added alongside it)
    val schema = DataType.fromJson(head.schemas(head.currentSchemaId.toString))
      .asInstanceOf[StructType]
    val (files, posDels, eqDels) = snapJsonOpt match {
      case None => (head.files, head.deleteFiles, head.eqDeleteFiles)
      case Some(snapJson) =>
        val listPath = (snapJson \ "manifest-list").extractOpt[String]
          .getOrElse(throw new IllegalArgumentException("snapshot has no manifest-list"))
        graft.table.IcebergImport.decodeSnapshot(
          listPath, FileIO.activeConf(), head.currentSchemaId, schema,
          // a modern (Iceberg 1.9+/v3) writer may commit deletion vectors;
          // they materialize into the table's own data dir like an import
          dvDir = Some(s"${absolutize(root)}/data"))
    }

    // carried-over entries keep their graft identity (seq, stats, schema
    // pin); only genuinely new paths enter fresh. Foreign URIs may render
    // schemes differently, so matching is canonical-path based (the ONE
    // canon/resolve definition on the GraftTable companion). The resolve
    // base must be the ABSOLUTIZED root — exported manifests carry absolute
    // URIs, and with a relative warehouse a verbatim-root key would never
    // match them, re-entering every carried file with a reset seq (older
    // equality deletes would then stop covering them).
    val absRoot = absolutize(root)
    def key(p: String): String = GraftTable.canonStr(GraftTable.resolveUnder(absRoot, p))
    val haveData = head.files.map(f => key(f.path) -> f).toMap
    val havePos = head.deleteFiles.map(f => key(f.path) -> f).toMap
    val haveEq = head.eqDeleteFiles.map(e => key(e.file.path) -> e).toMap

    // graft renumbers the snapshot to its version (ids ARE versions in the
    // log); the writer's own id is kept as commit provenance
    val foreignId = snapJsonOpt.flatMap(sj => (sj \ "snapshot-id").extractOpt[Long])
    log.commit(head.version, v => head.copy(
      version = v, parent = head.version,
      timestampMs = snapJsonOpt.flatMap(sj => (sj \ "timestamp-ms").extractOpt[Long])
        .getOrElse(System.currentTimeMillis()),
      operation = op,
      currentSchemaId = newCurrentId,
      schemas = newSchemas,
      files = files.map(f => haveData.getOrElse(key(f.path), f.copy(seq = 0L))),
      deleteFiles = posDels.map(f => havePos.getOrElse(key(f.path), f.copy(seq = 0L))),
      // a NEW equality delete scopes to files strictly older than THIS
      // commit — its seq is the version being created
      eqDeleteFiles = eqDels.map(e => haveEq.getOrElse(key(e.file.path), e.copy(seq = v))),
      properties = applySpec((head.properties -- propRemovals) ++ propSets) ++
        foreignId.map(id => "graft.foreign-snapshot-id" -> id.toString)))
    ()
  }

  /** Spec Iceberg REST `commitTransaction` (`POST {prefix}/transactions/
    * commit`): one atomic commit spanning several tables — the multi-table
    * guarantee engines use for consistent fact+summary or data+audit
    * publishes. Atomicity here rests on three legs: (1) the server's single
    * dispatch thread means no other catalog-routed commit interleaves
    * mid-transaction; (2) EVERY change's requirements are validated against
    * the current heads before ANY table is touched, so a stale expectation
    * rejects the whole transaction side-effect-free; (3) if a CAS still
    * fails mid-apply (a direct-storage writer raced the catalog), the
    * already-applied tables roll back via the fenced HEAD move — catalog
    * readers never see a half-applied transaction linger. Response: 204, per
    * spec. */
  private def icebergTransaction(ex: HttpExchange): Unit = {
    val body = readJson(ex)
    val changes = (body \ "table-changes").children
    if (changes.isEmpty)
      throw new IllegalArgumentException("transaction has no table-changes")
    val resolved = changes.map { c =>
      val ns = (c \ "identifier" \ "namespace").extract[Seq[String]]
      val t = (c \ "identifier" \ "name").extractOpt[String].getOrElse(
        throw new IllegalArgumentException("table-change without identifier.name"))
      val root = tableRoot(ns, t)
      (root, s"${ns.mkString(".")}.$t", c)
    }
    resolved.find { case (root, _, _) => !isTable(root) } match {
      case Some((_, name, _)) =>
        return err(ex, 404, s"no table $name", "NoSuchTableException")
      case None => ()
    }
    // grants: a multi-table transaction needs MODIFY on EVERY table, checked
    // before any side effect (the route-level map can't see the body)
    principalOf(ex).foreach { p =>
      changes.foreach { c =>
        val ns = (c \ "identifier" \ "namespace").extract[Seq[String]]
        val t = (c \ "identifier" \ "name").extract[String]
        GrantStore.check(io, warehouse, p, "MODIFY", ns :+ t)
      }
    }
    // phase 1: all requirements, no side effects. remove-snapshots is
    // barred from transactions outright: expiry DELETES snapshot JSONs,
    // which the fenced-HEAD rollback of a mid-apply failure cannot
    // restore — accepting it would let a failed transaction leave one
    // table expired. (Iceberg's expireSnapshots commits it standalone.)
    resolved.foreach { case (_, name, c) =>
      if ((c \ "updates").children.exists(u =>
          (u \ "action").extractOpt[String].contains("remove-snapshots")))
        throw new IllegalArgumentException(
          s"remove-snapshots on $name: snapshot expiry is not transactional " +
            "(deleted metadata cannot roll back) — commit it standalone")
    }
    resolved.foreach { case (root, _, c) =>
      checkIcebergRequirements(logOf(root).current, c) }
    // phase 2: apply in order; unwind on any failure
    val applied = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    try {
      resolved.foreach { case (root, _, c) =>
        val pre = logOf(root).currentVersion
        applyIcebergTableChange(root, c)
        applied += ((root, pre))
      }
    } catch {
      case e: Throwable =>
        applied.reverseIterator.foreach { case (root, pre) =>
          try logOf(root).setHead(pre)
          catch { case roll: Exception =>
            e.addSuppressed(roll) } // surface but keep the original cause
        }
        throw e
    }
    ex.sendResponseHeaders(204, -1); ex.close()
  }

  private def route(ex: HttpExchange, method: String, segs: List[String]): Unit =
    (method, segs) match {
      case (m, "iceberg" :: rest) => icebergRoute(ex, m, rest)
      // ---- namespaces ----------------------------------------------------
      case ("POST", "namespaces" :: Nil) =>
        val req = readJson(ex).extract[CreateNsReq]
        io.mkdirs(nsDir(req.namespace))
        ok(ex)
      case ("DELETE", "namespaces" :: ns :: Nil) =>
        val dir = nsDir(decNs(ns))
        val cascade = Option(ex.getRequestURI.getQuery).getOrElse("").contains("cascade=true")
        if (!io.isDirectory(dir)) err(ex, 404, s"no namespace $ns")
        else if (cascade) {
          // drop the whole tree — tables, stored views, nested namespaces —
          // matching the warehouse catalog's recursive CASCADE. Evict the
          // SnapshotLog cache by PREFIX: tables under nested namespaces
          // must not keep stale cached logs a same-path recreate would reuse.
          logs.keys.filter(k => k == dir || k.startsWith(dir + "/"))
            .foreach(logs.remove)
          invalidatePlans(dir, prefix = true)
          io.deleteRecursive(dir); ok(ex)
        } else if (io.listNames(dir).nonEmpty)
          err(ex, 409, s"namespace $ns is not empty")
        else { io.delete(dir); ok(ex) }

      // ---- tables --------------------------------------------------------
      case ("POST", "namespaces" :: ns :: "tables" :: Nil) =>
        val req = readJson(ex).extract[CreateTableReq]
        val root = tableRoot(decNs(ns), req.name)
        if (isTable(root)) return err(ex, 409, s"table ${req.name} exists")
        if (!io.isDirectory(nsDir(decNs(ns)))) return err(ex, 404, s"no namespace $ns")
        val log = logOf(root)
        log.initDirs()
        val withIds = GraftTable.stampIds(
          DataType.fromJson(req.schemaJson).asInstanceOf[StructType])
        log.commit(-1L, _ => Snapshot(0L, -1L, System.currentTimeMillis(), "create",
          0, Map("0" -> withIds.json), Seq.empty,
          graft.table.PartitionTransform.stampVersion(req.properties)))
        ok(ex, Serialization.write(Map("location" -> root)))
      case ("GET", "namespaces" :: ns :: "tables" :: t :: Nil) =>
        val root = tableRoot(decNs(ns), t)
        if (!isTable(root)) err(ex, 404, s"no table $t")
        else ok(ex, Serialization.write(Map(
          "location" -> root, "currentVersion" -> logOf(root).currentVersion)))
      case ("POST", "tables" :: "rename" :: Nil) =>
        val req = readJson(ex).extract[RenameReq]
        // same grant shape as the spec rename: MODIFY on source,
        // CREATE_TABLE in the destination namespace (ADVICE r13)
        principalOf(ex).foreach { principal =>
          GrantStore.check(io, warehouse, principal, "MODIFY",
            req.fromNamespace :+ req.fromName)
          GrantStore.check(io, warehouse, principal, "CREATE_TABLE", req.toNamespace)
        }
        val from = tableRoot(req.fromNamespace, req.fromName)
        val to = tableRoot(req.toNamespace, req.toName)
        if (!isTable(from)) return err(ex, 404, s"no table ${req.fromName}")
        if (isTable(to)) return err(ex, 409, s"table ${req.toName} exists")
        io.mkdirs(nsDir(req.toNamespace))
        io.rename(from, to)
        logs.remove(from); invalidatePlans(from)
        ok(ex)

      // ---- commit CAS + head + refs -------------------------------------
      case ("POST", "namespaces" :: ns :: "tables" :: t :: "commit" :: Nil) =>
        val req = readJson(ex).extract[CommitReq]
        val root = tableRoot(decNs(ns), t)
        if (!io.isDirectory(s"$root/_graft"))
          return err(ex, 404, s"no table $t")
        logOf(root).commitRaw(req.parentVersion, req.version, req.storedJson, req.moveHead)
        ok(ex)
      case ("POST", "namespaces" :: ns :: "tables" :: t :: "head" :: Nil) =>
        val req = readJson(ex).extract[HeadReq]
        logOf(tableRoot(decNs(ns), t)).setHead(req.version)
        ok(ex)
      case ("POST", "namespaces" :: ns :: "tables" :: t :: "refs" :: Nil) =>
        val req = readJson(ex).extract[RefReq]
        logOf(tableRoot(decNs(ns), t)).setRef(req.name, Ref(req.version, req.refType))
        ok(ex)
      case ("DELETE", "namespaces" :: ns :: "tables" :: t :: "refs" :: r :: Nil) =>
        logOf(tableRoot(decNs(ns), t)).dropRef(java.net.URLDecoder.decode(r, "UTF-8"))
        ok(ex)

      case _ => err(ex, 404, s"$method ${segs.mkString("/")}")
    }
}
