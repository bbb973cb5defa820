package graft.catalog

import graft.table.FileIO

/** CATALOG-LEVEL ACCESS CONTROL — principals and GRANT/REVOKE, the Unity
  * Catalog governance concept the reference wires up for its external
  * engine (reference `main.tf:730-756`: `EXTERNAL_USE_SCHEMA`,
  * `CREATE_TABLE` and `SELECT` grants to a service principal; credential
  * vending at `main.tf:676-696`). Row filters / column masks
  * ([[GraftGovernance]]) decide WHAT a reader sees; grants decide WHETHER
  * the principal may touch the securable at all.
  *
  * Model (deliberately UC-shaped, engine-neutral):
  *  - principal  = the OAuth2 client id behind the bearer token
  *    ([[graft.rest.RestCatalogServer]]) or `spark.graft.principal` for
  *    in-process sessions;
  *  - securable  = the catalog (empty parts), a namespace, or a table —
  *    grants INHERIT downward (a namespace SELECT covers its tables, a
  *    catalog grant covers everything), the UC hierarchy;
  *  - privileges = USE_SCHEMA (list/resolve within a namespace),
  *    CREATE_TABLE (create in a namespace), SELECT (read), MODIFY
  *    (commit/write/DDL on an existing table), OWNER (everything,
  *    including GRANT/REVOKE administration).
  *
  * Storage: one JSON document at `<warehouse>/_grants.json`, written
  * atomic-replace through the same [[FileIO]] seam as snapshot logs, so
  * the REST server and any number of engine processes share one source of
  * truth. A MISSING grants file means access control is NOT enabled —
  * every authenticated principal may do anything (the repo's pre-grants
  * behavior, and the right default for single-tenant embedded use).
  * Writing the FIRST grant flips the catalog to enforcing.
  *
  * Every check reads the file through the caller's [[FileIO]] (the
  * catalog's or the REST server's), and re-parses it only when its content
  * differs from the last read: enforcement sits on every loadTable/commit.
  * At 100 TB scale this is a control-plane lookup — file size is
  * O(grants), never data-shaped. */
object GrantStore {

  /** The session's principal (`spark.graft.principal`, the REST bearer
    * identity's twin); a session with none is engine-internal/privileged. */
  def sessionPrincipal: Option[String] =
    scala.util.Try(org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.principal", "")).toOption.filter(_.nonEmpty)

  /** Raised on a denied action; the REST layer maps it to HTTP 403. */
  final class AccessDeniedException(msg: String)
    extends RuntimeException(msg)

  val Privileges: Set[String] =
    Set("USE_SCHEMA", "CREATE_TABLE", "SELECT", "MODIFY", "OWNER")

  /** `parts` names the securable: Nil = the whole catalog, `Seq(ns…)` a
    * namespace, `Seq(ns…, table)` a table — matched by path prefix. */
  final case class Grant(principal: String, privilege: String, parts: Seq[String])

  private final case class Cached(content: String, grants: Seq[Grant])
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Cached]()

  private def file(warehouse: String): String =
    s"${warehouse.stripSuffix("/")}/_grants.json"

  // ---- (de)serialization: flat JSON lines inside one array ------------
  private def render(gs: Seq[Grant]): String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    gs.sortBy(g => (g.principal, g.privilege, g.parts.mkString("/")))
      .map(g => s"""{"principal":${q(g.principal)},"privilege":${q(g.privilege)},""" +
        s""""securable":[${g.parts.map(q).mkString(",")}]}""")
      .mkString("[\n", ",\n", "\n]")
  }

  private def parse(json: String): Seq[Grant] = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    org.json4s.jackson.JsonMethods.parse(json) match {
      case JArray(items) => items.map { j =>
        Grant((j \ "principal").extract[String],
          (j \ "privilege").extract[String],
          (j \ "securable").extract[Seq[String]])
      }
      case _ => Nil
    }
  }

  /** All grants, or None when the grants file does not exist (=> access
    * control disabled, everything allowed). */
  def load(io: FileIO, warehouse: String): Option[Seq[Grant]] = {
    val p = file(warehouse)
    if (!io.exists(p)) { cache.remove(p); return None }
    // cache key: the CONTENT itself — every check re-reads the file anyway
    // (grants files are control-plane small), so the cache's only job is to
    // skip the re-PARSE when the bytes are unchanged. String equality, not
    // a length+hashCode signature: the full string is already in hand, and
    // a 32-bit hash collision between old and new grants files would serve
    // stale parsed grants on the enforcement path.
    val content = io.readString(p)
    val hit = cache.get(p)
    if (hit != null && hit.content == content) return Some(hit.grants)
    val gs = parse(content)
    cache.put(p, Cached(content, gs))
    Some(gs)
  }

  def grant(io: FileIO, warehouse: String, g: Grant): Unit = synchronized {
    require(Privileges.contains(g.privilege),
      s"unknown privilege ${g.privilege} (one of ${Privileges.mkString(", ")})")
    val cur = load(io, warehouse).getOrElse(Nil)
    val next = (cur :+ g).distinct
    io.writeAtomicReplace(file(warehouse), render(next))
    cache.remove(file(warehouse))
  }

  def revoke(io: FileIO, warehouse: String, g: Grant): Unit = synchronized {
    val cur = load(io, warehouse).getOrElse(Nil)
    io.writeAtomicReplace(file(warehouse), render(cur.filterNot(_ == g)))
    cache.remove(file(warehouse))
  }

  /** Does `principal` hold `privilege` (or OWNER) on the securable named by
    * `parts`, directly or through an ancestor? Returns true when access
    * control is disabled (no grants file). */
  def allowed(io: FileIO, warehouse: String, principal: String, privilege: String,
      parts: Seq[String]): Boolean = load(io, warehouse) match {
    case None => true // not enforcing
    case Some(gs) => gs.exists { g =>
      g.principal == principal &&
        (g.privilege == privilege || g.privilege == "OWNER") &&
        g.parts.length <= parts.length && g.parts == parts.take(g.parts.length)
    }
  }

  /** `allowed` or throw — the enforcement entry point. */
  def check(io: FileIO, warehouse: String, principal: String, privilege: String,
      parts: Seq[String]): Unit =
    if (!allowed(io, warehouse, principal, privilege, parts))
      throw new AccessDeniedException(
        s"principal '$principal' lacks $privilege on " +
          (if (parts.isEmpty) "catalog" else parts.mkString(".")))

  /** Any-of variant: UC semantics let MODIFY imply table resolution for
    * DML targets (a write-only principal can INSERT without SELECT), so
    * loadTable-style gates check "SELECT or MODIFY" rather than SELECT. */
  def checkAny(io: FileIO, warehouse: String, principal: String, privileges: Seq[String],
      parts: Seq[String]): Unit =
    if (!privileges.exists(allowed(io, warehouse, principal, _, parts)))
      throw new AccessDeniedException(
        s"principal '$principal' lacks ${privileges.mkString(" or ")} on " +
          (if (parts.isEmpty) "catalog" else parts.mkString(".")))

  /** Is `principal` a catalog administrator (OWNER at catalog level, or
    * access control disabled)? Gates GRANT/REVOKE administration. */
  def isAdmin(io: FileIO, warehouse: String, principal: String): Boolean =
    allowed(io, warehouse, principal, "OWNER", Nil)
}
