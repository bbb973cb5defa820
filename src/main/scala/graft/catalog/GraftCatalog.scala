package graft.catalog

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.{FileIO, GraftTable}

/** DSv2 `TableCatalog` over graft tables — the Spark-native analogue of the
  * reference's catalog wiring (`spark.sql.catalog.<name> = SparkCatalog`,
  * reference `main.tf:794-802`; SURVEY.md §1 "Catalog"). Register with
  * {{{
  *   spark.sql.catalog.graft           = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  * and the full SQL surface works: CREATE NAMESPACE / CREATE TABLE / CTAS /
  * INSERT INTO / INSERT OVERWRITE / SELECT (incl. `VERSION AS OF` and
  * `TIMESTAMP AS OF` time travel via the loadTable overloads) / ALTER TABLE
  * ADD|RENAME|DROP COLUMN / DROP TABLE — resolved against a warehouse
  * directory (any Hadoop-`FileSystem` URI via [[graft.table.FileIO]]), or
  * against a REST catalog endpoint with `uri`/`credential` options
  * ([[graft.rest.RestCatalogClient]] — the reference's `main.tf:795-801`
  * wiring).
  *
  * Layout: `<warehouse>/<namespace>/<table>/` — each table dir is a snapshot
  * log owned by [[graft.table.GraftTable]].
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
  with ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _
  // Warehouse IO through the same Hadoop FileSystem seam as the table layer
  // (graft.table.FileIO), so an object-store warehouse is pure config.
  private var io: FileIO = _
  // REST mode (reference `main.tf:795-801`): namespace/table DDL, table
  // resolution, and the commit CAS route through the catalog server; the
  // data plane (parquet + snapshot JSONs) stays on shared storage, whose
  // root the server hands back in the /v1/config handshake.
  private var rest: Option[graft.rest.RestCatalogClient] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    graft.plans.GraftNativeScan.install() // the read path, whatever the session's extensions
    Option(options.get("uri")) match {
      case Some(uri) =>
        val client = new graft.rest.RestCatalogClient(uri,
          Option(options.get("credential")), Option(options.get("token")))
        rest = Some(client)
        warehouse = client.warehouse()
      case None =>
        warehouse = Option(options.get("warehouse")).getOrElse(
          throw new IllegalArgumentException(
            s"catalog $name requires the 'warehouse' option (or 'uri' for REST mode)"))
    }
    io = FileIO.forPath(warehouse)
    io.mkdirs(warehouse)
  }

  override def name(): String = catalogName

  // ---- catalog access control ([[GrantStore]]) -----------------------
  // A warehouse with no grants file is not enforcing at all. Enforcement
  // composes with row filters/masks: grants decide WHETHER loadTable
  // succeeds, [[GraftGovernance]] then decides WHAT the granted reader sees.
  private def enforce(privilege: String, parts: Seq[String]): Unit =
    GrantStore.sessionPrincipal.foreach(p => GrantStore.check(io, warehouse, p, privilege, parts))

  private def enforceAny(privileges: Seq[String], parts: Seq[String]): Unit =
    GrantStore.sessionPrincipal.foreach(p =>
      GrantStore.checkAny(io, warehouse, p, privileges, parts))

  private def identParts(ident: Identifier): Seq[String] =
    ident.namespace().toSeq :+ ident.name()

  private def spark: SparkSession = SparkSession.active

  /** Identifier hygiene at the local catalog's path chokepoints — the same
    * rules [[graft.rest.RestCatalogServer]] enforces on its wire surface:
    * backquoted SQL idents (`` `../x` ``) and dotted procedure arguments
    * ('../../x') would otherwise resolve OUTSIDE the warehouse, and
    * layout-internal names would collide with table/view metadata. Local
    * mode is the user's own trust domain, but a confused tool writing
    * through a crafted ident should fail loudly, not escape quietly. */
  private def checkParts(parts: Seq[String]): Seq[String] = {
    parts.foreach { p =>
      if (p.isEmpty || p == "." || p == ".." ||
          p.exists(c => c == '/' || c == '\\' || c < ' '))
        throw new IllegalArgumentException(
          s"invalid identifier part '${p.take(64)}'")
      if (p == "_graft" || p == "_views" || p == "_iceberg" ||
          p.startsWith("_staging-"))
        throw new IllegalArgumentException(s"identifier '$p' is reserved")
    }
    parts
  }
  private def nsPath(ns: Array[String]): String =
    (warehouse +: checkParts(ns.toSeq)).mkString("/")
  private def tablePath(ident: Identifier): String =
    (warehouse +: checkParts(ident.namespace().toSeq :+ ident.name())).mkString("/")
  // HEAD probe OR committed-snapshot listing — same hardening as
  // SnapshotLog.exists: on stores where the HEAD replace is delete+rename,
  // a probe mid-commit must not conclude "no table"
  private def isTable(p: String): Boolean =
    io.exists(s"$p/_graft/HEAD") ||
      io.listNames(s"$p/_graft").exists(n => n.startsWith("v") && n.endsWith(".json"))

  /** Load a table with the mode-appropriate commit transport: local CAS, or
    * [[graft.rest.RestSnapshotLog]] so every write CASes through the server. */
  private def loadGraft(ident: Identifier): GraftTable = rest match {
    case Some(c) => GraftTable.load(spark, tablePath(ident),
      p => new graft.rest.RestSnapshotLog(p, c, ident.namespace().toSeq, ident.name()))
    case None => GraftTable.load(spark, tablePath(ident))
  }

  // --------------------------------------------------------- procedures

  /** `CALL graft.system.<proc>(...)` — Iceberg-style maintenance procedures
    * (SURVEY.md §2.8; see [[GraftProcedures]]). */
  private lazy val procedures: Map[String, org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure] =
    GraftProcedures.registry(
      name => (warehouse +: checkParts(name.split("\\.").toSeq)).mkString("/"),
      (s, dotted) => {
        val parts = dotted.split("\\.")
        loadGraft(Identifier.of(parts.init, parts.last))
      })

  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!(ident.namespace().sameElements(Array("system")) && procedures.contains(ident.name())))
      throw new IllegalArgumentException(
        s"no procedure $ident; known: ${procedures.keys.toSeq.sorted.mkString(", ")}")
    procedures(ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    procedures.keys.toSeq.sorted.map(n => Identifier.of(Array("system"), n)).toArray

  // -------------------------------------------------------------- views

  /** Iceberg-view-spec analogue (the reference stack's catalog also serves
    * views): a persistent view stores the SQL TEXT plus the schema and
    * session context captured at creation under `<ns>/_views/<name>.json`
    * ([[StoredView]] — shared with the REST catalog server, which renders
    * the same file as spec Iceberg view metadata); Spark re-parses and
    * re-resolves the text at read time — late binding, same as
    * Iceberg/Trino views, so a view tracks table evolution. */
  private def viewPath(ident: Identifier): String =
    s"${nsPath(ident.namespace())}/_views/${ident.name()}.json"
  private def viewsDir(ns: Array[String]): String = s"${nsPath(ns)}/_views"

  private def toView(ident: Identifier, sv: StoredView): View = new View {
    override def name(): String =
      (catalogName +: ident.namespace() :+ ident.name()).mkString(".")
    override def query(): String = sv.sql
    override def currentCatalog(): String = sv.currentCatalog
    override def currentNamespace(): Array[String] = sv.currentNamespace.toArray
    override def schema(): StructType =
      org.apache.spark.sql.types.DataType.fromJson(sv.schemaJson).asInstanceOf[StructType]
    override def queryColumnNames(): Array[String] = sv.queryColumnNames.toArray
    override def columnAliases(): Array[String] = sv.columnAliases.toArray
    override def columnComments(): Array[String] = sv.columnComments.toArray
    override def properties(): util.Map[String, String] = sv.properties.asJava
  }

  private def readStoredView(ident: Identifier): StoredView =
    try ViewStore.read(io, viewPath(ident)) catch {
      // a concurrent DROP between the caller's existence check and this
      // read surfaces as the catalog-level exception, not a raw IO error
      case _: java.io.FileNotFoundException =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    }

  private def writeStoredView(ident: Identifier, sv: StoredView): Unit =
    ViewStore.write(io, viewsDir(ident.namespace()), viewPath(ident), sv)

  override def viewExists(ident: Identifier): Boolean = io.exists(viewPath(ident))

  override def listViews(namespace: String*): Array[Identifier] =
    io.listNames(viewsDir(namespace.toArray)).filter(_.endsWith(".json"))
      .map(n => Identifier.of(namespace.toArray, n.stripSuffix(".json")))
      .toArray

  override def loadView(ident: Identifier): View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    toView(ident, readStoredView(ident))
  }

  override def createView(info: ViewInfo): View = {
    if (viewExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident)
    if (!io.isDirectory(nsPath(info.ident.namespace())))
      throw new NoSuchNamespaceException(info.ident.namespace())
    val now = System.currentTimeMillis()
    val v1 = StoredViewVersion(1, now, info.sql, info.schema.json,
      info.currentCatalog, info.currentNamespace.toSeq)
    writeStoredView(info.ident, StoredView(info.sql, info.currentCatalog,
      info.currentNamespace.toSeq, info.schema.json, info.queryColumnNames.toSeq,
      info.columnAliases.toSeq, info.columnComments.toSeq,
      info.properties.asScala.toMap,
      viewUuid = Some(java.util.UUID.randomUUID().toString),
      versions = Some(Seq(v1))))
    loadView(info.ident)
  }

  /** CREATE OR REPLACE VIEW on an existing view: the Iceberg view spec
    * models this as ADDING a view version under the SAME view-uuid (the
    * `versions` / `version-log` history a catalog serves), not as
    * drop-and-recreate — so replace appends to the stored history and the
    * spec REST surface's `current-version-id` advances. */
  /** Grace period before a CAS marker with no corresponding history advance
    * is considered orphaned (crash between marker create and view write) and
    * reclaimable. Tests lower it to exercise takeover without the wait. */
  private[graft] var replaceGraceMs: Long = 30000L

  private[graft] def replaceView(info: ViewInfo): View = {
    // Optimistic CAS via the SHARED ViewStore marker protocol — the same
    // files the REST server's spec commitView arbitrates through, so a
    // Spark CREATE OR REPLACE VIEW racing a foreign engine's replaceView
    // resolves exactly like two Spark sessions racing each other. The uuid
    // in the marker name scopes arbitration to THIS incarnation of the
    // view, so a drop-and-recreate never collides with stale markers.
    ViewStore.replaceWithCas(io, viewsDir(info.ident.namespace()),
        viewPath(info.ident),
        info.ident.namespace().toSeq :+ info.ident.name(), replaceGraceMs)(
        () => readStoredView(info.ident) /* NoSuchViewException on concurrent drop */) {
      (prev, uuid) =>
        val history = prev.allVersions
        val nextId = history.map(_.versionId).max + 1
        val next = StoredViewVersion(nextId, System.currentTimeMillis(),
          info.sql, info.schema.json, info.currentCatalog, info.currentNamespace.toSeq)
        StoredView(info.sql, info.currentCatalog,
          info.currentNamespace.toSeq, info.schema.json, info.queryColumnNames.toSeq,
          info.columnAliases.toSeq, info.columnComments.toSeq,
          info.properties.asScala.toMap,
          viewUuid = Some(uuid),
          versions = Some(history :+ next))
    }
    loadView(info.ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val updated = changes.foldLeft(readStoredView(ident)) { (sv, c) =>
      c match {
        case s: ViewChange.SetProperty =>
          sv.copy(properties = sv.properties + (s.property() -> s.value()))
        case r: ViewChange.RemoveProperty =>
          sv.copy(properties = sv.properties - r.property())
        case other =>
          throw new IllegalArgumentException(s"unsupported view change $other")
      }
    }
    writeStoredView(ident, updated)
    toView(ident, updated)
  }

  override def dropView(ident: Identifier): Boolean = {
    val won = io.delete(viewPath(ident))
    // sweep this view's CAS markers (harmless if left — arbitration is
    // uuid-scoped — but they'd otherwise accumulate forever)
    if (won) {
      val dir = viewsDir(ident.namespace())
      io.listNames(dir).filter(_.startsWith(s"${ident.name()}.json."))
        .foreach(n => io.delete(s"$dir/$n"))
    }
    won
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    if (!viewExists(from))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from)
    if (viewExists(to))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(to)
    io.mkdirs(viewsDir(to.namespace()))
    io.rename(viewPath(from), viewPath(to))
  }

  // ------------------------------------------------------------- tables

  override def listTables(ns: Array[String]): Array[Identifier] = rest match {
    case Some(c) =>
      if (!c.namespaceExists(ns.toSeq)) throw new NoSuchNamespaceException(ns)
      c.listTables(ns.toSeq).map(Identifier.of(ns, _)).toArray
    case None =>
      val p = nsPath(ns)
      if (!io.isDirectory(p)) throw new NoSuchNamespaceException(ns)
      io.listNames(p)
        .filter(n => isTable(s"$p/$n"))
        .map(n => Identifier.of(ns, n))
        .toArray
  }

  override def tableExists(ident: Identifier): Boolean = rest match {
    case Some(c) => c.tableExists(ident.namespace().toSeq, ident.name())
    case None => isTable(tablePath(ident))
  }

  override def loadTable(ident: Identifier): Table = {
    // grants: resolving a table needs SELECT OR MODIFY on the BASE table —
    // UC semantics let a write-only (MODIFY) principal resolve a DML
    // target without SELECT (ADVICE r13). The actual privileges are then
    // enforced where the capability is exercised: newScanBuilder requires
    // SELECT (readGuard), the write path MODIFY (writeGuard).
    val baseParts =
      ident.namespace().toSeq :+ ident.name().split("\\$", 2)(0)
    enforceAny(Seq("SELECT", "MODIFY"), baseParts)
    // Iceberg-style metadata tables: SELECT * FROM graft.db.`t$history` etc.
    if (ident.name().contains("$")) {
      val Array(base, meta) = ident.name().split("\\$", 2)
      val baseIdent = Identifier.of(ident.namespace(), base)
      if (!tableExists(baseIdent)) throw new NoSuchTableException(ident)
      val t = loadGraft(baseIdent)
      // Iceberg branch identifiers: graft.db.`t$branch_dev` reads the branch
      // head (its own schema) and INSERT INTO it appends to the branch only
      if (meta.startsWith("branch_"))
        return GraftDsv2Table(t, ident.toString,
          branch = Some(meta.stripPrefix("branch_")),
          writeGuard = () => enforce("MODIFY", baseParts),
          readGuard = () => enforce("SELECT", baseParts))
      // metadata tables are reads: SELECT outright (a MODIFY-only writer
      // has no business listing the table's files)
      enforce("SELECT", baseParts)
      val df = meta match {
        case "history"    => t.history
        case "snapshots"  => t.snapshotsMeta
        case "files"      => t.filesMeta
        case "refs"       => t.refsMeta
        case "partitions" => t.partitionsMeta
        case "manifests"  => t.manifestsMeta
        case "entries"    => t.entriesMeta
        case "delete_files"     => t.deleteFilesMeta
        case "position_deletes" => t.positionDeletesMeta
        case "all_files"        => t.allFilesMeta
        case _ => throw new NoSuchTableException(ident)
      }
      return GraftMetadataTable(ident.toString, df)
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    GraftDsv2Table(loadGraft(ident), ident.toString,
      writeGuard = () => enforce("MODIFY", identParts(ident)),
      readGuard = () => enforce("SELECT", identParts(ident)))
  }

  /** Time travel: `VERSION AS OF <v>` — a numeric snapshot version, or a
    * branch/tag name resolved through the ref log (Iceberg accepts both
    * forms; SURVEY.md §2.8). */
  override def loadTable(ident: Identifier, version: String): Table = {
    enforce("SELECT", identParts(ident))
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = loadGraft(ident)
    val v = version.toLongOption.getOrElse(
      t.log.refs.getOrElse(version, throw new IllegalArgumentException(
        s"VERSION AS OF '$version': not a snapshot version and no branch/tag with that name"))
        .version)
    GraftDsv2Table(t, ident.toString, asOfVersion = Some(v))
  }

  /** Time travel: `TIMESTAMP AS OF <ts>` (micros since epoch from Spark). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    enforce("SELECT", identParts(ident))
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    GraftDsv2Table(loadGraft(ident), ident.toString,
      asOfTimestampMs = Some(timestampMicros / 1000L))
  }

  /** DSv2 partition `Transform` → graft spec string ([[graft.table.PartitionTransform]]):
    * identity columns plus Iceberg's hidden-partitioning transforms
    * (`bucket(n, col)`, `truncate(w, col)`, `years/months/days/hours(col)` —
    * reference `main.tf:803` surface). */
  private def transformSpec(t: Transform): String = {
    def col = t.references()(0).fieldNames().mkString(".")
    def firstLiteral = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value.toString
    }.getOrElse(throw new IllegalArgumentException(s"transform $t needs a literal argument"))
    t.name match {
      case "identity"       => col
      case "bucket"         => s"bucket($firstLiteral,$col)"
      case "iceberg_bucket" => s"iceberg_bucket($firstLiteral,$col)"
      case "truncate"       => s"truncate($firstLiteral,$col)"
      case fn @ ("years" | "months" | "days" | "hours") => s"$fn($col)"
      case other => throw new UnsupportedOperationException(s"partition transform $other")
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    enforce("CREATE_TABLE", ident.namespace().toSeq)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val specs = partitions.map(transformSpec).toSeq
    specs.foreach(s => graft.table.PartitionTransform.parse(s, schema)) // fail fast
    val props = properties.asScala.toMap ++
      (if (specs.nonEmpty) Map("write.partition-by" -> specs.mkString(",")) else Map.empty) -
      TableCatalog.PROP_PROVIDER - TableCatalog.PROP_OWNER
    rest match {
      case Some(c) =>
        c.createTable(ident.namespace().toSeq, ident.name(), schema.json, props)
        GraftDsv2Table(loadGraft(ident), ident.toString)
      case None =>
        val t = GraftTable.createEmpty(spark, tablePath(ident), schema, props)
        GraftDsv2Table(t, ident.toString)
    }
  }

  /** DEFAULT clauses on ADD COLUMN are accepted (initial-default reads). */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    enforce("MODIFY", identParts(ident))
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = loadGraft(ident)
    changes.foreach {
      case a: TableChange.AddColumn =>
        // DEFAULT clause → Iceberg-v3-style initial default (old files read
        // the default; data never rewrites)
        t.addColumn(a.fieldNames().toSeq, a.dataType(),
          Option(a.defaultValue()).map(_.getSql))
      case r: TableChange.RenameColumn =>
        t.renameColumn(r.fieldNames().toSeq, r.newName())
      case d: TableChange.DeleteColumn =>
        t.dropColumn(d.fieldNames().toSeq)
      case u: TableChange.UpdateColumnType =>
        // Iceberg evolution semantics: only loss-free widenings change the
        // column. Spark's MERGE schema evolution requests the SOURCE type
        // verbatim (even a narrowing like BIGINT→INT when the source used
        // int literals); a narrower source needs no schema change — its
        // values upcast on write — so that request is a no-op here.
        val path = u.fieldNames().toSeq
        val cur = t.fieldAt(path).getOrElse(
          throw new IllegalArgumentException(s"no column ${path.mkString(".")}"))
        if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(cur.dataType, u.newDataType()))
          t.updateColumnType(path, u.newDataType())
      case p: TableChange.SetProperty =>
        // CHECK constraints are validated at DEFINITION time: the predicate
        // must parse and resolve boolean against the table schema, so a
        // typo fails the ALTER, not the next writer's append
        if (p.property().startsWith("graft.check.")) {
          val e = try org.apache.spark.sql.functions.expr(p.value()) catch {
            case ex: Exception => throw new IllegalArgumentException(
              s"CHECK constraint ${p.property()} does not parse: ${p.value()}", ex)
          }
          val probe = spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), t.schema)
          try probe.filter(e).queryExecution.analyzed catch {
            case ex: Exception => throw new IllegalArgumentException(
              s"CHECK constraint ${p.property()} does not resolve against the " +
                s"table schema: ${p.value()}", ex)
          }
        }
        // governance policies validate at DEFINITION time too: the row
        // filter must resolve boolean, a mask must name a real column and
        // keep its exact type (a type-shifting mask would mutate the table
        // schema per-read)
        if (p.property() == GraftGovernance.FilterProp ||
            p.property().startsWith(GraftGovernance.MaskPropPrefix)) {
          val probe = spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), t.schema)
          val e = try org.apache.spark.sql.functions.expr(p.value()) catch {
            case ex: Exception => throw new IllegalArgumentException(
              s"governance policy ${p.property()} does not parse: ${p.value()}", ex)
          }
          if (p.property() == GraftGovernance.FilterProp) {
            try probe.filter(e).queryExecution.analyzed catch {
              case ex: Exception => throw new IllegalArgumentException(
                s"row filter does not resolve boolean against the table " +
                  s"schema: ${p.value()}", ex)
            }
          } else {
            val col = p.property().stripPrefix(GraftGovernance.MaskPropPrefix)
            val field = t.schema.fields.find(_.name == col).getOrElse(
              throw new IllegalArgumentException(
                s"mask targets a column that does not exist: $col"))
            val dt = try probe.select(e).queryExecution.analyzed.output.head.dataType
              catch {
                case ex: Exception => throw new IllegalArgumentException(
                  s"mask for $col does not resolve against the table " +
                    s"schema: ${p.value()}", ex)
              }
            require(dt == field.dataType,
              s"mask for $col must keep type ${field.dataType.sql}, got ${dt.sql}")
          }
        }
        t.setProperties(Map(p.property() -> p.value()))
      case p: TableChange.RemoveProperty =>
        t.removeProperties(Seq(p.property()))
      case n: TableChange.UpdateColumnNullability =>
        require(n.fieldNames().length == 1, "nested nullability change not supported")
        t.updateColumnNullability(n.fieldNames()(0), n.nullable())
      case other =>
        throw new UnsupportedOperationException(s"table change $other")
    }
    GraftDsv2Table(t, ident.toString)
  }

  override def dropTable(ident: Identifier): Boolean = {
    enforce("MODIFY", identParts(ident))
    rest match {
      case Some(c) => c.dropTable(ident.namespace().toSeq, ident.name())
      case None =>
        val p = tablePath(ident)
        if (!isTable(p)) return false
        io.deleteRecursive(p)
        true
    }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    // rename = MODIFY on the source + CREATE_TABLE in the destination
    // namespace: grants are name-keyed, so an unguarded rename would
    // detach a table from its grants or graft it under another
    // securable's (ADVICE r13)
    enforce("MODIFY", identParts(from))
    enforce("CREATE_TABLE", to.namespace().toSeq)
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    rest match {
      case Some(c) => c.renameTable(from.namespace().toSeq, from.name(),
        to.namespace().toSeq, to.name())
      case None =>
        io.mkdirs(nsPath(to.namespace()))
        io.rename(tablePath(from), tablePath(to))
    }
  }

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = rest match {
    case Some(c) => c.listNamespaces().map(_.toArray).toArray
    case None =>
      io.listNames(warehouse)
        .filter(n => io.isDirectory(s"$warehouse/$n") && !isTable(s"$warehouse/$n"))
        .map(n => Array(n)).toArray
  }

  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) listNamespaces()
    else if (namespaceExists(ns)) Array.empty
    else throw new NoSuchNamespaceException(ns)

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.isEmpty || (rest match {
      case Some(c) => c.namespaceExists(ns.toSeq)
      case None => io.isDirectory(nsPath(ns)) && !isTable(nsPath(ns))
    })

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Map(SupportsNamespaces.PROP_LOCATION -> nsPath(ns)).asJava
  }

  override def createNamespace(ns: Array[String], metadata: util.Map[String, String]): Unit =
    rest match {
      case Some(c) => c.createNamespace(ns.toSeq)
      case None => io.mkdirs(nsPath(ns))
    }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace properties are immutable")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = rest match {
    case Some(c) =>
      if (!c.namespaceExists(ns.toSeq)) false
      // server-side cascade drops the whole tree (tables, stored views,
      // nested namespaces); non-cascade lets the server 409 on non-empty
      else c.dropNamespace(ns.toSeq, cascade)
    case None =>
      val p = nsPath(ns)
      if (!io.isDirectory(p)) return false
      if (!cascade && io.listNames(p).nonEmpty)
        throw new IllegalStateException(s"namespace ${ns.mkString(".")} is not empty")
      io.deleteRecursive(p)
      true
  }
}
