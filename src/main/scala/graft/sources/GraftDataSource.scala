package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.GraftDsv2Table
import graft.table.GraftTable

/** Path-based DSv2 entry — the `spark.read.format("iceberg").load(path)`
  * ergonomic for graft tables, no catalog registration required:
  *
  * {{{
  *   spark.read.format("graft").load("/data/t")                       // head
  *   spark.read.format("graft").option("versionAsOf", 3).load(p)      // time travel
  *   spark.read.format("graft").option("timestampAsOf", ms).load(p)
  *   spark.read.format("graft").option("branch", "dev").load(p)
  *   df.write.format("graft").mode("append").save(p)                  // existing table
  * }}}
  *
  * Reads and writes resolve through the same [[GraftDsv2Table]] the catalog
  * serves (the columnar read path, installed here as by the catalog,
  * stats, MOR deletes, exactly-once appends all identical); the table must
  * already EXIST — creation stays with `GraftTable.create` / catalog DDL,
  * where schema and properties are explicit, not inferred from a dataframe.
  *
  * GOVERNANCE: when the session acts as a principal
  * (`spark.graft.principal`), the path entry enforces the same
  * [[graft.catalog.GrantStore]] gate as the catalog — the nearest ancestor
  * directory holding `_grants.json` (the warehouse root GrantStore writes)
  * governs, and the securable is named by the path segments relative to it.
  * So `load("<wh>/ns/t")` meets exactly the SELECT/MODIFY check of
  * `graft.ns.t`, and a denied principal cannot launder access through the
  * path spelling. A path with no governing warehouse above it stays
  * ungoverned — the same semantics as a warehouse without a grants file
  * (access control not enabled). */
class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "graft"

  /** Nearest ancestor warehouse (`_grants.json` holder) and the securable
    * parts relative to it; None = no governing warehouse above `path`.
    *
    * Positive results cache for the process lifetime (the governing ROOT of
    * a path never moves; the walk otherwise costs O(depth) remote exists()
    * probes per guard invocation on an object store). Negative results are
    * deliberately NOT cached: a warehouse becomes governed the moment its
    * first grant writes `_grants.json`, and enforcement must pick that up
    * on the next access, not at the next process restart. */
  private def governedBy(path: String): Option[(String, Seq[String])] =
    Option(GraftDataSource.governedCache.get(path)).orElse {
      val io = graft.table.FileIO.forPath(path)
      val leaf = new org.apache.hadoop.fs.Path(path)
      var dir = leaf.getParent
      var parts = List(leaf.getName)
      var found = Option.empty[(String, Seq[String])]
      while (found.isEmpty && dir != null && !dir.isRoot) {
        if (io.exists(new org.apache.hadoop.fs.Path(dir, "_grants.json").toString))
          found = Some((dir.toString, parts))
        else {
          parts = dir.getName :: parts
          dir = dir.getParent
        }
      }
      found.foreach(GraftDataSource.governedCache.put(path, _))
      found
    }

  private def enforce(path: String, privilege: String): Unit =
    graft.catalog.GrantStore.sessionPrincipal.foreach { p =>
      governedBy(path).foreach { case (wh, parts) =>
        graft.catalog.GrantStore.check(graft.table.FileIO.forPath(wh), wh, p, privilege, parts)
      }
    }

  /** `df.write.format("graft").save(path)`: Spark's path-based writer only
    * takes the DSv2 route for tables declaring full BATCH_WRITE; graft
    * tables write through the V1WriteBuilder fallback (V1_BATCH_WRITE, the
    * catalog INSERT path), so the writer lands here instead — same
    * snapshot-committing appends/overwrites, same exactly-once CAS. */
  override def createRelation(ctx: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val p = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        """graft source needs a path: df.write.format("graft").save(path)"""))
    enforce(p, "MODIFY") // grant gate BEFORE any commit path runs
    val t = GraftTable.load(SparkSession.active, p) // throws if absent: no create-on-write
    mode match {
      case SaveMode.Append        => t.appendWithRetry(data)
      case SaveMode.Overwrite     => t.overwrite(data)
      case SaveMode.Ignore        => () // table exists: by contract, a no-op
      case SaveMode.ErrorIfExists =>
        throw new IllegalArgumentException(
          s"graft table already exists at $p (mode ErrorIfExists); " +
          "use append/overwrite, or GraftTable.create for new tables")
    }
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }

  // schema comes from the table's own snapshot log, never from user input
  override def supportsExternalMetadata(): Boolean = false

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      """graft source needs a path: spark.read.format("graft").load(path)""")
    p
  }

  private def tableFor(options: CaseInsensitiveStringMap): GraftDsv2Table = {
    val path = pathOf(options)
    graft.plans.GraftNativeScan.install()
    val t = GraftTable.load(SparkSession.active, path)
    GraftDsv2Table(t, path,
      asOfVersion = Option(options.get("versionAsOf")).map(_.toLong),
      asOfTimestampMs = Option(options.get("timestampAsOf")).map(_.toLong),
      branch = Option(options.get("branch")),
      writeGuard = () => enforce(path, "MODIFY"),
      readGuard = () => enforce(path, "SELECT"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableFor(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    tableFor(new CaseInsensitiveStringMap(properties))
}

object GraftDataSource {
  /** path → its governing (warehouse, securable parts); positive hits only
    * (see [[GraftDataSource.governedBy]]). */
  private val governedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[String])]()
}
