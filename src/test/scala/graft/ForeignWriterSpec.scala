package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.apache.spark.sql.functions._

/** Multi-engine WRITE interop at the wire level (the reference's acceptance
  * criterion: two engines reading AND writing the same table —
  * `README.md:2`, `main.tf:809-820`). The "foreign engine" here uses NO
  * graft classes: raw HTTP for the OAuth grant and the commit CAS, raw JSON
  * manipulation of the snapshot metadata, and its own parquet writer —
  * exactly what a Trino-style second engine implementing the catalog
  * protocol would do. Carries the parent's manifest chunk list forward
  * verbatim (chunks are immutable) and registers its file inline — the
  * stored form supports both, which IS the compatibility path. */
class ForeignWriterSpec extends SparkSpec {
  import spark.implicits._

  private def server = RestCatalogSpec.server
  private val http = HttpClient.newHttpClient()
  private implicit val fmts: Formats = DefaultFormats

  private def post(path: String, body: String, token: Option[String],
      contentType: String = "application/json"): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"${server.uri}$path"))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }
  private def get(path: String, token: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"${server.uri}$path"))
      .header("Authorization", s"Bearer $token").GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def del(path: String, token: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"${server.uri}$path"))
      .header("Authorization", s"Bearer $token").DELETE().build(),
      HttpResponse.BodyHandlers.ofString())

  private def oauthRaw(): String = {
    val resp = post("/v1/oauth/tokens",
      "grant_type=client_credentials&client_id=engine-b&client_secret=secret-b",
      None, "application/x-www-form-urlencoded")
    assert(resp.statusCode() == 200, resp.body())
    (JsonMethods.parse(resp.body()) \ "access_token").extract[String]
  }

  /** Foreign append: write a parquet file, splice it into the parent
    * snapshot's JSON, POST the commit. Returns the HTTP status code. */
  private def foreignAppend(token: String, table: String, ids: Seq[Long],
      parentOverride: Option[Long] = None): Int = {
    val loc = (JsonMethods.parse(
      get(s"/v1/namespaces/db/tables/$table", token).body()) \ "location").extract[String]
    val parentV = parentOverride.getOrElse((JsonMethods.parse(
      get(s"/v1/namespaces/db/tables/$table", token).body()) \ "currentVersion").extract[Long])
    // 1. write a data file with the engine's own parquet writer
    val staging = Files.createTempDirectory(Paths.get("target"), "foreign-")
    ids.toDF("id").coalesce(1).write.parquet(staging.resolve("out").toString)
    val part = Files.list(staging.resolve("out")).iterator()
    val parquet = Iterator.continually(part).takeWhile(_.hasNext).map(_.next())
      .find(_.toString.endsWith(".parquet")).get
    val name = s"foreign-${java.util.UUID.randomUUID()}.parquet"
    Files.move(parquet, Paths.get(loc, "data", name), StandardCopyOption.ATOMIC_MOVE)
    val bytes = Files.size(Paths.get(loc, "data", name))
    // 2. splice the new file into the parent snapshot's stored JSON
    val parent = JsonMethods.parse(Files.readString(Paths.get(loc, "_graft", s"v$parentV.json")))
    val next = parentV + 1
    val newFile = JObject("path" -> JString(s"data/$name"),
      "rows" -> JInt(ids.size), "bytes" -> JInt(BigInt(bytes)),
      "schemaId" -> parent \ "currentSchemaId",
      "stats" -> JObject(), "seq" -> JInt(BigInt(next)))
    val inlineFiles = (parent \ "files") match {
      case JArray(fs) => JArray(fs :+ newFile)
      case _ => JArray(List(newFile))
    }
    val candidate = parent.asInstanceOf[JObject].obj.toMap ++ Map(
      "version" -> JInt(BigInt(next)), "parent" -> JInt(BigInt(parentV)),
      "timestampMs" -> JInt(BigInt(System.currentTimeMillis())),
      "operation" -> JString("append"), "files" -> inlineFiles)
    // 3. CAS it in over the wire
    val body = JsonMethods.compact(JsonMethods.render(JObject(
      "parentVersion" -> JInt(BigInt(parentV)), "version" -> JInt(BigInt(next)),
      "storedJson" -> JString(JsonMethods.compact(JsonMethods.render(JObject(candidate.toList)))),
      "moveHead" -> JBool(true))))
    post(s"/v1/namespaces/db/tables/$table/commit", body, Some(token)).statusCode()
  }

  test("foreign engine commits via raw HTTP+JSON; graft reads the result") {
    RestCatalogSpec.server
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.interop (id BIGINT)")
    spark.sql("INSERT INTO graftr.db.interop VALUES (1), (2)")

    val token = oauthRaw()
    assert(foreignAppend(token, "interop", Seq(10L, 11L)) == 200)
    // graft sees the foreign rows through its normal read path
    assert(spark.sql("SELECT * FROM graftr.db.interop ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 10L, 11L))
    // and keeps writing on top of the foreign commit
    spark.sql("INSERT INTO graftr.db.interop VALUES (20)")
    assert(spark.sql("SELECT count(*) FROM graftr.db.interop").collect()(0).getLong(0) == 5)
    // lineage is intact: history walks through the foreign snapshot
    val ops = spark.sql("SELECT operation FROM graftr.db.`interop$history` ORDER BY version")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("create", "append", "append", "append"))
  }

  test("foreign stale commit gets a 409 from the CAS, then succeeds on retry") {
    RestCatalogSpec.server
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.race (id BIGINT)")
    spark.sql("INSERT INTO graftr.db.race VALUES (1)")

    val token = oauthRaw()
    val staleParent = 0L // head is already v1
    assert(foreignAppend(token, "race", Seq(99L), Some(staleParent)) == 409)
    // Iceberg commit-retry semantics: rebuild against the new head and win
    assert(foreignAppend(token, "race", Seq(99L)) == 200)
    assert(spark.sql("SELECT * FROM graftr.db.race ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 99L))
  }

  test("unauthenticated foreign commit is rejected") {
    RestCatalogSpec.server
    val resp = post("/v1/namespaces/db/tables/interop/commit", "{}", None)
    assert(resp.statusCode() == 401)
  }

  test("Iceberg REST surface: config advertises the prefix; loadTable serves spec metadata a real importer loads") {
    // The server doubles as a SPEC Iceberg REST catalog (the Unity-Catalog-
    // IRC role in the reference): a conformant client reads /v1/config,
    // follows overrides.prefix, and loads the table as inline Iceberg v2
    // metadata. We prove the payload is REAL by handing it to
    // IcebergImport (which decodes manifests with the independent Avro
    // library) and comparing rows.
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    val token = oauthRaw()

    val cfg = JsonMethods.parse(get("/v1/config", token).body())
    val prefix = (cfg \ "overrides" \ "prefix").extract[String]
    assert(prefix == "iceberg")
    // capability advertisement: clients feature-detect optional surfaces
    // (scan planning, metrics, credential re-vend) from `endpoints`
    val eps = (cfg \ "endpoints").extract[Seq[String]]
    Seq("POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan",
        "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/metrics",
        "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}/credentials",
        "POST /v1/{prefix}/transactions/commit")
      .foreach(e => assert(eps.contains(e), s"missing endpoint $e"))
    // planning is synchronous only: no async plan-id leg is advertised
    assert(!eps.exists(_.contains("/plan/")), s"async planning advertised: $eps")

    spark.sql("CREATE TABLE graftr.db.ice_srv (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graftr.db.ice_srv VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("DELETE FROM graftr.db.ice_srv WHERE id = 2")

    // namespace + table listing, spec shapes
    val nss = JsonMethods.parse(get(s"/v1/$prefix/namespaces", token).body())
    assert((nss \ "namespaces").children.exists(_.extract[Seq[String]] == Seq("db")))
    val tbls = JsonMethods.parse(get(s"/v1/$prefix/namespaces/db/tables", token).body())
    assert((tbls \ "identifiers").children
      .exists(i => (i \ "name").extract[String] == "ice_srv"))

    // loadTable: spec LoadTableResult with inline v2 metadata
    val resp = get(s"/v1/$prefix/namespaces/db/tables/ice_srv", token)
    assert(resp.statusCode() == 200, resp.body())
    val load = JsonMethods.parse(resp.body())
    val metaLoc = (load \ "metadata-location").extract[String]
    assert(metaLoc.endsWith(".metadata.json"))
    assert((load \ "metadata" \ "format-version").extract[Int] == 2)
    assert((load \ "metadata" \ "current-snapshot-id").extract[Long] >= 0)

    // the served metadata-location is loadable by the independent importer
    val impDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "rest-ice-imp-").toString
    val imp = graft.table.IcebergImport.importTable(spark,
      java.net.URI.create(metaLoc).getPath, s"$impDir/t")
    assert(imp.read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (3L, "c")))

    // second loadTable on the same version hits the rendered cache
    assert(get(s"/v1/$prefix/namespaces/db/tables/ice_srv", token).statusCode() == 200)
    // spec HEAD existence probes
    assert(http.send(java.net.http.HttpRequest.newBuilder(
        URI.create(s"${server.uri}/v1/$prefix/namespaces/db/tables/ice_srv"))
      .header("Authorization", s"Bearer $token")
      .method("HEAD", java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode() == 204)
    spark.sql("DROP TABLE graftr.db.ice_srv")
  }

  test("positional deletes apply across URI renderings (foreign-writer contract)") {
    // The snapshot-log contract lets a FOREIGN engine register delete
    // files; nothing forces it to render file: URIs the way Spark's
    // _metadata.file_path does. Rewrite a delete file into the
    // triple-slash rendering and prove the read still applies it.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "foreign-del-").toAbsolutePath.toString
    val t = graft.table.GraftTable.create(spark, s"$dir/tbl",
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"),
      Map("write.delete.mode" -> "merge-on-read"))
    t.delete(org.apache.spark.sql.functions.col("id") <= 3L)
    assert(t.read.count() == 7)

    val delRel = t.log.current.deleteFiles.head.path
    val delAbs = s"$dir/tbl/$delRel"
    val rewritten = spark.read.parquet(delAbs)
      .withColumn("file_path", org.apache.spark.sql.functions.regexp_replace(
        org.apache.spark.sql.functions.col("file_path"),
        "^file:/{1,3}", "file:///"))
    val tmpOut = s"$dir/rewrite"
    rewritten.coalesce(1).write.parquet(tmpOut)
    val part = new java.io.File(tmpOut).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    java.nio.file.Files.move(part, java.nio.file.Paths.get(delAbs),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // in-place edit cleanup (a real foreign writer writes a NEW file):
    // stale checksum sidecar + session FileStatusCache entry must go
    val delFile = new java.io.File(delAbs)
    java.nio.file.Files.deleteIfExists(
      delFile.toPath.resolveSibling(s".${delFile.getName}.crc"))
    spark.catalog.refreshByPath(delAbs)

    // a fresh load (no cached plans): deletes must still bite
    val t2 = graft.table.GraftTable.load(spark, s"$dir/tbl")
    assert(t2.read.count() == 7, "renderings diverged and deletes were dropped")
    // ...and the change feed sees the same delete rows
    val cdc = t2.changelogDetailed(0L, t2.log.currentVersion)
    assert(cdc.filter(org.apache.spark.sql.functions.col("_change_type") === "delete")
      .count() == 3)
  }

  /** The steps a spec Iceberg REST writer performs for an append: load the
    * table over the spec surface, write a foreign parquet data file,
    * hand-write an Iceberg manifest for it, a manifest list carrying every
    * existing entry forward verbatim (same writer schema), and build the
    * add-snapshot commit body with an assert-ref-snapshot-id requirement
    * pinned to the loaded snapshot. Returns (loaded snapshot id, body). */
  private def buildSpecAppendBody(token: String, table: String,
      rows: Seq[(Long, String)]): (Long, String) = {
    import spark.implicits._
    // 1. load over the spec surface
    val load = JsonMethods.parse(
      get(s"/v1/iceberg/namespaces/db/tables/$table", token).body())
    val curSnap = (load \ "metadata" \ "current-snapshot-id").extract[Long]
    val curList = ((load \ "metadata" \ "snapshots").children
      .find(sn => (sn \ "snapshot-id").extract[Long] == curSnap).get \ "manifest-list")
      .extract[String]

    // 2. foreign parquet data file
    val scratch = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ice-w-").toAbsolutePath.toString
    rows.toDF("id", "name").coalesce(1).write.parquet(s"$scratch/d")
    val newData = new java.io.File(s"$scratch/d").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath

    // 3. new manifest (minimal v1-style entry schema) for the new file
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
        .stripMargin.replace("\n", ""))
    val dfr = new org.apache.avro.generic.GenericData.Record(
      entrySchema.getField("data_file").schema())
    dfr.put("file_path", s"file://$newData")
    dfr.put("file_format", "PARQUET")
    dfr.put("record_count", rows.size.toLong)
    dfr.put("file_size_in_bytes", new java.io.File(newData).length())
    val ent = new org.apache.avro.generic.GenericData.Record(entrySchema)
    ent.put("status", 1)
    ent.put("data_file", dfr)
    val newManifest = s"$scratch/m-new.avro"
    locally {
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](entrySchema))
      w.create(entrySchema, new java.io.File(newManifest))
      try w.append(ent) finally w.close()
    }

    // 4. new manifest list = existing entries (same writer schema) + ours
    val rdr = new org.apache.avro.file.DataFileReader[
      org.apache.avro.generic.GenericRecord](
      new java.io.File(java.net.URI.create(curList).getPath),
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val listSchema = rdr.getSchema
    val existing = {
      import scala.jdk.CollectionConverters._
      try rdr.iterator().asScala.toList finally rdr.close()
    }
    val mf = new org.apache.avro.generic.GenericData.Record(listSchema)
    mf.put("manifest_path", s"file://$newManifest")
    mf.put("manifest_length", new java.io.File(newManifest).length())
    mf.put("partition_spec_id", 0)
    mf.put("content", 0)
    mf.put("sequence_number", 0L)
    mf.put("min_sequence_number", 0L)
    mf.put("added_snapshot_id", 9999L)
    mf.put("added_files_count", 1); mf.put("existing_files_count", 0)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", rows.size.toLong); mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", 0L)
    val newList = s"$scratch/snap-9999-list.avro"
    locally {
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](listSchema))
      w.create(listSchema, new java.io.File(newList))
      try { existing.foreach(w.append); w.append(mf) } finally w.close()
    }

    // 5. spec commit: requirement + add-snapshot
    val commitBody =
      s"""{"requirements":[
         |  {"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$curSnap}],
         |"updates":[
         |  {"action":"add-snapshot","snapshot":{
         |    "snapshot-id":9999,"timestamp-ms":1700000001000,
         |    "manifest-list":"file://$newList",
         |    "summary":{"operation":"append"}}},
         |  {"action":"set-snapshot-ref","ref-name":"main","snapshot-id":9999}
         |]}""".stripMargin
    (curSnap, commitBody)
  }

  test("a spec Iceberg REST writer commits an append through the catalog") {
    // The full IRC write role: a foreign engine loads the table over the
    // spec surface, writes its own parquet + Iceberg manifests, and POSTs
    // an add-snapshot commit with an assert-ref-snapshot-id requirement.
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.ice_w (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graftr.db.ice_w VALUES (1, 'a'), (2, 'b')")
    val token = oauthRaw()

    val (curSnap, commitBody) =
      buildSpecAppendBody(token, "ice_w", Seq((3L, "c"), (4L, "d")))
    val resp = post("/v1/iceberg/namespaces/db/tables/ice_w", commitBody, Some(token))
    assert(resp.statusCode() == 200, resp.body())
    assert((JsonMethods.parse(resp.body()) \ "metadata" \ "format-version").extract[Int] == 2)

    // the graft engine sees the foreign rows
    spark.sql("REFRESH TABLE graftr.db.ice_w")
    assert(spark.sql("SELECT id FROM graftr.db.ice_w ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))

    // replaying the commit with the now-stale requirement conflicts
    val stale = post("/v1/iceberg/namespaces/db/tables/ice_w", commitBody, Some(token))
    assert(stale.statusCode() == 409, s"${stale.statusCode()}: ${stale.body()}")

    // negative cases need a FRESH requirement (requirements are validated
    // first, per spec — a stale one would 409 before update validation)
    val newSnap = (JsonMethods.parse(
      get("/v1/iceberg/namespaces/db/tables/ice_w", token).body())
      \\ "metadata" \\ "current-snapshot-id").extract[Long]
    val freshBody = commitBody.replace(
      s""""snapshot-id":$curSnap""", s""""snapshot-id":$newSnap""")
    // all-or-nothing: a commit carrying an update we would DROP is
    // rejected up front, never half-applied
    val withUnsupported = freshBody.replace("\"updates\":[",
      "\"updates\":[{\"action\":\"remove-snapshots\",\"snapshot-ids\":[1]},")
    assert(post("/v1/iceberg/namespaces/db/tables/ice_w", withUnsupported, Some(token))
      .statusCode() == 400)
    // ...including a malformed add-schema (invalid schema json)
    val badSchema = freshBody.replace("\"updates\":[",
      "\"updates\":[{\"action\":\"add-schema\",\"schema\":{}},")
    assert(post("/v1/iceberg/namespaces/db/tables/ice_w", badSchema, Some(token))
      .statusCode() == 400)
    // stage-only (WAP) and branch-targeted commits are rejected, not
    // silently applied to main
    val stageOnly = freshBody.replace(
      ",\n  {\"action\":\"set-snapshot-ref\",\"ref-name\":\"main\",\"snapshot-id\":9999}", "")
    assert(post("/v1/iceberg/namespaces/db/tables/ice_w", stageOnly, Some(token))
      .statusCode() == 400)
    val toBranch = freshBody.replace("\"ref-name\":\"main\"", "\"ref-name\":\"audit\"")
    assert(post("/v1/iceberg/namespaces/db/tables/ice_w", toBranch, Some(token))
      .statusCode() == 400)
    spark.sql("DROP TABLE graftr.db.ice_w")
  }

  test("a spec Iceberg v3 writer commits a DELETION VECTOR through the catalog") {
    // A modern (Iceberg 1.9+/v3) engine deletes rows by committing a
    // Puffin deletion vector instead of positional-delete parquet. The
    // server must decode the DV blob, materialize it into graft's MOR
    // model, and serve exact reads — the wire half of the v3 import path.
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("DROP TABLE IF EXISTS graftr.db.dv_w")
    spark.sql("CREATE TABLE graftr.db.dv_w (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graftr.db.dv_w VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    val token = oauthRaw()
    val loc = (JsonMethods.parse(
      get("/v1/namespaces/db/tables/dv_w", token).body()) \ "location").extract[String]

    // per data file: the positions of the ids to delete, in FILE ORDER
    val toDelete = Set(2L, 3L)
    val dataFiles = new java.io.File(s"$loc/data").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.contains("deletes"))
      .map(_.getAbsolutePath).sorted
    val perFile: Seq[(String, Seq[Long])] = dataFiles.toSeq.flatMap { p =>
      val ids = spark.read.parquet(p).select($"id").collect().map(_.getLong(0))
      val pos = ids.zipWithIndex.collect { case (id, i) if toDelete(id) => i.toLong }
      if (pos.isEmpty) None else Some((s"file://$p", pos.toSeq))
    }
    assert(perFile.map(_._2.size).sum == 2, s"positions found: $perFile")

    // foreign puffin: one DV blob per touched data file
    val scratch = Files.createTempDirectory(Paths.get("target"), "dv-w-").toAbsolutePath
    val blobs = perFile.map { case (uri, ps) =>
      graft.table.Puffin.Blob(graft.table.DeletionVector.BlobType, Nil, 9999L, 2L,
        graft.table.DeletionVector.serialize(ps),
        Map("referenced-data-file" -> uri, "cardinality" -> ps.size.toString))
    }
    val (pBytes, _) = graft.table.Puffin.write(blobs, Map.empty)
    val puffinPath = scratch.resolve("dv.puffin").toString
    Files.write(Paths.get(puffinPath), pBytes)
    val metas = graft.table.Puffin.read(pBytes)._1

    // hand-written v3 delete manifest (real Avro writer, minimal schema)
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"sequence_number","type":"long"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"referenced_data_file","type":"string"},
        |{"name":"content_offset","type":"long"},
        |{"name":"content_size_in_bytes","type":"long"}]}}]}"""
        .stripMargin.replace("\n", ""))
    val newManifest = scratch.resolve("m-dv.avro").toString
    locally {
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](entrySchema))
      w.create(entrySchema, new java.io.File(newManifest))
      try perFile.zip(metas).foreach { case ((uri, ps), m) =>
        val dfr = new org.apache.avro.generic.GenericData.Record(
          entrySchema.getField("data_file").schema())
        dfr.put("content", 1)
        dfr.put("file_path", s"file://$puffinPath")
        dfr.put("file_format", "PUFFIN")
        dfr.put("record_count", ps.size.toLong)
        dfr.put("file_size_in_bytes", pBytes.length.toLong)
        dfr.put("referenced_data_file", uri)
        dfr.put("content_offset", m.offset)
        dfr.put("content_size_in_bytes", m.length)
        val ent = new org.apache.avro.generic.GenericData.Record(entrySchema)
        ent.put("status", 1)
        ent.put("sequence_number", 2L)
        ent.put("data_file", dfr)
        w.append(ent)
      } finally w.close()
    }

    // manifest list: existing entries carried forward + the DV manifest
    val load = JsonMethods.parse(
      get("/v1/iceberg/namespaces/db/tables/dv_w", token).body())
    val curSnap = (load \ "metadata" \ "current-snapshot-id").extract[Long]
    val curList = ((load \ "metadata" \ "snapshots").children
      .find(sn => (sn \ "snapshot-id").extract[Long] == curSnap).get \ "manifest-list")
      .extract[String]
    val rdr = new org.apache.avro.file.DataFileReader[
      org.apache.avro.generic.GenericRecord](
      new java.io.File(java.net.URI.create(curList).getPath),
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val listSchema = rdr.getSchema
    val existing = {
      import scala.jdk.CollectionConverters._
      try rdr.iterator().asScala.toList finally rdr.close()
    }
    val mf = new org.apache.avro.generic.GenericData.Record(listSchema)
    mf.put("manifest_path", s"file://$newManifest")
    mf.put("manifest_length", new java.io.File(newManifest).length())
    mf.put("partition_spec_id", 0)
    mf.put("content", 1)
    mf.put("sequence_number", 2L)
    mf.put("min_sequence_number", 2L)
    mf.put("added_snapshot_id", 9999L)
    mf.put("added_files_count", perFile.size)
    mf.put("existing_files_count", 0); mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", 2L); mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", 0L)
    val newList = scratch.resolve("snap-9999-list.avro").toString
    locally {
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](listSchema))
      w.create(listSchema, new java.io.File(newList))
      try { existing.foreach(w.append); w.append(mf) } finally w.close()
    }

    val commitBody =
      s"""{"requirements":[
         |  {"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$curSnap}],
         |"updates":[
         |  {"action":"add-snapshot","snapshot":{
         |    "snapshot-id":9999,"timestamp-ms":1700000002000,
         |    "manifest-list":"file://$newList",
         |    "summary":{"operation":"delete"}}},
         |  {"action":"set-snapshot-ref","ref-name":"main","snapshot-id":9999}
         |]}""".stripMargin
    val resp = post("/v1/iceberg/namespaces/db/tables/dv_w", commitBody, Some(token))
    assert(resp.statusCode() == 200, resp.body())

    // graft reads the DV-deleted table exactly
    spark.sql("REFRESH TABLE graftr.db.dv_w")
    assert(spark.sql("SELECT id FROM graftr.db.dv_w ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 4L))
    // and the DV materialized into graft's MOR model under the table root
    val t = graft.table.GraftTable.load(spark, loc)
    assert(t.log.current.deleteFiles.nonEmpty)
    assert(t.log.current.deleteFiles.forall(_.path.contains("dv-")),
      t.log.current.deleteFiles.map(_.path).mkString(","))
    spark.sql("DROP TABLE graftr.db.dv_w")
  }

  test("foreign ALTER TABLE: add-schema + set-current-schema-id through the spec IRC surface") {
    // The reference's promise is full read/write interop (`README.md:2`):
    // a foreign engine's ALTER TABLE arrives as a metadata-only commit
    // carrying add-schema + set-current-schema-id and no snapshot.
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.ice_alter (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graftr.db.ice_alter VALUES (1, 'a'), (2, 'b')")
    val token = oauthRaw()

    val load = JsonMethods.parse(
      get("/v1/iceberg/namespaces/db/tables/ice_alter", token).body())
    val curSnap = (load \ "metadata" \ "current-snapshot-id").extract[Long]
    // current schema + a new "note" column, ids carried over (a real client
    // builds this from the loaded metadata's schema)
    val curSchema = (load \ "metadata" \ "schemas").children
      .find(s => (s \ "schema-id").extractOpt[Int] ==
        (load \ "metadata" \ "current-schema-id").extractOpt[Int]).get
    val maxFieldId = (curSchema \ "fields").children
      .map(f => (f \ "id").extract[Int]).max
    val newFields = JsonMethods.compact(JsonMethods.render(
      (curSchema \ "fields"))).stripSuffix("]") +
      s""",{"id":${maxFieldId + 1},"name":"note","required":false,"type":"string"}]"""
    val alterBody =
      s"""{"requirements":[
         |  {"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$curSnap}],
         |"updates":[
         |  {"action":"add-schema","schema":{"type":"struct","schema-id":-1,"fields":$newFields}},
         |  {"action":"set-current-schema-id","schema-id":-1}
         |]}""".stripMargin
    val resp = post("/v1/iceberg/namespaces/db/tables/ice_alter", alterBody, Some(token))
    assert(resp.statusCode() == 200, resp.body())
    // the response metadata reflects the new current schema
    val meta2 = JsonMethods.parse(resp.body()) \ "metadata"
    val cur2 = (meta2 \ "current-schema-id").extract[Int]
    val names2 = (meta2 \ "schemas").children
      .find(s => (s \ "schema-id").extractOpt[Int].contains(cur2)).get
    assert((names2 \ "fields").children.map(f => (f \ "name").extract[String])
      == List("id", "name", "note"))

    // graft reads the evolved table: old rows null-fill, writes carry it
    spark.sql("REFRESH TABLE graftr.db.ice_alter")
    assert(spark.table("graftr.db.ice_alter").columns.toSeq == Seq("id", "name", "note"))
    spark.sql("INSERT INTO graftr.db.ice_alter VALUES (3, 'c', 'hello')")
    assert(spark.sql(
      "SELECT id, note FROM graftr.db.ice_alter ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, null), (2L, null), (3L, "hello")))
    spark.sql("DROP TABLE graftr.db.ice_alter")
  }

  test("foreign SET PROPERTIES + partition-spec evolution through the spec IRC surface") {
    // Trino `ALTER TABLE SET PROPERTIES` / `partitioning = ARRAY[...]`
    // (reference `main.tf:803-820`) arrives as metadata-only commits with
    // set-properties / remove-properties / add-spec + set-default-spec-id.
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.ice_props (id BIGINT, name STRING, ts TIMESTAMP)")
    spark.sql(
      "INSERT INTO graftr.db.ice_props VALUES (1, 'a', TIMESTAMP '2024-01-01 00:00:00')")
    val token = oauthRaw()
    def headSnap(): Long = (JsonMethods.parse(
      get("/v1/iceberg/namespaces/db/tables/ice_props", token).body())
      \ "metadata" \ "current-snapshot-id").extract[Long]
    def alter(updates: String): HttpResponse[String] =
      post("/v1/iceberg/namespaces/db/tables/ice_props",
        s"""{"requirements":[
           |  {"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":${headSnap()}}],
           |"updates":[$updates]}""".stripMargin, Some(token))

    // set-properties + spec evolution in one commit: day(ts) + bucket[8](id)
    // (source-ids are Iceberg field ids = graft.id + 1 → id=1, ts=3)
    val resp = alter(
      """{"action":"set-properties","updates":{"owner":"trino","commit.retry.num-retries":"4"}},
        |{"action":"add-spec","spec":{"spec-id":-1,"fields":[
        |  {"name":"ts_day","transform":"day","source-id":3,"field-id":1000},
        |  {"name":"id_bucket","transform":"bucket[8]","source-id":1,"field-id":1001}]}},
        |{"action":"set-default-spec-id","spec-id":-1}""".stripMargin)
    assert(resp.statusCode() == 200, resp.body())
    val meta2 = JsonMethods.parse(resp.body()) \ "metadata"
    assert((meta2 \ "properties" \ "owner").extractOpt[String].contains("trino"))

    // the translated spec steers graft's OWN write path from now on
    val log = new graft.table.SnapshotLog(
      Paths.get(server.warehouse, "db", "ice_props").toString)
    assert(log.current.properties.get("write.partition-by")
      .contains("days(ts),iceberg_bucket(8,id)"))
    assert(log.current.properties.get("owner").contains("trino"))

    // remove-properties drops a key; the other survives
    assert(alter(
      """{"action":"remove-properties","removals":["commit.retry.num-retries"]}""")
      .statusCode() == 200)
    assert(!log.current.properties.contains("commit.retry.num-retries"))
    assert(log.current.properties.get("owner").contains("trino"))

    // reserved graft.* provenance keys are server-owned: 400, not applied
    assert(alter(
      """{"action":"set-properties","updates":{"graft.foreign-snapshot-id":"7"}}""")
      .statusCode() == 400)
    // spec referencing an unknown source-id: 400, nothing applied
    assert(alter(
      """{"action":"add-spec","spec":{"spec-id":-1,"fields":[
        |  {"name":"x","transform":"identity","source-id":99,"field-id":1002}]}},
        |{"action":"set-default-spec-id","spec-id":-1}""".stripMargin)
      .statusCode() == 400)
    // add-spec without set-default-spec-id (staged spec): 400, per our
    // retained-state contract
    assert(alter(
      """{"action":"add-spec","spec":{"spec-id":-1,"fields":[]}}""")
      .statusCode() == 400)
    spark.sql("DROP TABLE graftr.db.ice_props")
  }

  test("foreign CREATE/DROP TABLE and namespace DDL through the spec IRC surface") {
    // A Trino-style engine's CREATE TABLE against the catalog (reference
    // `main.tf:803`): spec createNamespace + createTable (schema with the
    // CLIENT's field ids, partition-spec, write-order) → LoadTableResult.
    val token = oauthRaw()
    assert(post("/v1/iceberg/namespaces",
      """{"namespace":["icens"],"properties":{}}""", Some(token)).statusCode() == 200)
    assert(post("/v1/iceberg/namespaces",
      """{"namespace":["icens"]}""", Some(token)).statusCode() == 409)

    val createBody =
      """{"name":"ct","schema":{"type":"struct","schema-id":0,"fields":[
        |  {"id":1,"name":"id","required":true,"type":"long"},
        |  {"id":2,"name":"cat","required":false,"type":"string"},
        |  {"id":3,"name":"ts","required":false,"type":"timestamptz"}]},
        |"partition-spec":{"spec-id":0,"fields":[
        |  {"name":"cat","transform":"identity","source-id":2,"field-id":1000}]},
        |"write-order":{"order-id":1,"fields":[
        |  {"transform":"identity","source-id":1,"direction":"asc","null-order":"nulls-first"}]},
        |"properties":{"owner":"trino"}}""".stripMargin
    val create = post("/v1/iceberg/namespaces/icens/tables", createBody, Some(token))
    assert(create.statusCode() == 200, create.body())
    val meta = JsonMethods.parse(create.body()) \ "metadata"
    assert((meta \ "format-version").extract[Int] == 2)
    // the client's field ids survive the round-trip into served metadata
    val fields = ((meta \ "schemas").children.head \ "fields").children
    assert(fields.map(f => (f \ "id").extract[Int]) == List(1, 2, 3))
    // ...and so does the write-order, re-exported as a true Iceberg sort
    // order (identity on field id 1)
    assert((meta \ "default-sort-order-id").extract[Int] == 1)
    val so = (meta \ "sort-orders").children
      .find(o => (o \ "order-id").extractOpt[Int].contains(1)).get
    assert((so \ "fields").children.map(f => (f \ "source-id").extract[Int]) == List(1))
    assert(post("/v1/iceberg/namespaces/icens/tables", createBody, Some(token))
      .statusCode() == 409)

    // the translated partition-spec + write-order steer graft's write path
    val log = new graft.table.SnapshotLog(
      Paths.get(server.warehouse, "icens", "ct").toString)
    assert(log.current.properties.get("write.partition-by").contains("cat"))
    assert(log.current.properties.get("write.sort-by").contains("id"))
    assert(log.current.properties.get("owner").contains("trino"))

    // graft reads and writes the foreign-created table through its catalog
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql(
      "INSERT INTO graftr.icens.ct VALUES (1, 'a', TIMESTAMP '2024-01-01 00:00:00')")
    assert(spark.sql("SELECT id, cat FROM graftr.icens.ct").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))

    // spec dropTable / dropNamespace; non-empty namespace rejects
    assert(del("/v1/iceberg/namespaces/icens", token).statusCode() == 409)
    // spec default (no purgeRequested) is a METADATA-ONLY drop: the table
    // 404s but its data files survive — a foreign engine's plain DROP TABLE
    // must not silently destroy data (ADVICE r10)
    val ctRoot = Paths.get(server.warehouse, "icens", "ct")
    assert(del("/v1/iceberg/namespaces/icens/tables/ct", token).statusCode() == 204)
    assert(get("/v1/iceberg/namespaces/icens/tables/ct", token).statusCode() == 404)
    assert(java.nio.file.Files.exists(ctRoot.resolve("data")),
      "non-purge dropTable must leave data files in place")
    assert(!java.nio.file.Files.exists(ctRoot.resolve("_graft")),
      "non-purge dropTable must remove the catalog metadata tree")
    // recreate at the same identifier, then an explicit purgeRequested=true
    // takes the whole tree including data
    assert(post("/v1/iceberg/namespaces/icens/tables", createBody, Some(token))
      .statusCode() == 200)
    assert(del("/v1/iceberg/namespaces/icens/tables/ct?purgeRequested=true", token)
      .statusCode() == 204)
    assert(!java.nio.file.Files.exists(ctRoot), "purge drop must delete the table tree")
    assert(del("/v1/iceberg/namespaces/icens", token).statusCode() == 204)
    assert(get("/v1/iceberg/namespaces/icens", token).statusCode() == 404)
  }

  test("desc / nulls-last write-order survives the IRC round-trip intact") {
    // ADVICE r10: orderToSortBy used to silently collapse direction and
    // null-order to asc/nulls-first. Now the SortField suffix encoding
    // carries them through write.sort-by and back out of IcebergExport.
    val token = oauthRaw()
    assert(post("/v1/iceberg/namespaces",
      """{"namespace":["sortns"],"properties":{}}""", Some(token)).statusCode() == 200)
    val body =
      """{"name":"st","schema":{"type":"struct","schema-id":0,"fields":[
        |  {"id":1,"name":"id","required":true,"type":"long"},
        |  {"id":2,"name":"cat","required":false,"type":"string"}]},
        |"write-order":{"order-id":1,"fields":[
        |  {"transform":"identity","source-id":1,"direction":"desc","null-order":"nulls-last"},
        |  {"transform":"identity","source-id":2,"direction":"asc","null-order":"nulls-last"}]},
        |"properties":{}}""".stripMargin
    val create = post("/v1/iceberg/namespaces/sortns/tables", body, Some(token))
    assert(create.statusCode() == 200, create.body())
    val log = new graft.table.SnapshotLog(
      Paths.get(server.warehouse, "sortns", "st").toString)
    assert(log.current.properties.get("write.sort-by")
      .contains("id:desc,cat:asc:nulls-last"))
    // served metadata re-exports the TRUE direction/null-order per field
    val so = ((JsonMethods.parse(create.body()) \ "metadata" \ "sort-orders").children
      .find(o => (o \ "order-id").extractOpt[Int].contains(1)).get \ "fields").children
    assert(so.map(f => ((f \ "direction").extract[String],
      (f \ "null-order").extract[String])) ==
      List(("desc", "nulls-last"), ("asc", "nulls-last")))
    assert(del("/v1/iceberg/namespaces/sortns/tables/st?purgeRequested=true", token)
      .statusCode() == 204)
    assert(del("/v1/iceberg/namespaces/sortns", token).statusCode() == 204)
  }

  test("foreign expire: remove-snapshots through the spec IRC surface") {
    // Iceberg's expireSnapshots emits a metadata-only remove-snapshots
    // commit; the client engine deletes unreferenced data files itself.
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.ice_exp (id BIGINT)")
    spark.sql("INSERT INTO graftr.db.ice_exp VALUES (1)")
    spark.sql("INSERT INTO graftr.db.ice_exp VALUES (2)")
    val token = oauthRaw()
    def snapIds(): Seq[Long] = (JsonMethods.parse(
      get("/v1/iceberg/namespaces/db/tables/ice_exp", token).body())
      \ "metadata" \ "snapshots").children
      .map(s => (s \ "snapshot-id").extract[Long]).sorted
    def expire(ids: Seq[Long]): HttpResponse[String] =
      post("/v1/iceberg/namespaces/db/tables/ice_exp",
        s"""{"requirements":[],"updates":[
           |  {"action":"remove-snapshots","snapshot-ids":[${ids.mkString(",")}]}]}"""
          .stripMargin, Some(token))

    val before = snapIds()
    assert(before.size >= 3, s"expected >=3 snapshots, got $before")
    val head = before.max
    // HEAD is always retained: 400, nothing deleted
    assert(expire(Seq(head)).statusCode() == 400)
    // a non-prefix set (newest non-head only, skipping older) is rejected
    if (before.size > 2)
      assert(expire(Seq(before(before.size - 2))).statusCode() == 400)
    assert(snapIds() == before, "a rejected expire deleted metadata")
    // the exact expirable prefix succeeds; served metadata drops them
    val resp = expire(before.filter(_ != head))
    assert(resp.statusCode() == 200, resp.body())
    assert(snapIds() == Seq(head))
    // graft still reads the surviving table state
    spark.sql("REFRESH TABLE graftr.db.ice_exp")
    assert(spark.sql("SELECT id FROM graftr.db.ice_exp ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // expiry is barred from multi-table transactions: a mid-apply failure
    // could not roll deleted metadata back
    val tx = post("/v1/iceberg/transactions/commit",
      """{"table-changes":[{"identifier":{"namespace":["db"],"name":"ice_exp"},
        |"requirements":[],"updates":[
        |  {"action":"remove-snapshots","snapshot-ids":[9]}]}]}""".stripMargin,
      Some(token))
    assert(tx.statusCode() == 400, s"${tx.statusCode()}: ${tx.body()}")
    spark.sql("DROP TABLE graftr.db.ice_exp")
  }

  test("spec IRC view surface: listViews + loadView serve Iceberg view metadata") {
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.vb1 (id BIGINT, v DOUBLE)")
    spark.sql("CREATE TABLE graftr.db.vb2 (id BIGINT, w DOUBLE)")
    // a view JOINING two graft tables: the analyzer propagates BOTH tables'
    // graft.id field metadata (each starting at 0) into the view schema —
    // the rendered Iceberg schema must re-stamp to unique ids
    spark.sql(
      """CREATE VIEW graftr.db.vjoin AS
        |SELECT a.id AS aid, b.id AS bid, a.v, b.w
        |FROM graftr.db.vb1 a JOIN graftr.db.vb2 b ON a.id = b.id""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE VIEW graftr.db.vjoin AS
        |SELECT a.id AS aid, b.id AS bid, a.v + b.w AS s
        |FROM graftr.db.vb1 a JOIN graftr.db.vb2 b ON a.id = b.id""".stripMargin)
    val token = oauthRaw()

    val list = get("/v1/iceberg/namespaces/db/views", token)
    assert(list.statusCode() == 200, list.body())
    assert((JsonMethods.parse(list.body()) \ "identifiers").children
      .map(i => (i \ "name").extract[String]).contains("vjoin"))

    val resp = get("/v1/iceberg/namespaces/db/views/vjoin", token)
    assert(resp.statusCode() == 200, resp.body())
    val body = JsonMethods.parse(resp.body())
    val metaLoc = (body \ "metadata-location").extract[String]
    assert(metaLoc.startsWith("file://") && metaLoc.endsWith(".metadata.json"))
    val meta = body \ "metadata"
    assert((meta \ "format-version").extract[Int] == 1)
    assert((meta \ "view-uuid").extract[String].nonEmpty)
    // replace appended a version under the same uuid: 2 versions, 2 schemas
    assert((meta \ "current-version-id").extract[Int] == 2)
    val versions = (meta \ "versions").children
    assert(versions.map(v => (v \ "version-id").extract[Int]) == List(1, 2))
    val reps = versions.last \ "representations"
    assert(reps.children.exists(r => (r \ "dialect").extractOpt[String].contains("spark")
      && (r \ "sql").extract[String].toLowerCase.contains("join")))
    // every schema's field ids are unique (the duplicate-id regression)
    (meta \ "schemas").children.foreach { s =>
      val ids = (s \ "fields").children.map(f => (f \ "id").extract[Int])
      assert(ids.distinct.size == ids.size, s"duplicate field ids: $ids")
    }
    // HEAD + 404 behavior
    assert(get("/v1/iceberg/namespaces/db/views/nope", token).statusCode() == 404)
    spark.sql("DROP VIEW graftr.db.vjoin")
    assert(get("/v1/iceberg/namespaces/db/views/vjoin", token).statusCode() == 404)
    spark.sql("DROP TABLE graftr.db.vb1")
    spark.sql("DROP TABLE graftr.db.vb2")
  }

  test("foreign positional-delete commit through the spec IRC surface") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.ice_del (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graftr.db.ice_del VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val token = oauthRaw()

    // 1. load; find a data file and its manifest list
    val load = JsonMethods.parse(
      get("/v1/iceberg/namespaces/db/tables/ice_del", token).body())
    val curSnap = (load \ "metadata" \ "current-snapshot-id").extract[Long]
    val curList = ((load \ "metadata" \ "snapshots").children
      .find(sn => (sn \ "snapshot-id").extract[Long] == curSnap).get \ "manifest-list")
      .extract[String]
    val listFile = new java.io.File(java.net.URI.create(curList).getPath)
    val listRdr = new org.apache.avro.file.DataFileReader[
      org.apache.avro.generic.GenericRecord](listFile,
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val listSchema = listRdr.getSchema
    val existing = try listRdr.iterator().asScala.toList finally listRdr.close()
    val dataManifestPath = existing.find(m =>
      String.valueOf(m.get("content")) == "0").map(m =>
      java.net.URI.create(String.valueOf(m.get("manifest_path"))).getPath).get
    val mRdr = new org.apache.avro.file.DataFileReader[
      org.apache.avro.generic.GenericRecord](new java.io.File(dataManifestPath),
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val firstDataFile = try {
      mRdr.iterator().asScala.toList.map(e =>
        String.valueOf(e.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord].get("file_path")))
        .minBy(identity)
    } finally mRdr.close()

    // which row is physically first in that file? (positional deletes
    // target (path, row ordinal))
    val victim = spark.read.parquet(java.net.URI.create(firstDataFile).getPath)
      .limit(1).collect()(0).getLong(0)

    // 2. the foreign engine writes a positional-delete parquet (spec
    // column names file_path/pos) and a delete manifest (content=1)
    val scratch = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ice-del-").toAbsolutePath.toString
    Seq((firstDataFile, 0L)).toDF("file_path", "pos")
      .coalesce(1).write.parquet(s"$scratch/d")
    val delParquet = new java.io.File(s"$scratch/d").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
        .stripMargin.replace("\n", ""))
    val dfr = new org.apache.avro.generic.GenericData.Record(
      entrySchema.getField("data_file").schema())
    dfr.put("content", 1)
    dfr.put("file_path", s"file://$delParquet")
    dfr.put("file_format", "PARQUET")
    dfr.put("record_count", 1L)
    dfr.put("file_size_in_bytes", new java.io.File(delParquet).length())
    val ent = new org.apache.avro.generic.GenericData.Record(entrySchema)
    ent.put("status", 1)
    ent.put("data_file", dfr)
    val delManifest = s"$scratch/m-del.avro"
    locally {
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](entrySchema))
      w.create(entrySchema, new java.io.File(delManifest))
      try w.append(ent) finally w.close()
    }

    // 3. new manifest list = existing entries + the delete manifest
    val mf = new org.apache.avro.generic.GenericData.Record(listSchema)
    mf.put("manifest_path", s"file://$delManifest")
    mf.put("manifest_length", new java.io.File(delManifest).length())
    mf.put("partition_spec_id", 0)
    mf.put("content", 1)
    mf.put("sequence_number", 0L)
    mf.put("min_sequence_number", 0L)
    mf.put("added_snapshot_id", 7777L)
    mf.put("added_files_count", 1); mf.put("existing_files_count", 0)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", 1L); mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", 0L)
    val newList = s"$scratch/snap-7777-list.avro"
    locally {
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](listSchema))
      w.create(listSchema, new java.io.File(newList))
      try { existing.foreach(w.append); w.append(mf) } finally w.close()
    }

    // 4. spec delete commit
    val commitBody =
      s"""{"requirements":[
         |  {"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$curSnap}],
         |"updates":[
         |  {"action":"add-snapshot","snapshot":{
         |    "snapshot-id":7777,"timestamp-ms":1700000002000,
         |    "manifest-list":"file://$newList",
         |    "summary":{"operation":"delete"}}},
         |  {"action":"set-snapshot-ref","ref-name":"main","snapshot-id":7777}
         |]}""".stripMargin
    val resp = post("/v1/iceberg/namespaces/db/tables/ice_del", commitBody, Some(token))
    assert(resp.statusCode() == 200, resp.body())

    // graft applies the foreign delete: the victim row is gone, others stay
    spark.sql("REFRESH TABLE graftr.db.ice_del")
    assert(spark.sql("SELECT id FROM graftr.db.ice_del ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L).filterNot(_ == victim),
      s"victim $victim should be deleted")
    val hist = spark.sql(
      "SELECT operation FROM graftr.db.`ice_del$history` ORDER BY version DESC LIMIT 1")
      .collect()(0).getString(0)
    assert(hist == "delete")
    spark.sql("DROP TABLE graftr.db.ice_del")
  }

  test("foreign spec commit on a table carrying an equality delete keeps the delete biting") {
    // Regression for the relative-warehouse key-matching bug: icebergCommit
    // used to key carried-over files against the VERBATIM root while the
    // exported manifests carry absolutized URIs, so with a relative
    // warehouse (exactly this suite's layout) every carried data file
    // re-entered as "new" with a reset sequence number — older equality
    // deletes then stopped covering them and deleted rows resurfaced after
    // ANY foreign commit. Carried files must keep their graft identity.
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.ice_eq (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graftr.db.ice_eq VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val token = oauthRaw()

    // an equality delete registered the CDC-writer way (no data rewrite)
    val loc = (JsonMethods.parse(
      get("/v1/namespaces/db/tables/ice_eq", token).body()) \ "location").extract[String]
    graft.table.GraftTable.load(spark, loc).deleteByEquality(Seq(2L).toDF("id"))
    spark.sql("REFRESH TABLE graftr.db.ice_eq")
    assert(spark.sql("SELECT id FROM graftr.db.ice_eq ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))

    // a foreign writer appends through the spec IRC surface
    val (_, commitBody) = buildSpecAppendBody(token, "ice_eq", Seq((4L, "d")))
    val resp = post("/v1/iceberg/namespaces/db/tables/ice_eq", commitBody, Some(token))
    assert(resp.statusCode() == 200, resp.body())

    // the equality delete still covers the pre-delete data files, and the
    // foreign row (appended AFTER the delete) is untouched by it
    spark.sql("REFRESH TABLE graftr.db.ice_eq")
    assert(spark.sql("SELECT id FROM graftr.db.ice_eq ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L),
      "an equality-deleted row resurfaced after a foreign spec commit")
    spark.sql("DROP TABLE graftr.db.ice_eq")
  }

  /** Wrap a single-table commit body as one entry of a spec
    * CommitTransactionRequest's `table-changes`. */
  private def txChange(table: String, commitBody: String): String =
    s"""{"identifier":{"namespace":["db"],"name":"$table"},""" +
      commitBody.trim.stripPrefix("{")

  test("spec commitTransaction applies a multi-table commit atomically") {
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.tx_a (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graftr.db.tx_a VALUES (1, 'a')")
    spark.sql("CREATE TABLE graftr.db.tx_b (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graftr.db.tx_b VALUES (10, 'x')")
    val token = oauthRaw()

    // one transaction appending to BOTH tables (fact + summary publish)
    val (_, bodyA) = buildSpecAppendBody(token, "tx_a", Seq((2L, "b")))
    val (snapB, bodyB) = buildSpecAppendBody(token, "tx_b", Seq((11L, "y")))
    val resp = post("/v1/iceberg/transactions/commit",
      s"""{"table-changes":[${txChange("tx_a", bodyA)},${txChange("tx_b", bodyB)}]}""",
      Some(token))
    assert(resp.statusCode() == 204, s"${resp.statusCode()}: ${resp.body()}")
    spark.sql("REFRESH TABLE graftr.db.tx_a")
    spark.sql("REFRESH TABLE graftr.db.tx_b")
    assert(spark.sql("SELECT id FROM graftr.db.tx_a ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(spark.sql("SELECT id FROM graftr.db.tx_b ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(10L, 11L))

    // a STALE requirement on ANY table rejects the WHOLE transaction before
    // any side effect: bodyB still pins tx_b's PRE-commit snapshot ($snapB)
    val (_, freshA) = buildSpecAppendBody(token, "tx_a", Seq((3L, "c")))
    val conflict = post("/v1/iceberg/transactions/commit",
      s"""{"table-changes":[${txChange("tx_a", freshA)},${txChange("tx_b", bodyB)}]}""",
      Some(token))
    assert(conflict.statusCode() == 409, s"${conflict.statusCode()}: ${conflict.body()}")
    spark.sql("REFRESH TABLE graftr.db.tx_a")
    spark.sql("REFRESH TABLE graftr.db.tx_b")
    assert(spark.sql("SELECT count(*) FROM graftr.db.tx_a").collect()(0).getLong(0) == 2,
      "a table change from a rejected transaction was applied")
    assert(spark.sql("SELECT count(*) FROM graftr.db.tx_b").collect()(0).getLong(0) == 2)

    // a mid-apply failure (update validation happens per table, AFTER
    // earlier tables applied) unwinds the applied prefix: tx_a must roll
    // back when tx_b's change carries an unsupported update action
    val (_, freshA2) = buildSpecAppendBody(token, "tx_a", Seq((4L, "d")))
    val (_, freshB2) = buildSpecAppendBody(token, "tx_b", Seq((12L, "z")))
    val badB = txChange("tx_b", freshB2.replace("\"updates\":[",
      "\"updates\":[{\"action\":\"remove-snapshots\",\"snapshot-ids\":[1]},"))
    val halfFail = post("/v1/iceberg/transactions/commit",
      s"""{"table-changes":[${txChange("tx_a", freshA2)},$badB]}""", Some(token))
    assert(halfFail.statusCode() == 400, s"${halfFail.statusCode()}: ${halfFail.body()}")
    spark.sql("REFRESH TABLE graftr.db.tx_a")
    assert(spark.sql("SELECT id FROM graftr.db.tx_a ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "applied prefix of a failed transaction was not rolled back")

    // the rolled-back table accepts future commits (fenced head, clean CAS)
    val (_, freshA3) = buildSpecAppendBody(token, "tx_a", Seq((5L, "e")))
    assert(post("/v1/iceberg/namespaces/db/tables/tx_a", freshA3, Some(token))
      .statusCode() == 200)
    spark.sql("REFRESH TABLE graftr.db.tx_a")
    assert(spark.sql("SELECT id FROM graftr.db.tx_a ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L))

    // unknown table → 404, nothing applied
    val (_, freshA4) = buildSpecAppendBody(token, "tx_a", Seq((6L, "f")))
    assert(post("/v1/iceberg/transactions/commit",
      s"""{"table-changes":[${txChange("tx_a", freshA4)},${txChange("tx_nope", freshA4)}]}""",
      Some(token)).statusCode() == 404)
    spark.sql("REFRESH TABLE graftr.db.tx_a")
    assert(spark.sql("SELECT count(*) FROM graftr.db.tx_a").collect()(0).getLong(0) == 3)

    spark.sql("DROP TABLE graftr.db.tx_a")
    spark.sql("DROP TABLE graftr.db.tx_b")
  }

  test("foreign createView / view commit / dropView through the spec IRC surface") {
    // The write half of the UC-serves-views role (reference `main.tf:809-820`:
    // Trino creating views other engines then read): a foreign engine with
    // nothing but HTTP+JSON creates a view, graft SELECTs it, the foreign
    // engine replaces it through the spec view commit (arbitrated by the
    // SAME ViewStore CAS graft's CREATE OR REPLACE VIEW uses), and drops it.
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.fvt (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graftr.db.fvt VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    val token = oauthRaw()

    val schema2 =
      """{"type":"struct","schema-id":0,"fields":[
        |{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"v","required":false,"type":"double"}]}""".stripMargin
    val created = post("/v1/iceberg/namespaces/db/views",
      s"""{"name":"fview","schema":$schema2,
         |"view-version":{"version-id":1,"timestamp-ms":1723600000000,
         |  "schema-id":0,"summary":{"engine-name":"foreign"},
         |  "representations":[{"type":"sql",
         |    "sql":"SELECT id, v FROM fvt WHERE id > 1","dialect":"spark"}],
         |  "default-catalog":"graftr","default-namespace":["db"]},
         |"properties":{"comment":"made by a foreign engine"}}""".stripMargin,
      Some(token))
    assert(created.statusCode() == 200, s"${created.statusCode()}: ${created.body()}")
    val cMeta = JsonMethods.parse(created.body()) \ "metadata"
    val uuid = (cMeta \ "view-uuid").extract[String]
    assert(uuid.nonEmpty && (cMeta \ "current-version-id").extract[Int] == 1)

    // duplicate create loses the exclusive-create and 409s
    assert(post("/v1/iceberg/namespaces/db/views",
      s"""{"name":"fview","schema":$schema2,
         |"view-version":{"version-id":1,"representations":[
         |  {"type":"sql","sql":"SELECT 1","dialect":"spark"}]}}""".stripMargin,
      Some(token)).statusCode() == 409)

    // graft reads the FOREIGN-created view through its normal SELECT path:
    // the SQL text re-resolves late-bound against default-catalog/namespace
    assert(spark.sql("SELECT id FROM graftr.db.fview ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))

    // spec view commit: replace the definition (add-schema + add-view-version
    // + set-current-view-version -1), guarded by assert-view-uuid
    val schema1 =
      """{"type":"struct","schema-id":7,"fields":[
        |{"id":1,"name":"total","required":false,"type":"double"}]}""".stripMargin
    def replaceBody(assertUuid: String) =
      s"""{"requirements":[{"type":"assert-view-uuid","uuid":"$assertUuid"}],
         |"updates":[
         |  {"action":"add-schema","schema":$schema1},
         |  {"action":"add-view-version","view-version":{"version-id":2,
         |    "timestamp-ms":1723600001000,"schema-id":7,"summary":{},
         |    "representations":[{"type":"sql",
         |      "sql":"SELECT sum(v) AS total FROM fvt","dialect":"spark"}],
         |    "default-catalog":"graftr","default-namespace":["db"]}},
         |  {"action":"set-current-view-version","view-version-id":-1}
         |]}""".stripMargin
    // wrong uuid: the requirement rejects the commit, nothing changes
    assert(post("/v1/iceberg/namespaces/db/views/fview",
      replaceBody("00000000-0000-0000-0000-000000000000"), Some(token))
      .statusCode() == 409)
    val replaced = post("/v1/iceberg/namespaces/db/views/fview",
      replaceBody(uuid), Some(token))
    assert(replaced.statusCode() == 200, s"${replaced.statusCode()}: ${replaced.body()}")
    val rMeta = JsonMethods.parse(replaced.body()) \ "metadata"
    // history preserved under the same uuid, current advanced
    assert((rMeta \ "view-uuid").extract[String] == uuid)
    assert((rMeta \ "current-version-id").extract[Int] == 2)
    assert((rMeta \ "versions").children.map(v => (v \ "version-id").extract[Int])
      == List(1, 2))
    assert(spark.sql("SELECT total FROM graftr.db.fview").collect()(0).getDouble(0)
      == 7.5)

    // property-only commit: ALTER VIEW semantics, no version advance
    val propped = post("/v1/iceberg/namespaces/db/views/fview",
      """{"updates":[{"action":"set-properties","updates":{"owner":"trino"}},
        |{"action":"remove-properties","removals":["comment"]}]}""".stripMargin,
      Some(token))
    assert(propped.statusCode() == 200, propped.body())
    val pMeta = JsonMethods.parse(propped.body()) \ "metadata"
    assert((pMeta \ "current-version-id").extract[Int] == 2)
    assert((pMeta \ "properties" \ "owner").extract[String] == "trino")
    assert((pMeta \ "properties" \ "comment").extractOpt[String].isEmpty)

    // unsupported update action 400s the whole commit all-or-nothing
    assert(post("/v1/iceberg/namespaces/db/views/fview",
      """{"updates":[{"action":"set-location","location":"/elsewhere"}]}""",
      Some(token)).statusCode() == 400)

    // spec dropView: gone from graft and from the spec surface
    assert(del("/v1/iceberg/namespaces/db/views/fview", token).statusCode() == 204)
    assert(get("/v1/iceberg/namespaces/db/views/fview", token).statusCode() == 404)
    assert(intercept[Exception](
      spark.sql("SELECT * FROM graftr.db.fview")).getMessage.toLowerCase
      .contains("fview"))
    assert(del("/v1/iceberg/namespaces/db/views/fview", token).statusCode() == 404)
    spark.sql("DROP TABLE graftr.db.fvt")
  }

  test("spec renameTable moves the table with its whole history; renameView keeps versions") {
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.rt (id BIGINT)")
    spark.sql("INSERT INTO graftr.db.rt VALUES (1), (2)")
    spark.sql("INSERT INTO graftr.db.rt VALUES (3)")
    val token = oauthRaw()

    def renameReq(kind: String, from: String, to: String) = post(
      s"/v1/iceberg/$kind/rename",
      s"""{"source":{"namespace":["db"],"name":"$from"},
         |"destination":{"namespace":["db"],"name":"$to"}}""".stripMargin,
      Some(token))

    assert(renameReq("tables", "nope", "rt2").statusCode() == 404)
    assert(renameReq("tables", "rt", "rt").statusCode() == 409) // dest exists
    assert(renameReq("tables", "rt", "rt2").statusCode() == 204)

    // the RENAMED table serves its full pre-rename history: data, snapshot
    // lineage, and time travel all walk the moved snapshot log
    assert(spark.sql("SELECT id FROM graftr.db.rt2 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(spark.sql("SELECT operation FROM graftr.db.`rt2$history` ORDER BY version")
      .collect().map(_.getString(0)).toSeq == Seq("create", "append", "append"))
    assert(spark.sql("SELECT count(*) FROM graftr.db.rt2 VERSION AS OF 1")
      .collect()(0).getLong(0) == 2)
    // the old name is gone
    assert(get("/v1/iceberg/namespaces/db/tables/rt", token).statusCode() == 404)
    // and the moved table keeps accepting commits
    spark.sql("INSERT INTO graftr.db.rt2 VALUES (4)")
    assert(spark.sql("SELECT count(*) FROM graftr.db.rt2").collect()(0).getLong(0) == 4)

    // view rename: version history travels with the file
    spark.sql("CREATE VIEW graftr.db.rv AS SELECT id FROM graftr.db.rt2")
    spark.sql("CREATE OR REPLACE VIEW graftr.db.rv AS SELECT id * 10 AS id10 FROM graftr.db.rt2")
    assert(renameReq("views", "rv", "rv2").statusCode() == 204)
    assert(get("/v1/iceberg/namespaces/db/views/rv", token).statusCode() == 404)
    val meta = JsonMethods.parse(
      get("/v1/iceberg/namespaces/db/views/rv2", token).body()) \ "metadata"
    assert((meta \ "current-version-id").extract[Int] == 2)
    assert(spark.sql("SELECT max(id10) FROM graftr.db.rv2").collect()(0).getLong(0) == 40)

    spark.sql("DROP VIEW graftr.db.rv2")
    spark.sql("DROP TABLE graftr.db.rt2")
  }

  test("spec registerTable: an exported Iceberg table registers with full history") {
    // migration-in over the wire: graft exports REAL Iceberg v2 metadata,
    // a foreign engine POSTs just the metadata location to /register, and
    // the catalog replays the snapshot chain — rows, lineage, and time
    // travel all work on the registered name. No data was copied.
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE graftr.db.regsrc (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graftr.db.regsrc VALUES (1, 1.0), (2, 2.0)")
    spark.sql("INSERT INTO graftr.db.regsrc VALUES (3, 3.0)")
    val token = oauthRaw()
    val srcRoot = (JsonMethods.parse(
      get("/v1/namespaces/db/tables/regsrc", token).body()) \ "location").extract[String]
    val metaJson = graft.table.GraftTable.load(spark, srcRoot)
      .exportIcebergMetadata(java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "reg-ice-").toString)

    def registerReq(name: String) = post("/v1/iceberg/namespaces/db/register",
      s"""{"name":"$name","metadata-location":"$metaJson"}""", Some(token))
    val resp = registerReq("regdst")
    assert(resp.statusCode() == 200, s"${resp.statusCode()}: ${resp.body()}")
    assert((JsonMethods.parse(resp.body()) \ "metadata" \ "current-snapshot-id")
      .extractOpt[Long].nonEmpty)
    // the registered table serves the same rows...
    assert(spark.sql("SELECT id FROM graftr.db.regdst ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // ...and the replayed history: the version before head is the state
    // after the FIRST append (the replayed chain also carries the SQL
    // CREATE's empty snapshot, so anchor on head-1 rather than v1)
    val dstRoot = (JsonMethods.parse(
      get("/v1/namespaces/db/tables/regdst", token).body()) \ "location").extract[String]
    val head = graft.table.GraftTable.load(spark, dstRoot).log.currentVersion
    assert(spark.sql(s"SELECT count(*) FROM graftr.db.regdst VERSION AS OF ${head - 1}")
      .collect()(0).getLong(0) == 2)
    // existing name -> 409; bad location -> error, no half-registered table
    assert(registerReq("regdst").statusCode() == 409)
    assert(post("/v1/iceberg/namespaces/db/register",
      """{"name":"regbad","metadata-location":"/nope/metadata.json"}""",
      Some(token)).statusCode() >= 400)
    assert(get("/v1/iceberg/namespaces/db/tables/regbad", token).statusCode() == 404)
    spark.sql("DROP TABLE graftr.db.regsrc")
    spark.sql("DROP TABLE graftr.db.regdst")
  }

  test("spec error bodies: ErrorModel {message,type,code} on 404 and 409") {
    val token = oauthRaw()
    // 404: missing table through the spec surface
    val notFound = get("/v1/iceberg/namespaces/db/tables/definitely_not_here", token)
    assert(notFound.statusCode() == 404, notFound.body())
    val e404 = JsonMethods.parse(notFound.body()) \ "error"
    assert((e404 \ "type").extract[String] == "NoSuchTableException", notFound.body())
    assert((e404 \ "code").extract[Int] == 404)
    assert((e404 \ "message").extract[String].nonEmpty)
    // 409: creating an existing namespace through the spec surface
    post("/v1/iceberg/namespaces", """{"namespace":["errns"]}""", Some(token))
    val conflict = post("/v1/iceberg/namespaces",
      """{"namespace":["errns"]}""", Some(token))
    assert(conflict.statusCode() == 409, conflict.body())
    val e409 = JsonMethods.parse(conflict.body()) \ "error"
    assert((e409 \ "code").extract[Int] == 409)
    assert((e409 \ "type").extract[String].nonEmpty)
    // 400: malformed request body
    val bad = post("/v1/iceberg/namespaces", """{"nope":true}""", Some(token))
    assert(bad.statusCode() == 400, bad.body())
    assert((JsonMethods.parse(bad.body()) \ "error" \ "type")
      .extract[String] == "BadRequestException")
    del("/v1/iceberg/namespaces/errns", token)
  }

  test("loadTable ETag revalidation: 304 on If-None-Match; new tag after a commit") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE IF NOT EXISTS graftr.db.etagt (id BIGINT)")
    spark.sql("INSERT INTO graftr.db.etagt VALUES (1)")
    val token = oauthRaw()
    val first = get("/v1/iceberg/namespaces/db/tables/etagt", token)
    assert(first.statusCode() == 200)
    val etag = first.headers().firstValue("ETag").orElse("")
    val metaLoc = (JsonMethods.parse(first.body()) \ "metadata-location").extract[String]
    assert(etag == metaLoc, s"ETag must be the metadata location: $etag vs $metaLoc")
    // revalidate: unchanged table -> 304, no body
    val http2 = java.net.http.HttpClient.newHttpClient()
    val revalidated = http2.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"${server.uri}/v1/iceberg/namespaces/db/tables/etagt"))
      .header("Authorization", s"Bearer $token")
      .header("If-None-Match", etag).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(revalidated.statusCode() == 304, revalidated.body())
    // a commit moves the metadata location -> stale tag gets a fresh 200
    spark.sql("INSERT INTO graftr.db.etagt VALUES (2)")
    val after = http2.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"${server.uri}/v1/iceberg/namespaces/db/tables/etagt"))
      .header("Authorization", s"Bearer $token")
      .header("If-None-Match", etag).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(after.statusCode() == 200)
    val newLoc = (JsonMethods.parse(after.body()) \ "metadata-location").extract[String]
    assert(newLoc != metaLoc, "metadata-location must move on commit")
    assert(after.headers().firstValue("ETag").orElse("") == newLoc)
    spark.sql("DROP TABLE graftr.db.etagt")
  }

  test("spec reportMetrics: scan reports acknowledged with 204, bad envelope 400, absent table 404") {
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("CREATE TABLE IF NOT EXISTS graftr.db.metr (id BIGINT) USING graft")
    val token = oauthRaw()
    // the shape Iceberg's Spark client POSTs after a scan (fields beyond
    // report-type are engine-specific; the server treats them as advisory)
    val report =
      """{"report-type":"scan-report","table-name":"db.metr","snapshot-id":1,
        |"filter":true,"schema-id":0,"projected-field-ids":[1],
        |"projected-field-names":["id"],"metrics":{}}""".stripMargin
    assert(post("/v1/iceberg/namespaces/db/tables/metr/metrics", report,
      Some(token)).statusCode() == 204)
    assert(post("/v1/iceberg/namespaces/db/tables/metr/metrics",
      """{"metrics":{}}""", Some(token)).statusCode() == 400)
    assert(post("/v1/iceberg/namespaces/db/tables/nope/metrics", report,
      Some(token)).statusCode() == 404)
  }

  test("spec scan planning: server prunes files by stats and scopes delete files by sequence") {
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("DROP TABLE IF EXISTS graftr.db.plant")
    spark.sql("CREATE TABLE graftr.db.plant (id BIGINT, v STRING) USING graft")
    // three separate commits -> three files with disjoint id ranges
    spark.sql("INSERT INTO graftr.db.plant VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graftr.db.plant VALUES (10, 'c'), (11, 'd')")
    spark.sql("INSERT INTO graftr.db.plant VALUES (20, 'e'), (21, 'f')")
    val token = oauthRaw()
    def plan(body: String): JValue = {
      val resp = post("/v1/iceberg/namespaces/db/tables/plant/plan", body, Some(token))
      assert(resp.statusCode() == 200, resp.body())
      JsonMethods.parse(resp.body())
    }

    def taskRows(p: JValue): Set[Long] = (p \ "file-scan-tasks").children.flatMap { task =>
      spark.read.parquet((task \ "data-file" \ "file-path").extract[String])
        .collect().map(_.getLong(0))
    }.toSet
    // unfiltered: every row reachable through the returned tasks
    val all = plan("""{}""")
    assert((all \ "plan-status").extract[String] == "completed")
    assert(taskRows(all) == Set(1L, 2L, 10L, 11L, 20L, 21L))
    val allN = (all \ "file-scan-tasks").children.size

    // id > 15: min/max bounds exclude every low-range file, and the
    // surviving tasks still cover all matching rows
    val gt = plan("""{"filter":{"type":"gt","term":"id","value":15}}""")
    val gtN = (gt \ "file-scan-tasks").children.size
    assert(gtN < allN, s"no pruning happened ($gtN of $allN tasks)")
    assert(taskRows(gt) == Set(20L, 21L))
    val task0 = (gt \ "file-scan-tasks").children.head
    assert((task0 \ "data-file" \ "content").extract[String] == "data")
    assert((task0 \ "data-file" \ "record-count").extract[Long] >= 1L)

    // AND with an unparseable side still prunes on the parseable side;
    // OR with an unparseable side returns everything (conservative)
    val and = plan("""{"filter":{"type":"and",
      |"left":{"type":"gt","term":"id","value":15},
      |"right":{"type":"not-null","term":"v"}}}""".stripMargin)
    assert((and \ "file-scan-tasks").children.size == gtN)
    val or = plan("""{"filter":{"type":"or",
      |"left":{"type":"gt","term":"id","value":15},
      |"right":{"type":"not-null","term":"v"}}}""".stripMargin)
    assert((or \ "file-scan-tasks").children.size == allN)

    // literal false: nothing to scan
    assert((plan("""{"filter":{"type":"false"}}""") \ "file-scan-tasks").children.isEmpty)

    // a type-mismatched literal is the CLIENT's error (400), not a 500
    assert(post("/v1/iceberg/namespaces/db/tables/plant/plan",
      """{"filter":{"type":"gt","term":"id","value":"abc"}}""",
      Some(token)).statusCode() == 400)

    // equality-delete scoping: delete bites files committed BEFORE it only.
    // (MOR delete via the table API so no compaction folds it in)
    val loc = (JsonMethods.parse(
      get("/v1/namespaces/db/tables/plant", token).body()) \ "location").extract[String]
    val t = graft.table.GraftTable.load(spark, loc)
    t.deleteByEquality(Seq(Tuple1(10L)).toDF("id")) // seq N
    spark.sql("INSERT INTO graftr.db.plant VALUES (30, 'g')") // seq N+1, after the delete
    val mor = plan("""{}""")
    val dels = (mor \ "delete-files").children
    assert(dels.size == 1 &&
      (dels.head \ "content").extract[String] == "equality-deletes", dels)
    assert((dels.head \ "equality-ids").extract[Seq[Int]].nonEmpty)
    val byMinId = (mor \ "file-scan-tasks").children.map { task =>
      val p = (task \ "data-file" \ "file-path").extract[String]
      val refs = (task \ "delete-file-references").extract[Seq[Int]]
      (spark.read.parquet(p).collect().map(_.getLong(0)).min, refs)
    }.toMap
    // every file committed BEFORE the delete references it...
    Seq(1L, 2L, 10L, 11L, 20L, 21L).map(k => byMinId.keys.filter(_ <= k).max)
      .distinct.foreach(k => assert(byMinId(k) == Seq(0), s"$k -> $byMinId"))
    // ...the file committed AFTER it is out of scope
    assert(byMinId(30L) == Seq(), byMinId)

    // the client leg: planScan surfaces the same pruning + scoping as
    // typed tasks (engine-side consumption of server planning)
    val client = new graft.rest.RestCatalogClient(server.uri, Some("engine-a:secret-a"), None)
    val planned = client.planScan(Seq("db"), "plant",
      Some("""{"type":"gt","term":"id","value":15}"""))
    val rowsOf = planned.map(t =>
      spark.read.parquet(t.dataFile).collect().map(_.getLong(0)).min -> t).toMap
    assert(rowsOf.keySet.flatMap(k =>
      spark.read.parquet(rowsOf(k).dataFile).collect().map(_.getLong(0))) ==
      Set(20L, 21L, 30L))
    rowsOf.foreach { case (minId, t) =>
      if (minId < 30L) assert(t.equalityDeletes.size == 1, s"$minId: $t")
      else assert(t.equalityDeletes.isEmpty, s"$minId: $t")
      assert(t.positionDeletes.isEmpty)
    }
  }

  test("spec plan-task pagination: bounded pages concatenate to the one-shot plan") {
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("DROP TABLE IF EXISTS graftr.db.pageplan")
    spark.sql("CREATE TABLE graftr.db.pageplan (id BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graftr.db.pageplan VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graftr.db.pageplan VALUES (10, 'c'), (11, 'd')")
    spark.sql("INSERT INTO graftr.db.pageplan VALUES (20, 'e'), (21, 'f')")
    // an equality delete so every PAGE must carry its own delete-files
    // array (task references index into the same response)
    val loc = (JsonMethods.parse(
      get("/v1/namespaces/db/tables/pageplan", oauthRaw()).body()) \ "location")
      .extract[String]
    graft.table.GraftTable.load(spark, loc)
      .deleteByEquality(Seq(Tuple1(10L)).toDF("id"))

    // a page-limited server over the SAME warehouse (planPageSize=1 forces
    // one task per response; the production default is 10k)
    val paged = new graft.rest.RestCatalogServer(server.warehouse,
      Map("engine-a" -> "secret-a"), planPageSize = 1).start()
    try {
      val tokResp = http.send(HttpRequest.newBuilder(
          URI.create(s"${paged.uri}/v1/oauth/tokens"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(
          "grant_type=client_credentials&client_id=engine-a&client_secret=secret-a"))
        .build(), HttpResponse.BodyHandlers.ofString())
      val ptok = (JsonMethods.parse(tokResp.body()) \ "access_token").extract[String]
      def ppost(path: String, body: String): HttpResponse[String] =
        http.send(HttpRequest.newBuilder(URI.create(s"${paged.uri}$path"))
          .header("Content-Type", "application/json")
          .header("Authorization", s"Bearer $ptok")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())

      // raw drive of the paging protocol
      val first = ppost("/v1/iceberg/namespaces/db/tables/pageplan/plan", "{}")
      assert(first.statusCode() == 200, first.body())
      val fj = JsonMethods.parse(first.body())
      assert((fj \ "plan-status").extract[String] == "completed")
      assert((fj \ "file-scan-tasks").children.size == 1, "page size 1 not honored")
      assert((fj \ "plan-tasks").extract[Seq[String]].size == 1)
      val pagesSeen = scala.collection.mutable.ListBuffer.empty[JValue]
      pagesSeen += fj
      var pending = (fj \ "plan-tasks").extract[Seq[String]].toList
      while (pending.nonEmpty) {
        val page = ppost("/v1/iceberg/namespaces/db/tables/pageplan/tasks",
          s"""{"plan-task":"${pending.head}"}""")
        assert(page.statusCode() == 200, page.body())
        val pj = JsonMethods.parse(page.body())
        pagesSeen += pj
        pending = pending.tail ++ (pj \ "plan-tasks").extractOpt[Seq[String]].getOrElse(Nil)
        assert(pagesSeen.size <= 10, "runaway plan pagination")
      }
      def paths(j: JValue): Seq[String] = (j \ "file-scan-tasks").children
        .map(t => (t \ "data-file" \ "file-path").extract[String])
      val concat = pagesSeen.flatMap(paths)
      // concatenated pages == the single-response plan from the unpaged server
      val one = JsonMethods.parse(
        post("/v1/iceberg/namespaces/db/tables/pageplan/plan", "{}",
          Some(oauthRaw())).body())
      assert(concat.sorted == paths(one).sorted, s"$concat vs ${paths(one)}")
      assert(concat.size == concat.distinct.size, "a file appeared on two pages")
      // every page that references a delete resolves it in ITS OWN body
      pagesSeen.foreach { pj =>
        val dels = (pj \ "delete-files").children
        (pj \ "file-scan-tasks").children.foreach { t =>
          (t \ "delete-file-references").extract[Seq[Int]].foreach(i =>
            assert(i >= 0 && i < dels.size, s"dangling delete ref $i in $pj"))
        }
      }

      // garbage / tampered tokens are the CLIENT's error, not a 500
      Seq("not-base64!", java.util.Base64.getUrlEncoder.encodeToString(
        """{"s":"x","o":-1}""".getBytes("UTF-8"))).foreach { bad =>
        val r = ppost("/v1/iceberg/namespaces/db/tables/pageplan/tasks",
          s"""{"plan-task":"$bad"}""")
        assert(r.statusCode() == 400, s"${r.statusCode()} ${r.body()}")
      }

      // the client leg drains pages transparently: same tasks either way
      val small = new graft.rest.RestCatalogClient(paged.uri, Some("engine-a:secret-a"), None)
      val big = new graft.rest.RestCatalogClient(server.uri, Some("engine-a:secret-a"), None)
      val viaPages = small.planScan(Seq("db"), "pageplan")
      assert(viaPages.toSet == big.planScan(Seq("db"), "pageplan").toSet)
      assert(viaPages.size == concat.size) // one task per committed data file
    } finally paged.stop()
  }

  test("plan cache evicts on drop/recreate: no stale file list at a reused root") {
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("DROP TABLE IF EXISTS graftr.db.replan")
    spark.sql("CREATE TABLE graftr.db.replan (id BIGINT) USING graft")
    spark.sql("INSERT INTO graftr.db.replan VALUES (1), (2)")
    val token = oauthRaw()
    def planPaths(): Set[String] = {
      val resp = post("/v1/iceberg/namespaces/db/tables/replan/plan", "{}", Some(token))
      assert(resp.statusCode() == 200, resp.body())
      (JsonMethods.parse(resp.body()) \ "file-scan-tasks").children
        .map(t => (t \ "data-file" \ "file-path").extract[String]).toSet
    }
    val oldPaths = planPaths() // warms the (root, version, filter) cache
    assert(oldPaths.nonEmpty)
    // spec metadata-only drop: data files SURVIVE on disk, so a stale
    // cached plan would keep resolving — the dangerous case
    assert(del("/v1/iceberg/namespaces/db/tables/replan", token).statusCode() == 204)
    spark.sql("CREATE TABLE graftr.db.replan (id BIGINT) USING graft")
    spark.sql("INSERT INTO graftr.db.replan VALUES (30), (31)")
    // version numbering restarted, so without eviction this request hits
    // the FIRST incarnation's cache entry and serves its old files
    val newPaths = planPaths()
    assert(newPaths.nonEmpty && newPaths.intersect(oldPaths).isEmpty,
      s"stale plan served: $newPaths overlaps $oldPaths")
    val rows = newPaths.flatMap(p => spark.read.parquet(p).collect().map(_.getLong(0)))
    assert(rows == Set(30L, 31L), rows)
  }

  test("plan cache: eviction mid-drain stays correct, and a bypassing engine's drop/recreate is revalidated") {
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    Seq("evct1", "evct2").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS graftr.db.$t")
      spark.sql(s"CREATE TABLE graftr.db.$t (id BIGINT) USING graft")
      // three single-file commits -> three pages at planPageSize=1
      (0 until 3).foreach(i =>
        spark.sql(s"INSERT INTO graftr.db.$t VALUES (${t.hashCode.abs % 100 + i})"))
    }
    // one cache slot + one task per page: planning the second table MUST
    // evict the first table's pruned list mid-drain
    val paged = new graft.rest.RestCatalogServer(server.warehouse,
      Map("engine-a" -> "secret-a"), planPageSize = 1, planCacheSize = 1).start()
    try {
      val tokResp = http.send(HttpRequest.newBuilder(
          URI.create(s"${paged.uri}/v1/oauth/tokens"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(
          "grant_type=client_credentials&client_id=engine-a&client_secret=secret-a"))
        .build(), HttpResponse.BodyHandlers.ofString())
      val ptok = (JsonMethods.parse(tokResp.body()) \ "access_token").extract[String]
      def ppost(path: String, body: String): JValue = {
        val r = http.send(HttpRequest.newBuilder(URI.create(s"${paged.uri}$path"))
          .header("Content-Type", "application/json")
          .header("Authorization", s"Bearer $ptok")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, s"${r.statusCode()} ${r.body()}")
        JsonMethods.parse(r.body())
      }
      def paths(j: JValue): Seq[String] = (j \ "file-scan-tasks").children
        .map(t => (t \ "data-file" \ "file-path").extract[String])
      // page 0 of evct1 (caches its plan), then plan evct2 (evicts it)
      val first = ppost("/v1/iceberg/namespaces/db/tables/evct1/plan", "{}")
      val drained = scala.collection.mutable.ListBuffer(paths(first): _*)
      var pending = (first \ "plan-tasks").extractOpt[Seq[String]].getOrElse(Nil).toList
      assert(pending.nonEmpty, "expected a paged plan")
      ppost("/v1/iceberg/namespaces/db/tables/evct2/plan", "{}") // evicts slot
      while (pending.nonEmpty) { // tokens are stateless: a miss re-prunes
        val page = ppost("/v1/iceberg/namespaces/db/tables/evct1/tasks",
          s"""{"plan-task":"${pending.head}"}""")
        drained ++= paths(page)
        pending = pending.tail ++ (page \ "plan-tasks").extractOpt[Seq[String]].getOrElse(Nil)
        assert(drained.size <= 10, "runaway pagination")
      }
      val one = JsonMethods.parse(post(
        "/v1/iceberg/namespaces/db/tables/evct1/plan", "{}", Some(oauthRaw())).body())
      assert(drained.sorted == paths(one).sorted,
        s"eviction mid-drain lost/duplicated tasks: $drained vs ${paths(one)}")

      // stale-incarnation revalidation: this PAGED server cached evct2's
      // plan above; now drop/recreate evct2 through the MAIN server (the
      // paged server's own eviction hooks never fire) — the stamp in the
      // cache key must reject the first incarnation's entry on hit
      def drainAll(table: String): Set[String] = {
        val head = ppost(s"/v1/iceberg/namespaces/db/tables/$table/plan", "{}")
        val acc = scala.collection.mutable.ListBuffer(paths(head): _*)
        var toks = (head \ "plan-tasks").extractOpt[Seq[String]].getOrElse(Nil).toList
        while (toks.nonEmpty) {
          val pg = ppost(s"/v1/iceberg/namespaces/db/tables/$table/tasks",
            s"""{"plan-task":"${toks.head}"}""")
          acc ++= paths(pg)
          toks = toks.tail ++ (pg \ "plan-tasks").extractOpt[Seq[String]].getOrElse(Nil)
          assert(acc.size <= 10, "runaway pagination")
        }
        acc.toSet
      }
      val oldPaths = drainAll("evct2")
      assert(del("/v1/iceberg/namespaces/db/tables/evct2", oauthRaw()).statusCode() == 204)
      // SAME commit count as the first incarnation, so the recreated
      // table's current VERSION collides with the cached one — only the
      // snapshot-identity stamp can tell the incarnations apart
      spark.sql("CREATE TABLE graftr.db.evct2 (id BIGINT) USING graft")
      (777 to 779).foreach(v => spark.sql(s"INSERT INTO graftr.db.evct2 VALUES ($v)"))
      val fresh = drainAll("evct2")
      assert(fresh.nonEmpty && fresh.intersect(oldPaths).isEmpty,
        s"bypassed drop/recreate served stale files: $fresh overlaps $oldPaths")
      val vals = fresh.flatMap(p => spark.read.parquet(p).collect().map(_.getLong(0)))
      assert(vals == Set(777L, 778L, 779L), vals)
    } finally paged.stop()
  }

  test("plan endpoint prunes hidden-partitioned tables through transform bounds (VERDICT r16 #3)") {
    spark.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftr.uri", server.uri)
    spark.conf.set("spark.sql.catalog.graftr.credential", "engine-a:secret-a")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftr.db")
    spark.sql("DROP TABLE IF EXISTS graftr.db.hpplan")
    spark.sql("CREATE TABLE graftr.db.hpplan (id BIGINT, ts TIMESTAMP) " +
      "USING graft PARTITIONED BY (days(ts))")
    // 8 days of 6-hourly events, one commit: the day transform distributes
    // the write so each file covers a narrow day range (AQE coalescing
    // disabled so the tiny fixture still fans out to multiple files)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val oldCoalesce = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try spark.sql("""INSERT INTO graftr.db.hpplan
      SELECT id, timestamp'2026-03-01 00:00:00' +
        make_interval(0,0,0,0,CAST(id*6 AS INT),0,0)
      FROM range(32)""")
    finally spark.conf.set(coalesceKey, oldCoalesce)
    val loc = (JsonMethods.parse(
      get("/v1/namespaces/db/tables/hpplan", oauthRaw()).body()) \ "location")
      .extract[String]
    val t = graft.table.GraftTable.load(spark, loc)
    val all = t.log.current.files
    assert(all.size >= 2, s"need multiple files, got ${all.size}")
    assert(all.forall(_.stats.contains("days(ts)")), "transform bounds missing")

    val client = new graft.rest.RestCatalogClient(server.uri, Some("engine-a:secret-a"), None)
    val full = client.planScan(Seq("db"), "hpplan").map(_.dataFile).toSet
    // a SOURCE-column range predicate: the wire carries ts >= 2026-03-06,
    // the server maps it through days() and prunes by transform bounds
    val lit = graft.table.GraftTable.tsCanon(
      java.time.Instant.parse("2026-03-06T00:00:00Z").toEpochMilli * 1000L)
    val planned = client.planScan(Seq("db"), "hpplan",
      Some(s"""{"type":"gt-eq","term":"ts","value":"$lit"}""")).map(_.dataFile).toSet
    assert(planned.size < full.size,
      s"transform bounds pruned nothing server-side: ${planned.size} of ${full.size}")
    // exactly as well as the engine's own local pruning (compare by file
    // name: the server absolutizes, the log records relative paths)
    def names(ps: Iterable[String]): Set[String] =
      ps.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    val local = t.pruneFiles(t.log.current, Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("ts",
        java.sql.Timestamp.from(java.time.Instant.parse("2026-03-06T00:00:00Z")))))
      .map(_.path)
    assert(names(planned) == names(local),
      s"server planned $planned, local pruned $local")
    // and rows through SQL stay exact either way
    assert(spark.sql("SELECT count(*) FROM graftr.db.hpplan " +
      "WHERE ts >= timestamp'2026-03-06 00:00:00'").collect()(0).getLong(0) ==
      spark.sql("SELECT count(*) FROM graftr.db.hpplan").collect()(0).getLong(0) -
        spark.sql("SELECT count(*) FROM graftr.db.hpplan " +
          "WHERE ts < timestamp'2026-03-06 00:00:00'").collect()(0).getLong(0))
  }

  test("vended storage credentials round-trip in LoadTableResult (config + storage-credentials)") {
    // reference main.tf:676-696: UC vends per-table storage credentials with
    // the metadata; config-level modeling here — a server wired with a
    // credential map returns it on every loadTable
    val wh2 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vend-wh-").toString
    val vending = new graft.rest.RestCatalogServer(wh2, Map("eng" -> "pw"),
      storageCredentials = Map(
        "s3.access-key-id" -> "VENDED-KEY",
        "s3.secret-access-key" -> "VENDED-SECRET",
        "s3.session-token" -> "VENDED-SESSION")).start()
    try {
      val http2 = java.net.http.HttpClient.newHttpClient()
      val tokResp = http2.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"${vending.uri}/v1/oauth/tokens"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          "grant_type=client_credentials&client_id=eng&client_secret=pw")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val tok = (JsonMethods.parse(tokResp.body()) \ "access_token").extract[String]
      def reqV(m: String, path: String, body: String = ""): java.net.http.HttpResponse[String] = {
        val b = java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"${vending.uri}$path"))
          .header("Authorization", s"Bearer $tok")
        val built = if (m == "GET") b.GET()
          else b.header("Content-Type", "application/json")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        http2.send(built.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      }
      assert(reqV("POST", "/v1/namespaces", """{"namespace":["db"]}""").statusCode() == 200)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType)))
      assert(reqV("POST", "/v1/namespaces/db/tables",
        s"""{"name":"vt","schemaJson":${org.json4s.jackson.Serialization.write(schema.json)},"properties":{}}""")
        .statusCode() == 200)
      val load = JsonMethods.parse(
        reqV("GET", "/v1/iceberg/namespaces/db/tables/vt").body())
      // flat config carries the credentials (older-client path)
      assert((load \ "config" \ "s3.access-key-id").extract[String] == "VENDED-KEY")
      // spec storage-credentials stanza, scoped to the table location
      val cred = (load \ "storage-credentials").children.head
      assert((cred \ "prefix").extract[String].endsWith("/db/vt"))
      assert((cred \ "config" \ "s3.session-token").extract[String] == "VENDED-SESSION")
    } finally vending.stop()
  }

  test("expired vended credentials re-vend through loadCredentials and the client continues") {
    // the lifecycle half of credential vending (VERDICT r14 #5): each vend
    // carries expires-at-ms; a client whose creds lapsed re-vends through
    // the spec loadCredentials endpoint (same grant gate as loadTable) and
    // keeps working — the bearer-token refresh loop, applied to storage
    val wh2 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "vend-ttl-wh-").toString
    val ttlMs = 200L
    val vending = new graft.rest.RestCatalogServer(wh2, Map("eng" -> "pw"),
      storageCredentials = Map("s3.access-key-id" -> "K", "s3.session-token" -> "S"),
      credentialTtlMs = ttlMs).start()
    try {
      val client = new graft.rest.RestCatalogClient(vending.uri, Some("eng:pw"), None)
      client.createNamespace(Seq("db"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType)))
      client.createTable(Seq("db"), "vt", schema.json, Map.empty)
      val http2 = java.net.http.HttpClient.newHttpClient()
      def reqV(m: String, path: String, body: String = ""): java.net.http.HttpResponse[String] = {
        val b = java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"${vending.uri}$path"))
          .header("Authorization", s"Bearer ${client.token}")
        val built = if (m == "GET") b.GET()
          else b.header("Content-Type", "application/json")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        http2.send(built.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      }

      // loadTable itself vends with an absolute expiry stamp
      val load = JsonMethods.parse(
        reqV("GET", "/v1/iceberg/namespaces/db/tables/vt").body())
      val stamped = ((load \ "storage-credentials") (0) \ "config" \ "expires-at-ms")
        .extract[String].toLong
      assert(stamped > System.currentTimeMillis(), "vend must expire in the future")
      assert(stamped <= System.currentTimeMillis() + ttlMs + 1000)

      // client caches a live vend...
      val first = client.storageCredentials(Seq("db"), "vt")
      assert(first("s3.access-key-id") == "K")
      val firstExp = first("expires-at-ms").toLong
      assert(client.storageCredentials(Seq("db"), "vt") == first, "live vend is cached")

      Thread.sleep(ttlMs + 50) // ...and past expiry RE-VENDS instead of serving it
      val second = client.storageCredentials(Seq("db"), "vt")
      assert(second("expires-at-ms").toLong > firstExp,
        s"re-vend must carry a LATER expiry: $firstExp -> ${second("expires-at-ms")}")

      // ...and continues: a metadata commit through the same catalog works
      val commit = reqV("POST", "/v1/iceberg/namespaces/db/tables/vt",
        """{"requirements":[],"updates":[
          |  {"action":"set-properties","updates":{"owner":"eng"}}]}""".stripMargin)
      assert(commit.statusCode() == 200, commit.body())
    } finally vending.stop()
  }
}
