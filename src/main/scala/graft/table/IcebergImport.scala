package graft.table

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Iceberg table-metadata IMPORTER — the inverse of [[IcebergExport]]: load
  * a real Apache Iceberg table (v1 or v2 `metadata.json` + Avro manifest
  * lists + Avro manifests, the layout Spark/Trino/Flink writers produce —
  * the reference stack's shared format, reference `README.md:2`,
  * `main.tf:809-820`) into a graft table WITHOUT copying data: data files,
  * positional-delete files, and equality-delete files are registered in
  * place with their Iceberg sequence numbers, so graft's merge-on-read
  * scoping (eq-deletes hit strictly-older files only) reproduces the
  * Iceberg reader's semantics. A user of the reference can point graft at
  * an existing warehouse table and keep querying.
  *
  * Reading uses the INDEPENDENT Apache Avro implementation on Spark's
  * classpath (the container format's reference decoder), not graft's own
  * encoder — so the import path is proven against the spec, not against
  * [[IcebergExport]]'s writing habits.
  *
  * Mapping choices:
  *  - graft field ids are `iceberg id - 1` (the exact inverse of the
  *    export mapping, so export → import round-trips ids).
  *  - All schemas in `metadata.json` are imported; each manifest's
  *    `schema-id` file-metadata (written by Iceberg and by the export)
  *    pins its files to the schema they were written with, preserving
  *    rename-safe column resolution. Manifests without the annotation
  *    fall back to the current schema.
  *  - Partition specs are dropped (files are registered flat). Iceberg
  *    partitioning is a write-layout concern; correctness never depends
  *    on it. Min/max bounds ARE imported into graft's per-file stats, so
  *    file pruning still works.
  *  - The import is a snapshot of CURRENT state (one commit). History
  *    stays in the source table; time travel starts fresh.
  */
object IcebergImport {

  /** Import the Iceberg table at `source` (a table root containing
    * `metadata/`, or a direct path to a `*.metadata.json`) as a new graft
    * table at `targetPath`. With `history = true` (default) the whole
    * snapshot chain is replayed as graft versions, so time travel and
    * changelog views work on the imported table; `false` imports current
    * state only. */
  def importTable(spark: SparkSession, source: String, targetPath: String,
      extraProps: Map[String, String] = Map.empty,
      history: Boolean = true): GraftTable = {
    importIntoPath(spark.sparkContext.hadoopConfiguration, source, targetPath,
      extraProps, history)
    GraftTable.load(spark, targetPath)
  }

  /** The Spark-free core of [[importTable]]: everything happens through
    * the Hadoop `FileSystem` API and the target's [[SnapshotLog]], so the
    * REST catalog server can serve the spec `register` endpoint (a foreign
    * engine handing over an existing Iceberg metadata location) without a
    * SparkSession in the server process. */
  private[graft] def importIntoPath(conf: org.apache.hadoop.conf.Configuration,
      source: String, targetPath: String,
      extraProps: Map[String, String] = Map.empty,
      history: Boolean = true): Unit = {
    val metaPath = resolveMetadataJson(source, conf)
    implicit val fmts: Formats = DefaultFormats
    val meta = JsonMethods.parse(new String(readAll(metaPath, conf), UTF_8))

    val formatVersion = (meta \ "format-version").extractOpt[Int].getOrElse(1)
    require(formatVersion <= 3, s"unsupported Iceberg format-version $formatVersion")
    // v2: schemas[] + current-schema-id; v1: single "schema" (id defaults 0)
    val schemaList: Seq[(Int, StructType)] = (meta \ "schemas") match {
      case JArray(ss) => ss.map { s =>
        val id = (s \ "schema-id").extractOpt[Int].getOrElse(0)
        id -> sparkSchema(s)
      }
      case _ => Seq(0 -> sparkSchema(meta \ "schema"))
    }
    val currentSchemaId = (meta \ "current-schema-id").extractOpt[Int]
      .getOrElse(schemaList.head._1)
    val schemas = schemaList.map { case (id, st) => id.toString -> st.json }.toMap
    val currentSchema = schemaList.toMap.apply(currentSchemaId)
    val idToName: Map[Int, String] = currentSchema.fields.map(f =>
      f.metadata.getLong("graft.id").toInt -> f.name).toMap

    // Partition fields per spec id — (field name, transform, source
    // graft.id). Identity values become min==max column stats; truncate /
    // year/month/day/hour / bucket[n] values become graft TRANSFORM stats
    // under the canonical `write.partition-by` key, so hidden-partition
    // pruning works on the imported table exactly as on a native one.
    // bucket[n] maps to graft's spec-hash `iceberg_bucket` (murmur3 —
    // IcebergMurmur3 — bit-identical to the foreign writer's).
    def specFields(fields: Seq[JValue]): Seq[(String, String, Int)] =
      fields.flatMap { f =>
        for {
          name <- (f \ "name").extractOpt[String]
          tr <- (f \ "transform").extractOpt[String]
          src <- (f \ "source-id").extractOpt[Int]
        } yield (name, tr, src - 1)
      }
    val partSpecs: Map[Int, Seq[(String, String, Int)]] = (meta \ "partition-specs") match {
      case JArray(specs) => specs.map(sp =>
        (sp \ "spec-id").extractOpt[Int].getOrElse(0) ->
          specFields((sp \ "fields").children)).toMap
      case _ => // v1: flat "partition-spec" array, implicit spec id 0
        Map(0 -> specFields((meta \ "partition-spec").children))
    }

    val currentSnapId = (meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)

    // Snapshot CHAIN, oldest first: walk parent-snapshot-id links back from
    // the current snapshot. History commits make time travel / TIMESTAMP AS
    // OF / changelog work on the imported table; `history = false` imports
    // only current state.
    val byId2: Map[Long, JValue] = (meta \ "snapshots").children.flatMap(s =>
      (s \ "snapshot-id").extractOpt[Long].map(_ -> s)).toMap
    val chain: Seq[JValue] = currentSnapId match {
      case None => Seq.empty
      case Some(curId) =>
        var acc = List.empty[JValue]
        var id = Option(curId)
        while (id.isDefined && byId2.contains(id.get)) {
          val s = byId2(id.get)
          acc = s :: acc
          id = if (history) (s \ "parent-snapshot-id").extractOpt[Long] else None
        }
        acc
    }

    // decode each chain snapshot's state (manifest reads cached — carried-
    // over manifests are shared across snapshots, like the export writes them)
    val manifestCache = scala.collection.mutable.Map
      .empty[String, (Seq[DataFile], Seq[DataFile], Seq[EqDeleteFile])]
    def stateOf(snap: JValue): (Seq[DataFile], Seq[DataFile], Seq[EqDeleteFile]) = {
      val manifests: Seq[(String, Int, Long, Option[Int])] =
        (snap \ "manifest-list").extractOpt[String] match {
          case Some(listPath) => readManifestList(absolute(listPath, metaPath), conf)
          case None => // v1 inline manifests (no content/sequence columns)
            (snap \ "manifests").children.flatMap(_.extractOpt[String])
              .map(p => (absolute(p, metaPath), 0, 0L, None))
        }
      val parts = manifests.map { m =>
        manifestCache.getOrElseUpdate(m._1,
          readManifests(Seq(m), metaPath, conf, schemaList.toMap, currentSchemaId,
            idToName, partSpecs, dvDir = Some(s"$targetPath/data")))
      }
      (parts.flatMap(_._1), parts.flatMap(_._2), parts.flatMap(_._3))
    }
    val states = chain.map(stateOf)

    // Per-file footer probe (a parquet metadata read, parallel on a small
    // pool — the same O(files) pass Iceberg's own add_files does): files
    // whose footers embed field ids resolve columns BY ID at read; files
    // without (foreign add_files imports) fall back to name resolution.
    def probed(fs: Seq[DataFile]): Seq[DataFile] = {
      import scala.concurrent._
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(1, Runtime.getRuntime.availableProcessors())))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(fs.map(f => Future(
        f.copy(footerIds = footerHasIds(f.path, conf))))), Duration.Inf)
      finally pool.shutdown()
    }
    // probe each unique file once across the whole chain
    val uniquePaths = (states.flatMap(_._1.map(_.path)) ++
      states.flatMap(_._3.map(_.file.path))).distinct
    val hasIds: Map[String, Boolean] =
      uniquePaths.zip(probed(uniquePaths.map(p =>
        DataFile(p, 0L, 0L, 0))).map(_.footerIds)).toMap

    // Rank-compress every imported sequence number into the NEGATIVE range
    // (max rank -> -1): relative order among imported files and deletes is
    // preserved exactly (delete scoping is purely ordinal), and every
    // imported seq sorts BELOW every future graft commit (version >= 1) —
    // so a later graft equality delete covers all imported data, and
    // imported equality deletes never touch rows appended after the
    // import. stampNew honors these explicit seqs (0 = unset sentinel).
    val allSeqs = states.flatMap { case (f, p, e) =>
      f.map(_.seq) ++ p.map(_.seq) ++ e.map(_.seq)
    }.distinct.sorted
    val rank: Map[Long, Long] = allSeqs.zipWithIndex.map { case (s, i) =>
      s -> (i.toLong - allSeqs.size)
    }.toMap

    // materialize through the standard create+commit protocol path, one
    // graft version per imported snapshot (oldest first) — time travel,
    // TIMESTAMP AS OF, and changelog views work on the imported table.
    // by-field-id: resolve columns against parquet FOOTER ids (Iceberg
    // writers embed them) — the import has no per-file schema history, so
    // name-based resolution would null out pre-rename files.
    // Reconstruct `write.partition-by` from the DEFAULT spec's translatable
    // transforms: future writes keep the table's layout and the pruner
    // engages the transform stats decoded below. Each candidate is
    // validated through PartitionTransform.parse — a field whose source
    // column/type no longer fits is skipped. bucket[n] maps to
    // `iceberg_bucket` (the spec murmur3, bit-identical), so future graft
    // writes keep the foreign bucket layout AND bucket pruning engages.
    val defaultSpecId = (meta \ "default-spec-id").extractOpt[Int].getOrElse(0)
    val writePartitionBy = partSpecs.getOrElse(defaultSpecId, Seq.empty).flatMap {
      case (_, "identity", gid)    => idToName.get(gid)
      case (_, TruncRe2(w), gid)   => idToName.get(gid).map(n => s"truncate($w,$n)")
      case (_, BucketRe(b), gid)   => idToName.get(gid).map(n => s"iceberg_bucket($b,$n)")
      case (_, "year", gid)        => idToName.get(gid).map(n => s"years($n)")
      case (_, "month", gid)       => idToName.get(gid).map(n => s"months($n)")
      case (_, "day", gid)         => idToName.get(gid).map(n => s"days($n)")
      case (_, "hour", gid)        => idToName.get(gid).map(n => s"hours($n)")
      case _                       => None
    }.filter(spec => Try(PartitionTransform.parse(spec, currentSchema)).isSuccess)
    // Reconstruct `write.sort-by` from the default sort order's identity
    // fields (the mirror of the exporter publishing write.sort-by as sort
    // order 1) — future graft writes keep the foreign table's declared
    // clustering, INCLUDING its direction and null-order (SortField's
    // suffix encoding; ADVICE r10 — a desc order must not silently flip to
    // asc). Non-identity sort transforms have no graft sort-by equivalent
    // and are skipped.
    val defaultSortId = (meta \ "default-sort-order-id").extractOpt[Int].getOrElse(0)
    val writeSortBy = (meta \ "sort-orders").children
      .find(o => (o \ "order-id").extractOpt[Int].contains(defaultSortId))
      .map(o => (o \ "fields").children.flatMap { f =>
        if ((f \ "transform").extractOpt[String].contains("identity"))
          // idToName is keyed by graft.id = Iceberg field-id - 1
          (f \ "source-id").extractOpt[Int].flatMap(id => idToName.get(id - 1))
            .map { n =>
              val dir = (f \ "direction").extractOpt[String].getOrElse("asc")
              val nul = (f \ "null-order").extractOpt[String].getOrElse(
                if (dir == "desc") "nulls-last" else "nulls-first")
              SortField(n, dir, nul)
            }
        else None
      }).getOrElse(Seq.empty)
      .filter(sf => currentSchema.fields.exists(_.name == sf.name))
      .map(_.render)
    // Statistics (Puffin) blob metadata carries per-column `ndv`
    // properties; fold them into graft's stats.ndv.* so the CBO sees
    // cardinalities on the imported table without a re-analyze. Only the
    // newest statistics entry (highest snapshot-id) is consulted — the
    // sketch files themselves stay with the source table.
    val ndvProps: Map[String, String] = (meta \ "statistics").children
      .sortBy(e => (e \ "snapshot-id").extractOpt[Long].getOrElse(-1L))
      .lastOption.toSeq
      .flatMap(e => (e \ "blob-metadata").children)
      .flatMap { b =>
        for {
          fid <- (b \ "fields").extractOpt[Seq[Int]].flatMap(_.headOption)
          name <- idToName.get(fid - 1)
          ndv <- (b \ "properties" \ "ndv").extractOpt[String]
        } yield s"stats.ndv.$name" -> ndv
      }.toMap
    val props = extraProps ++ ndvProps ++
      (if (writePartitionBy.nonEmpty)
        Map("write.partition-by" -> writePartitionBy.mkString(","))
      else Map.empty) ++
      (if (writeSortBy.nonEmpty)
        Map("write.sort-by" -> writeSortBy.mkString(","))
      else Map.empty) +
      ("graft.imported-from" -> metaPath) +
      ("graft.read.by-field-id" -> "true")
    // createEmpty, minus the SparkSession: init the log and publish the
    // "create" snapshot directly (the create-schema ids are cosmetic —
    // every history commit below carries the IMPORTED schema map)
    val log = new SnapshotLog(targetPath)
    require(!log.exists, s"graft table already exists at $targetPath")
    log.initDirs()
    log.commit(-1L, _ => Snapshot(0L, -1L, System.currentTimeMillis(), "create",
      0, Map("0" -> GraftTable.stampIds(currentSchema).json), Seq.empty, props))
    chain.zip(states).zipWithIndex.foreach { case ((snapJson, (f, p, e)), i) =>
      val rFiles = f.map(x => x.copy(seq = rank(x.seq),
        footerIds = hasIds.getOrElse(x.path, false)))
      val rPos = p.map(x => x.copy(seq = rank(x.seq)))
      val rEq = e.map(x => x.copy(seq = rank(x.seq),
        file = x.file.copy(footerIds = hasIds.getOrElse(x.file.path, false))))
      val sid = (snapJson \ "schema-id").extractOpt[Int]
        .filter(id => schemas.contains(id.toString)).getOrElse(currentSchemaId)
      val ts = (snapJson \ "timestamp-ms").extractOpt[Long]
        .getOrElse(System.currentTimeMillis())
      val op = (snapJson \ "summary" \ "operation").extractOpt[String] match {
        case Some("append")    => "append"
        case Some("delete")    => "delete"
        case Some("overwrite") => "overwrite"
        case Some("replace")   => "rewrite-data" // compaction: CDC sources skip it
        case _                 => "import-iceberg"
      }
      // carry foreign summary annotations (minus the spec-required
      // operation key) into graft's commit-scoped summary — a WAP id
      // published in the foreign engine survives the migration
      val foreignSummary = (snapJson \ "summary") match {
        case JObject(fields) => fields.collect {
          case (k, org.json4s.JString(v)) if k != "operation" => k -> v
        }.toMap
        case _ => Map.empty[String, String]
      }
      log.commit(i.toLong, v => Snapshot(v, i.toLong, ts,
        if (i == chain.size - 1) "import-iceberg" else op,
        sid, schemas, rFiles, props, rPos, rEq,
        summary = foreignSummary))
    }

    // branch/tag refs whose snapshot landed in the imported chain map onto
    // graft refs (iceberg snapshot-id -> chain position + 1), so tag-based
    // time travel keeps working after the switch. "main" IS the head.
    val versionOf: Map[Long, Long] = chain.zipWithIndex.flatMap { case (s, i) =>
      (s \ "snapshot-id").extractOpt[Long].map(_ -> (i + 1L))
    }.toMap
    (meta \ "refs") match {
      case JObject(fields) => fields.foreach { case (name, r) =>
        if (name != "main") for {
          sid <- (r \ "snapshot-id").extractOpt[Long]
          v <- versionOf.get(sid)
        } log.setRef(name, Ref(v, (r \ "type").extractOpt[String].getOrElse("tag")))
      }
      case _ =>
    }
  }

  // ------------------------------------------------------------- resolution

  /** `source` may be a metadata.json itself, or a table root: then prefer
    * `metadata/version-hint.text` (HadoopTables), else the newest
    * `*.metadata.json` by embedded version number (REST/Glue layout
    * `00042-<uuid>.metadata.json`, Hadoop layout `v42.metadata.json`). */
  private def resolveMetadataJson(source: String, conf: Configuration): String = {
    if (source.endsWith(".json")) return source
    val metaDir = s"${source.stripSuffix("/")}/metadata"
    val hintPath = s"$metaDir/version-hint.text"
    val fs = new HPath(metaDir).getFileSystem(conf)
    if (fs.exists(new HPath(hintPath))) {
      val hint = new String(readAll(hintPath, conf), UTF_8).trim
      val direct = s"$metaDir/v$hint.metadata.json"
      if (fs.exists(new HPath(direct))) return direct
    }
    val candidates = fs.listStatus(new HPath(metaDir)).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".metadata.json"))
    require(candidates.nonEmpty, s"no *.metadata.json under $metaDir")
    val best = candidates.maxBy(n =>
      "\\d+".r.findFirstIn(n.stripSuffix(".metadata.json")).map(_.toLong).getOrElse(-1L))
    s"$metaDir/$best"
  }

  /** Manifest paths inside metadata are absolute URIs in spec practice, but
    * tolerate relative ones by anchoring at the metadata.json directory. */
  private def absolute(p: String, metaPath: String): String =
    if (p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*") || p.startsWith("/")) p
    else s"${metaPath.substring(0, metaPath.lastIndexOf('/'))}/$p"

  /** True iff the parquet file's footer schema carries field ids. */
  private def footerHasIds(p: String, conf: Configuration): Boolean = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new HPath(p), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala.forall(_.getId != null)
    finally r.close()
  }

  private def readAll(p: String, conf: Configuration): Array[Byte] = {
    val hp = new HPath(p)
    val in = hp.getFileSystem(conf).open(hp)
    try {
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  // ------------------------------------------------------------- avro layer

  private def avroRecords(bytes: Array[Byte]): (Seq[GenericRecord], Map[String, String]) = {
    val rdr = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    try {
      val metaKeys = rdr.getMetaKeys.asScala.toSeq
      val meta = metaKeys.filterNot(_.startsWith("avro."))
        .map(k => k -> rdr.getMetaString(k)).toMap
      (rdr.iterator().asScala.toVector, meta)
    } finally rdr.close()
  }

  /** Schema-checked field access: v1 files simply lack v2 fields, and the
    * Avro generic record throws (not nulls) on unknown names. */
  private def opt(r: GenericRecord, f: String): Option[AnyRef] =
    if (r.getSchema.getField(f) == null) None else Option(r.get(f))
  private def str(r: GenericRecord, f: String): Option[String] =
    opt(r, f).map(_.toString)
  private def lng(r: GenericRecord, f: String): Option[Long] =
    opt(r, f).map(_.asInstanceOf[Number].longValue())

  /** Decode ONE Iceberg snapshot's full file state from its manifest list,
    * resolving stats and equality ids against the given (current) graft
    * schema — the building block [[graft.rest.RestCatalogServer]] uses to
    * accept a spec Iceberg REST `add-snapshot` commit from a foreign
    * writer. */
  private[graft] def decodeSnapshot(manifestListPath: String, conf: Configuration,
      schemaId: Int, schema: StructType, dvDir: Option[String] = None)
      : (Seq[DataFile], Seq[DataFile], Seq[EqDeleteFile]) = {
    val idToName = schema.fields.map(f =>
      f.metadata.getLong("graft.id").toInt -> f.name).toMap
    readManifests(readManifestList(manifestListPath, conf), manifestListPath,
      conf, Map(schemaId -> schema), schemaId, idToName, dvDir = dvDir)
  }

  /** (manifestPath, content 0=data 1=deletes, sequenceNumber, partitionSpecId). */
  private def readManifestList(listPath: String,
      conf: Configuration): Seq[(String, Int, Long, Option[Int])] = {
    val (records, _) = avroRecords(readAll(listPath, conf))
    records.map { r =>
      (str(r, "manifest_path").getOrElse(
         throw new IllegalArgumentException(s"manifest_path missing in $listPath")),
       lng(r, "content").map(_.toInt).getOrElse(0), // v1: data only
       lng(r, "sequence_number").getOrElse(0L),
       lng(r, "partition_spec_id").map(_.toInt))
    }
  }

  /** Decode every live manifest entry into graft's file model.
    * `partSpecs`: partition-spec-id -> (field name, transform, source
    * column graft.id) for every spec field. */
  private def readManifests(manifests: Seq[(String, Int, Long, Option[Int])],
      metaPath: String, conf: Configuration,
      schemasById: Map[Int, StructType], currentSchemaId: Int,
      idToName: Map[Int, String],
      partSpecs: Map[Int, Seq[(String, String, Int)]] = Map.empty,
      // v3 deletion vectors materialize as graft positional-delete parquet
      // under this dir (the import path passes the target's data dir); the
      // session-free REST commit path passes None and fails loudly
      dvDir: Option[String])
      : (Seq[DataFile], Seq[DataFile], Seq[EqDeleteFile]) = {
    val data = Seq.newBuilder[DataFile]
    val pos = Seq.newBuilder[DataFile]
    val eq = Seq.newBuilder[EqDeleteFile]
    val puffinBytes = scala.collection.mutable.Map.empty[String, Array[Byte]]
    manifests.foreach { case (mPath, _, manifestSeq, specId) =>
      val (entries, fileMeta) = avroRecords(readAll(absolute(mPath, metaPath), conf))
      val schemaId = fileMeta.get("schema-id").flatMap(s => Try(s.toInt).toOption)
        .filter(schemasById.contains).getOrElse(currentSchemaId)
      val fileSchema = schemasById.getOrElse(schemaId, schemasById(currentSchemaId))
      val statNames = fileSchema
        .fields.map(f => f.metadata.getLong("graft.id").toInt + 1 -> f).toMap
      // partition spec for this manifest: manifest-list annotation first,
      // manifest file metadata second (v1 inline manifests). With NO
      // annotation, fall back to spec 0 only when it is the table's sole
      // spec — guessing among evolved specs could stamp another spec's
      // values as bounds for the wrong column (wrong pruning); no stats
      // is the safe default.
      val spec: Seq[(String, String, Int)] = specId
        .orElse(fileMeta.get("partition-spec-id").flatMap(s => Try(s.toInt).toOption))
        .flatMap(partSpecs.get)
        .getOrElse(if (partSpecs.size == 1) partSpecs.head._2 else Seq.empty)
      // constant per manifest: (field name, transform, source StructField)
      val partFields: Seq[(String, String, StructField)] = spec.flatMap {
        case (pname, tr, gid) => fileSchema.fields.find(x =>
          x.metadata.contains("graft.id") &&
            x.metadata.getLong("graft.id").toInt == gid).map((pname, tr, _))
      }
      entries.foreach { e =>
        val status = lng(e, "status").map(_.toInt).getOrElse(0)
        if (status != 2) { // 2 = DELETED entry: file left the table
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val content = lng(df, "content").map(_.toInt).getOrElse(0)
          val seq = lng(e, "sequence_number").getOrElse(manifestSeq)
          val file = DataFile(
            path = str(df, "file_path").get,
            rows = lng(df, "record_count").getOrElse(0L),
            bytes = lng(df, "file_size_in_bytes").getOrElse(0L),
            schemaId = schemaId,
            stats = if (content == 0) {
              // partition values double as min==max stats — identity ones
              // as column bounds (restores pruning on metrics-disabled
              // tables), transform ones under the canonical
              // write.partition-by key graft's own pruner consults
              val bounds = decodeStats(df, statNames)
              bounds ++ partitionStats(df, partFields)
                .filterNot { case (k, _) => bounds.contains(k) }
            } else Map.empty,
            seq = seq)
          content match {
            case 0 => data += file
            case 1 if str(df, "file_format").exists(_.equalsIgnoreCase("PUFFIN")) =>
              // v3 DELETION VECTOR: decode the blob region and materialize
              // it as a graft positional-delete parquet (content-addressed,
              // so re-decoding a shared puffin across snapshots reuses the
              // same file) — graft's MOR anti-join then applies it exactly
              // like a native delete file
              val dir = dvDir.getOrElse(throw new IllegalArgumentException(
                "deletion-vector delete files are not supported on this path " +
                "(import the table instead)"))
              val ref = str(df, "referenced_data_file").getOrElse(
                throw new IllegalArgumentException(
                  s"DV entry in $mPath lacks referenced_data_file"))
              val off = lng(df, "content_offset").getOrElse(0L)
              val len = lng(df, "content_size_in_bytes").getOrElse(
                throw new IllegalArgumentException(
                  s"DV entry in $mPath lacks content_size_in_bytes"))
              val pPath = absolute(file.path, metaPath)
              val bytes = puffinBytes.getOrElseUpdate(pPath, readAll(pPath, conf))
              require(off >= 0 && off + len <= bytes.length,
                s"DV blob range [$off, ${off + len}) outside puffin of ${bytes.length}B")
              val positions = DeletionVector.deserialize(
                java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt))
              val hash = java.security.MessageDigest.getInstance("SHA-256")
                .digest(s"$pPath@$off+$len".getBytes(java.nio.charset.StandardCharsets.UTF_8))
                .take(10).map("%02x".format(_)).mkString
              val outPath = s"$dir/dv-$hash-deletes.parquet"
              val fs = new org.apache.hadoop.fs.Path(outPath).getFileSystem(conf)
              val sizeBytes =
                if (fs.exists(new org.apache.hadoop.fs.Path(outPath)))
                  fs.getFileStatus(new org.apache.hadoop.fs.Path(outPath)).getLen
                else {
                  fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
                  DeletionVector.writeDeleteParquet(outPath,
                    positions.map(p => (ref, p)), conf)
                }
              pos += file.copy(path = outPath, rows = positions.size.toLong,
                bytes = sizeBytes)
            case 1 => pos += file
            case 2 =>
              val ids = opt(df, "equality_ids").toSeq
                .flatMap(_.asInstanceOf[java.util.Collection[_]].asScala)
                .map(_.asInstanceOf[Number].intValue())
              // cols stay ALIGNED with colIds (eqKeyNames zips them); a key
              // column no longer in the schema keeps a placeholder name and
              // fails loudly at read, never silently skips the delete
              eq += EqDeleteFile(file,
                cols = ids.map(id => idToName.getOrElse(id - 1, s"_dropped_$id")),
                seq = seq, colIds = ids.map(_ - 1))
            case other => throw new IllegalArgumentException(
              s"unknown manifest content code $other in $mPath")
          }
        }
      }
    }
    (data.result(), pos.result(), eq.result())
  }

  // ------------------------------------------------------------------ stats

  /** Iceberg k-v stat maps (avro array-of-record or map form) →
    * graft [[ColumnStats]], decoding the spec's little-endian single-value
    * binary form for the types graft tracks. Unknown types are skipped —
    * stats only ever widen to "no pruning". */
  private def decodeStats(df: GenericRecord,
      statNames: Map[Int, StructField]): Map[String, ColumnStats] = {
    def kv(field: String): Map[Int, Array[Byte]] =
      opt(df, field).toSeq.flatMap {
        case c: java.util.Collection[_] => c.asScala.toSeq.map { r0 =>
          val r = r0.asInstanceOf[GenericRecord]
          r.get("key").asInstanceOf[Number].intValue() -> byteArray(r.get("value"))
        }
        case m: java.util.Map[_, _] => m.asScala.toSeq.map { case (k, v) =>
          k.asInstanceOf[Number].intValue() -> byteArray(v)
        }
        case _ => Seq.empty
      }.toMap
    def kvLong(field: String): Map[Int, Long] =
      opt(df, field).toSeq.flatMap {
        case c: java.util.Collection[_] => c.asScala.toSeq.map { r0 =>
          val r = r0.asInstanceOf[GenericRecord]
          r.get("key").asInstanceOf[Number].intValue() ->
            r.get("value").asInstanceOf[Number].longValue()
        }
        case _ => Seq.empty
      }.toMap
    val lower = kv("lower_bounds"); val upper = kv("upper_bounds")
    val nulls = kvLong("null_value_counts")
    statNames.flatMap { case (icebergId, f) =>
      for {
        lo <- lower.get(icebergId).flatMap(b => decodeBound(f.dataType, b))
        hi <- upper.get(icebergId).flatMap(b => decodeBound(f.dataType, b))
      } yield f.name -> ColumnStats(lo, hi, f.dataType.typeName,
        nulls.getOrElse(icebergId, -1L))
    }
  }

  private[table] val TruncRe2 = "truncate\\[(\\d+)\\]".r
  private[table] val BucketRe = "bucket\\[(\\d+)\\]".r

  /** Partition values of a data_file's `partition` record -> single-value
    * [[ColumnStats]]. Identity values key on the SOURCE column (they are
    * real bounds); truncate / year/month/day/hour values key on graft's
    * canonical transform string in the SAME form the native stats
    * collector records (spec integers for the time transforms) so pruning
    * comparisons stay uniform. `partFields` (field name, transform, source
    * column) is precomputed per manifest; bucket[n] keys on
    * `iceberg_bucket` (the spec murmur3 graft reproduces bit-for-bit);
    * untranslatable transforms (void) are skipped. */
  private def partitionStats(df: GenericRecord,
      partFields: Seq[(String, String, StructField)]): Map[String, ColumnStats] = {
    if (partFields.isEmpty) return Map.empty
    opt(df, "partition").collect { case r: GenericRecord => r }.map { part =>
      partFields.flatMap { case (pname, transform, f) =>
        val raw: Option[AnyRef] =
          if (part.getSchema.getField(pname) == null) None
          else Option(part.get(pname))
        def intVal: Option[Int] =
          raw.collect { case n: Number => n.intValue() }
        (transform, raw) match {
          case (_, None) => None
          case ("identity", Some(v)) =>
            renderPartValue(f.dataType, v).map(s =>
              f.name -> ColumnStats(s, s, f.dataType.typeName, -1L))
          case (TruncRe2(w), Some(v)) =>
            val isString = f.dataType == StringType
            Try[String](if (isString) v.toString
              else v.asInstanceOf[Number].longValue().toString).toOption
              .map(s => s"truncate($w,${f.name})" ->
                ColumnStats(s, s, if (isString) "string" else "long", -1L))
          // year/month/day/hour partition values ARE Iceberg's spec
          // integers — graft's TimeTrunc stats record the same integers
          // now, so imported values prune identically to native ones
          case ("year", _) => intVal.map(y =>
            s"years(${f.name})" -> statN(y))
          case ("month", _) => intVal.map(m =>
            s"months(${f.name})" -> statN(m))
          case ("day", _) => intVal.map(d =>
            s"days(${f.name})" -> statN(d))
          case ("hour", _) => intVal.map(h =>
            s"hours(${f.name})" -> statN(h))
          // spec bucket value = murmur3 bucket id — graft's iceberg_bucket
          // computes the identical value, so it prunes as a transform stat
          case (BucketRe(b), _) => intVal.map(v =>
            s"iceberg_bucket($b,${f.name})" ->
              ColumnStats(v.toString, v.toString, "int", -1L))
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)
  }

  private def statN(v: Int): ColumnStats =
    ColumnStats(v.toString, v.toString, "long", -1L)

  private def renderPartValue(dt: DataType, raw: AnyRef): Option[String] =
    Try[String](dt match {
      case LongType => raw.asInstanceOf[Number].longValue().toString
      case IntegerType | ShortType | ByteType =>
        raw.asInstanceOf[Number].intValue().toString
      case StringType => raw.toString
      case DateType => raw match { // avro date logical type = int epoch days
        case n: Number => java.time.LocalDate.ofEpochDay(n.longValue()).toString
        case other     => other.toString
      }
      case DoubleType | FloatType => raw.asInstanceOf[Number].doubleValue().toString
      case other => throw new IllegalArgumentException(other.typeName)
    }).toOption

  private def byteArray(v: Any): Array[Byte] = v match {
    case b: java.nio.ByteBuffer =>
      val c = b.duplicate(); val a = new Array[Byte](c.remaining()); c.get(a); a
    case a: Array[Byte] => a
    case other => other.toString.getBytes(UTF_8)
  }

  private def le(b: Array[Byte]): Long =
    b.zipWithIndex.map { case (x, i) => (x.toLong & 0xFF) << (8 * i) }.sum

  /** Inverse of [[IcebergExport.boundBytes]] — same string forms graft's
    * own stats collection produces, so pruning comparisons stay uniform. */
  private def decodeBound(dt: DataType, b: Array[Byte]): Option[String] =
    Try[String](dt match {
      case IntegerType | ShortType | ByteType => le(b).toInt.toString
      case LongType   => le(b).toString
      case FloatType  => java.lang.Float.intBitsToFloat(le(b).toInt).toString
      case DoubleType => java.lang.Double.longBitsToDouble(le(b)).toString
      case StringType => new String(b, UTF_8)
      case DateType   => java.time.LocalDate.ofEpochDay(le(b)).toString
      case BooleanType =>
        // empty bytes = malformed: must become None (a fabricated "false"
        // upper bound would wrongly prune files), not a default
        if (b.isEmpty) throw new IllegalArgumentException("empty boolean bound")
        if (b(0) != 0) "true" else "false"
      case TimestampType | TimestampNTZType => // LE micros -> graft's CANONICAL
        // UTC bound form ('T' separator, fixed 6-digit fraction) — the same
        // rendering native writes record, so pruning comparisons stay
        // uniform across native + imported files and the REST planner
        // prunes imported tables' event-time ranges too
        GraftTable.tsCanon(le(b))
      case d: DecimalType =>
        // PLAIN notation: Spark's Decimal cast-to-string never uses the
        // scientific form (verified empirically — a scale-18 tiny value
        // renders "0.000000012000000000"), so toPlainString matches the
        // native stat strings exactly
        new java.math.BigDecimal(new java.math.BigInteger(b), d.scale).toPlainString
      case _          => throw new IllegalArgumentException(dt.typeName)
    }).toOption

  // ---------------------------------------------------------- schema import

  /** Iceberg schema JSON → Spark StructType with `graft.id = id - 1`
    * metadata on every struct field (the inverse of the export mapping).
    * `private[graft]`: the REST catalog server converts foreign add-schema
    * commits through the same single mapping. */
  private[graft] def sparkSchema(schema: JValue): StructType =
    sparkType(schema).asInstanceOf[StructType]

  private def sparkType(t: JValue): DataType = t match {
    case JString(s) => primitive(s)
    case obj: JObject => (obj \ "type") match {
      case JString("struct") =>
        StructType((obj \ "fields").children.map { f =>
          implicit val fmts: Formats = DefaultFormats
          val id = (f \ "id").extract[Int]
          // extract[String] maps JSON null to a NULL REFERENCE — a null
          // field name would flow all the way into a null stats-map key
          // and only explode at snapshot serialization (fuzz-found); a
          // nameless field is malformed metadata, reject it here
          val name = (f \ "name") match {
            case JString(n) if n.nonEmpty => n
            case other => throw new IllegalArgumentException(
              s"Iceberg schema field $id has no usable name: $other")
          }
          val required = (f \ "required").extractOpt[Boolean].getOrElse(false)
          StructField(name, sparkType(f \ "type"), nullable = !required,
            metadata = new MetadataBuilder().putLong("graft.id", id - 1L).build())
        })
      case JString("list") =>
        implicit val fmts: Formats = DefaultFormats
        ArrayType(sparkType(obj \ "element"),
          containsNull = !(obj \ "element-required").extractOpt[Boolean].getOrElse(false))
      case JString("map") =>
        implicit val fmts: Formats = DefaultFormats
        MapType(sparkType(obj \ "key"), sparkType(obj \ "value"),
          valueContainsNull = !(obj \ "value-required").extractOpt[Boolean].getOrElse(false))
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg complex type: $other")
    }
    case other => throw new IllegalArgumentException(s"bad Iceberg type node: $other")
  }

  private val DecimalRe = "decimal\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)".r
  private val FixedRe = "fixed\\[(\\d+)\\]".r

  private def primitive(s: String): DataType = s match {
    case "boolean"        => BooleanType
    case "int"            => IntegerType
    case "long"           => LongType
    case "float"          => FloatType
    case "double"         => DoubleType
    case "date"           => DateType
    case "timestamp"      => TimestampNTZType
    case "timestamptz"    => TimestampType
    case "string"         => StringType
    case "uuid"           => StringType // string round-trips the canonical form
    case "binary"         => BinaryType
    case DecimalRe(p, sc) => DecimalType(p.toInt, sc.toInt)
    case FixedRe(_)       => BinaryType
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg primitive: $other")
  }
}
