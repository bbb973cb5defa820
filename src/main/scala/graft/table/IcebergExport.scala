package graft.table

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8


import scala.util.Try

import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Iceberg-v2 metadata exporter: renders a graft table's snapshot log as a
  * spec-compliant Apache Iceberg table — `metadata.json`, Avro
  * manifest-list files, and Avro manifest files — so a REAL Iceberg reader
  * (Trino's connector as wired by reference `main.tf:809-820`, pyiceberg's
  * `StaticTable`, DuckDB's iceberg extension) can load the table without
  * knowing anything about graft. Data files are referenced IN PLACE by
  * absolute URI — nothing is copied or rewritten, matching the read-side
  * half of the reference's multi-engine promise (reference `README.md:2`:
  * several engines sharing one table on S3).
  *
  * The Avro container files are written by hand against the public Avro
  * 1.x specification (header `Obj\x01`, metadata map carrying
  * `avro.schema`, 16-byte sync marker, one null-codec block) — no Avro
  * dependency, and the output is validated in IcebergExportSpec by the
  * INDEPENDENT Avro implementation on Spark's classpath.
  *
  * Mapping choices (each the conservative, read-correct option):
  *  - Partition specs EXPORT for the spec-expressible transforms —
  *    identity, truncate, years/months/days/hours ([[PartitionTransform]]
  *    maps 1:1 onto the Iceberg transforms). A data file carries a
  *    partition TUPLE only when its recorded stats PROVE it single-valued
  *    (transform min == max and zero source nulls — graft hash-distributes
  *    rather than fanning out one file per partition, so a file CAN span
  *    values); proven files go into a spec-1 manifest with tuples and
  *    field summaries (foreign readers prune them), unproven ones into a
  *    spec-0 unpartitioned manifest (scanned, never wrong). `bucket(n)` is
  *    NOT exported: graft buckets with xxhash64, which is not Iceberg's
  *    murmur3 `bucket[N]` — a spec claim would make foreign readers
  *    mis-prune. Unpartitioned loses pruning, never rows. The opt-in
  *    `iceberg_bucket(n, col)` transform ([[graft.functions.IcebergMurmur3]],
  *    the spec hash bit-for-bit) DOES export as a true `bucket[n]` field.
  *  - Field ids are `graft.id + 1` (Iceberg ids are 1-based by
  *    convention); list/map element/key/value ids are DETERMINISTIC, in a
  *    high band keyed by the owning field's id — stable across schemas and
  *    re-renders, and never reachable by later schema evolution (which
  *    allocates `maxId + 1` in the struct band).
  *  - `schema.name-mapping.default` is emitted so readers resolve parquet
  *    columns BY NAME for files written before graft embedded real
  *    `parquet.field.id`s in its footers (imports, legacy files) — the
  *    spec's sanctioned fallback; new files resolve by id directly.
  *  - Every entry is written status=EXISTING with its explicit data
  *    sequence number (graft stamps `DataFile.seq` at commit), the state
  *    a rewritten manifest has after Iceberg's own manifest compaction.
  *  - Positional delete parquet files already use the spec's column names
  *    (`file_path`, `pos`); equality deletes export their key field ids
  *    as `equality_ids`.
  */
object IcebergExport {

  // ------------------------------------------------------- Avro binary layer

  /** Avro binary encoder (Avro spec "Binary encoding"): zig-zag varint
    * ints/longs, length-prefixed strings/bytes, union branch indexes,
    * single-block arrays. */
  private final class AvroBuf {
    val out = new ByteArrayOutputStream()
    def long(v: Long): Unit = {
      var n = (v << 1) ^ (v >> 63) // zig-zag
      while ((n & ~0x7FL) != 0L) { out.write(((n & 0x7F) | 0x80).toInt); n >>>= 7 }
      out.write(n.toInt)
    }
    def int(v: Int): Unit = long(v.toLong)
    def bytes(b: Array[Byte]): Unit = { long(b.length.toLong); out.write(b) }
    def str(s: String): Unit = bytes(s.getBytes(UTF_8))
    def bool(v: Boolean): Unit = out.write(if (v) 1 else 0)
    def raw(b: Array[Byte]): Unit = out.write(b)
    def none(): Unit = long(0) // union [null, T] branch 0
    def some(): Unit = long(1) // union [null, T] branch 1
    /** Array as one counted block + empty terminator block. */
    def arrayBlock(n: Int)(body: => Unit): Unit = { if (n > 0) { long(n.toLong); body }; long(0) }
    def toBytes: Array[Byte] = out.toByteArray
  }

  // All metadata writes go through the Hadoop FileSystem API — the export
  // tree lands wherever the table root lives (local, hdfs://, s3a://),
  // matching the table layer's own FileIO routing.
  private def fsOf(p: String, conf: org.apache.hadoop.conf.Configuration) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
  /** Write via a temp file + rename so concurrent readers of a published
    * path never observe a truncated file. */
  private def writeAtomic(p: String, bytes: Array[Byte],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val fs = fsOf(p, conf)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$p.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val dst = new org.apache.hadoop.fs.Path(p)
    fs.delete(dst, false)
    fs.rename(tmp, dst)
  }
  private def mkdirs(p: String, conf: org.apache.hadoop.conf.Configuration): Unit =
    fsOf(p, conf).mkdirs(new org.apache.hadoop.fs.Path(p))

  /** Avro object-container file (Avro spec "Object Container Files"):
    * magic, file-metadata map, sync marker, one null-codec data block.
    * Returns the byte length (manifest lists record manifest_length). */
  private def writeContainer(path: String, schemaJson: String,
      fileMeta: Map[String, String], records: Seq[Array[Byte]],
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val b = new AvroBuf
    b.raw(Array[Byte]('O', 'b', 'j', 1))
    val meta = fileMeta + ("avro.schema" -> schemaJson) + ("avro.codec" -> "null")
    b.long(meta.size.toLong)
    meta.foreach { case (k, v) => b.str(k); b.bytes(v.getBytes(UTF_8)) }
    b.long(0)
    // sync marker: any 16 bytes; derived from the path so re-export is stable
    val sync = java.security.MessageDigest.getInstance("MD5")
      .digest(path.substring(path.lastIndexOf('/') + 1).getBytes(UTF_8))
    b.raw(sync)
    if (records.nonEmpty) {
      val body = new ByteArrayOutputStream()
      records.foreach(body.write)
      b.long(records.size.toLong)
      b.long(body.size.toLong)
      b.raw(body.toByteArray)
      b.raw(sync)
    }
    val all = b.toBytes
    writeAtomic(path, all, conf)
    all.length.toLong
  }

  // --------------------------------------------------- schema + type mapping

  /** Iceberg field id for a graft-stamped field: `graft.id + 1` (Iceberg
    * ids start at 1). */
  private def iid(f: StructField): Int =
    if (f.metadata.contains("graft.id")) f.metadata.getLong("graft.id").toInt + 1 else -1

  private def maxGraftId(dt: DataType): Int = dt match {
    case st: StructType =>
      (st.fields.map(f => math.max(iid(f), maxGraftId(f.dataType))) :+ 0).max
    case ArrayType(e, _)   => maxGraftId(e)
    case MapType(k, v, _)  => math.max(maxGraftId(k), maxGraftId(v))
    case _                 => 0
  }

  /** Element/key/value ids for list/map nodes (which graft's per-struct-
    * field id stamping has no slot for) live in a HIGH BAND disjoint from
    * struct-field ids: `BASE + ownerFieldId * STRIDE + chainIndex`, where
    * `owner` is the nearest enclosing id-carrying struct field and
    * `chainIndex` enumerates the pure container chain under it in traversal
    * order. DETERMINISTIC, not a render counter — so the same column keeps
    * the SAME element id in every schema and every re-render, and a column
    * added later (`maxId + 1` in the struct band) can never collide with an
    * element id an earlier render already published to foreign readers. */
  private val ElementIdBase = 1 << 27
  private val ElementIdStride = 32

  /** Fresh per-owner chain allocator for the container nodes under one
    * struct field. Fails loudly past the stride (pure array/map nesting 16+
    * levels deep) instead of colliding with the next field's band. */
  private def elementIdsFor(f: StructField): () => Int = {
    val owner = iid(f)
    require(owner >= 0, s"field ${f.name} has no graft.id — fillMissingIds must run first")
    require(owner < (Int.MaxValue - ElementIdBase) / ElementIdStride,
      s"field id $owner too large for the element-id band")
    var chain = 0
    () => {
      require(chain < ElementIdStride,
        s"container nesting under ${f.name} exceeds $ElementIdStride nodes")
      val v = ElementIdBase + owner * ElementIdStride + chain
      chain += 1
      v
    }
  }

  /** Container nodes on the pure array/map chain of one field's type
    * (stops at struct boundaries — nested struct fields own their own
    * chains). Mirrors [[icebergType]]'s allocation order for last-column-id. */
  private def chainLen(dt: DataType): Int = dt match {
    case ArrayType(e, _)  => 1 + chainLen(e)
    case MapType(k, v, _) => 2 + chainLen(k) + chainLen(v)
    case _                => 0
  }

  /** Largest field OR element id the exported schema uses (spec
    * `last-column-id` must dominate every id ever assigned). */
  private def maxUsedId(dt: DataType): Int = dt match {
    case st: StructType => (st.fields.map { f =>
      val chain = chainLen(f.dataType)
      val elemMax =
        if (chain > 0) ElementIdBase + iid(f) * ElementIdStride + chain - 1 else 0
      Seq(iid(f), elemMax, maxUsedId(f.dataType)).max
    } :+ 0).max
    case ArrayType(e, _)   => maxUsedId(e)
    case MapType(k, v, _)  => math.max(maxUsedId(k), maxUsedId(v))
    case _                 => 0
  }

  /** Spark type -> Iceberg type JSON (spec "Schemas and Data Types").
    * `nextId` allocates this node's container chain (see [[elementIdsFor]]);
    * struct fields start fresh chains keyed by their own ids. */
  private def icebergType(dt: DataType, nextId: () => Int): JValue = dt match {
    case st: StructType =>
      ("type" -> "struct") ~ ("fields" -> JArray(st.fields.map { f =>
        (("id" -> iid(f)) ~ ("name" -> f.name) ~ ("required" -> !f.nullable) ~
          ("type" -> icebergType(f.dataType, elementIdsFor(f)))): JValue
      }.toList))
    case ArrayType(e, containsNull) =>
      ("type" -> "list") ~ ("element-id" -> nextId()) ~
        ("element" -> icebergType(e, nextId)) ~ ("element-required" -> !containsNull)
    case MapType(k, v, valueContainsNull) =>
      ("type" -> "map") ~ ("key-id" -> nextId()) ~ ("key" -> icebergType(k, nextId)) ~
        ("value-id" -> nextId()) ~ ("value" -> icebergType(v, nextId)) ~
        ("value-required" -> !valueContainsNull)
    case d: DecimalType     => JString(s"decimal(${d.precision}, ${d.scale})")
    case IntegerType | ShortType | ByteType => JString("int")
    case LongType           => JString("long")
    case FloatType          => JString("float")
    case DoubleType         => JString("double")
    case StringType         => JString("string")
    case BooleanType        => JString("boolean")
    case DateType           => JString("date")
    case TimestampType      => JString("timestamptz")
    case TimestampNTZType   => JString("timestamp")
    case BinaryType         => JString("binary")
    case other => throw new IllegalArgumentException(
      s"no Iceberg mapping for Spark type ${other.typeName}")
  }

  /** Iceberg view-spec schema JSON for a Spark view schema. Any `graft.id`
    * metadata the analyzer propagated from scanned tables is DISCARDED and
    * every field is re-stamped with a fresh sequential id in traversal
    * order: a view joining two graft tables would otherwise carry each
    * table's ids (both starting at 0) into one schema — duplicate ids,
    * violating the view spec's uniqueness requirement. Fresh stamping is
    * still deterministic (same schema → same ids → byte-stable re-renders),
    * and container nodes draw from the same element-id bands as table
    * exports. */
  private[graft] def viewSchemaJson(st: StructType, schemaId: Int): JValue = {
    var next = 0
    def walk(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val id = next; next += 1
        f.copy(dataType = walk(f.dataType),
          metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong("graft.id", id.toLong).build())
      })
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType   => m.copy(keyType = walk(m.keyType), valueType = walk(m.valueType))
      case other        => other
    }
    val stamped = walk(st).asInstanceOf[StructType]
    icebergType(stamped, () => throw new IllegalStateException(
      "schema root must be a struct")).asInstanceOf[JObject] ~ ("schema-id" -> schemaId)
  }

  /** Render a stored graft view as Iceberg VIEW SPEC v1 metadata JSON: one
    * spec `version` + `schema` per stored view version (schema-id =
    * version-id — each replace may change the projected schema, so schemas
    * are never shared across versions), `version-log` from the stored
    * timestamps, and the defining SQL as a `spark`-dialect representation.
    * This is the document a conformant Iceberg REST client receives from
    * `loadView` — the Unity-Catalog-serves-views-to-Trino role in the
    * reference stack (`main.tf:812-816`). */
  private[graft] def renderViewMetadata(sv: graft.catalog.StoredView,
      uuid: String, location: String): String = {
    val versions = sv.allVersions
    val versionsJson = JArray(versions.map { v =>
      (("version-id" -> v.versionId) ~
        ("timestamp-ms" -> v.timestampMs) ~
        ("schema-id" -> v.versionId) ~
        ("summary" -> (("engine-name" -> "graft") ~
          ("engine-version" -> org.apache.spark.SPARK_VERSION))) ~
        ("default-catalog" -> v.currentCatalog) ~
        ("default-namespace" -> v.currentNamespace.toList) ~
        ("representations" -> JArray(List(
          ("type" -> "sql") ~ ("sql" -> v.sql) ~ ("dialect" -> "spark"))))): JValue
    }.toList)
    val schemasJson = JArray(versions.map(v => viewSchemaJson(
      DataType.fromJson(v.schemaJson).asInstanceOf[StructType], v.versionId)).toList)
    val meta: JValue =
      ("view-uuid" -> uuid) ~
      ("format-version" -> 1) ~
      ("location" -> location) ~
      ("current-version-id" -> sv.currentVersionId) ~
      ("versions" -> versionsJson) ~
      ("version-log" -> JArray(versions.map(v =>
        (("timestamp-ms" -> v.timestampMs) ~ ("version-id" -> v.versionId)): JValue).toList)) ~
      ("schemas" -> schemasJson) ~
      ("properties" -> sv.properties)
    JsonMethods.compact(JsonMethods.render(meta))
  }

  /** `schema.name-mapping.default` (spec "Name Mapping Serialization"):
    * lets readers resolve parquet columns lacking embedded field ids. The
    * `names` array carries every name a field id has EVER had across the
    * exported schemas (current name first) — a file without footer ids
    * written before a rename still resolves by its as-written column name
    * instead of silently nulling out. */
  private def nameMapping(st: StructType, history: Seq[StructType]): JArray =
    JArray(st.fields.map { f =>
      val counterparts = history.flatMap(h => h.fields.find(x => iid(x) == iid(f)))
      val names = (f.name +: counterparts.map(_.name)).distinct.toList
      val base: JObject = ("field-id" -> iid(f)) ~ ("names" -> names)
      (f.dataType match {
        case s: StructType => base ~ ("fields" -> nameMapping(s,
          counterparts.map(_.dataType).collect { case x: StructType => x }))
        case _             => base
      }): JValue
    }.toList)

  // --------------------------------------------------------- bounds encoding

  private def le(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >> (8 * i)) & 0xFF).toByte)

  /** Iceberg single-value binary serialization for the stat types whose
    * string form round-trips exactly; others are simply omitted (bounds
    * are optional). */
  private def boundBytes(typeName: String, v: String): Option[Array[Byte]] =
    Try[Array[Byte]](typeName match {
      case "integer" | "short" | "byte" => le(v.trim.toLong, 4)
      case "long"    => le(v.trim.toLong, 8)
      case "float"   => le(java.lang.Float.floatToIntBits(v.toFloat).toLong, 4)
      case "double"  => le(java.lang.Double.doubleToLongBits(v.toDouble), 8)
      case "string"  => v.getBytes(UTF_8)
      case "date"    => le(java.time.LocalDate.parse(v.trim).toEpochDay, 4)
      case "boolean" => Array[Byte](if (v.trim.toBoolean) 1 else 0)
      case "timestamp" | "timestamp_ntz" => // UTC strings; Iceberg: LE micros
        val ldt = java.time.LocalDateTime.parse(v.trim.replace(' ', 'T'))
        le(ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
           ldt.getNano / 1000L, 8)
      case d if d.startsWith("decimal") => // unscaled BE at the DECLARED scale
        val scale = "\\d+".r.findAllIn(d).toSeq.last.toInt
        new java.math.BigDecimal(v.trim).setScale(scale).unscaledValue().toByteArray
      case _         => throw new IllegalArgumentException(typeName)
    }).toOption

  // ------------------------------------------------- partition-spec export

  /** A PROVEN single partition value of one data file — typed for the Avro
    * tuple encoding and the manifest-list field-summary bounds (Iceberg
    * single-value binary). Strings order by unsigned UTF-8 bytes, the
    * spec's comparison, so summaries always contain their values. */
  private sealed trait PartVal extends Ordered[PartVal] {
    def write(b: AvroBuf): Unit
    def bound: Array[Byte]
  }
  private final case class PInt(v: Int) extends PartVal {
    def write(b: AvroBuf): Unit = { b.some(); b.int(v) }
    def bound: Array[Byte] = le(v.toLong, 4)
    def compare(o: PartVal): Int = java.lang.Integer.compare(v, o.asInstanceOf[PInt].v)
  }
  private final case class PLong(v: Long) extends PartVal {
    def write(b: AvroBuf): Unit = { b.some(); b.long(v) }
    def bound: Array[Byte] = le(v, 8)
    def compare(o: PartVal): Int = java.lang.Long.compare(v, o.asInstanceOf[PLong].v)
  }
  private final case class PStr(v: String) extends PartVal {
    def write(b: AvroBuf): Unit = { b.some(); b.str(v) }
    def bound: Array[Byte] = v.getBytes(UTF_8)
    def compare(o: PartVal): Int = {
      val (a, c) = (bound, o.asInstanceOf[PStr].bound)
      val n = math.min(a.length, c.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xFF) - (c(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      a.length - c.length
    }
  }
  private final case class PBool(v: Boolean) extends PartVal {
    def write(b: AvroBuf): Unit = { b.some(); b.bool(v) }
    def bound: Array[Byte] = Array[Byte](if (v) 1 else 0)
    def compare(o: PartVal): Int =
      java.lang.Boolean.compare(v, o.asInstanceOf[PBool].v)
  }

  /** One exportable partition-spec field: the spec JSON bits, the Avro type
    * of its tuple slot, and the per-file prover — Some(value) only when the
    * file's recorded stats PROVE every row shares that partition value. */
  private final case class SpecField(name: String, transform: String,
      sourceId: Int, fieldId: Int, avroType: String,
      prove: DataFile => Option[PartVal])

  /** ISO "yyyy-MM-dd HH:mm:ss[.ffffff]" (graft's stat string form) →
    * epoch micros, same mapping as [[boundBytes]]'s timestamp case. */
  private def isoMicros(v: String): Long = {
    val ldt = java.time.LocalDateTime.parse(v.trim.replace(' ', 'T'))
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
  }

  /** Avro schema fragment for an identity partition slot of this type;
    * None = not exportable as a partition value. */
  private def avroTypeOf(dt: DataType): Option[String] = dt match {
    case IntegerType | ShortType | ByteType => Some("\"int\"")
    case LongType      => Some("\"long\"")
    case StringType    => Some("\"string\"")
    case BooleanType   => Some("\"boolean\"")
    case DateType      => Some("""{"type":"int","logicalType":"date"}""")
    case TimestampType =>
      Some("""{"type":"long","logicalType":"timestamp-micros","adjust-to-utc":true}""")
    case TimestampNTZType =>
      Some("""{"type":"long","logicalType":"timestamp-micros","adjust-to-utc":false}""")
    case _             => None
  }

  private def identityVal(dt: DataType, v: String): Option[PartVal] =
    Try[PartVal](dt match {
      case IntegerType | ShortType | ByteType => PInt(v.trim.toInt)
      case LongType    => PLong(v.trim.toLong)
      case StringType  => PStr(v)
      case BooleanType => PBool(v.trim.toBoolean)
      case DateType    => PInt(java.time.LocalDate.parse(v.trim).toEpochDay.toInt)
      case TimestampType | TimestampNTZType => PLong(isoMicros(v))
      case _ => throw new IllegalArgumentException(dt.typeName)
    }).toOption

  /** Avro record field names are [A-Za-z_][A-Za-z0-9_]* — a partition field
    * whose name can't be an Avro name is dropped from the exported spec
    * (files just lose that pruning dimension, never rows). */
  private val AvroName = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** Exportable spec fields for the table's `write.partition-by` transforms.
    * `bucket(n)` never exports (graft buckets with xxhash64, not Iceberg's
    * murmur3 `bucket[N]` — a spec claim would make foreign readers
    * mis-prune); the rest map 1:1 onto Iceberg spec transforms. */
  private def specFieldsOf(head: Snapshot, schema: StructType): Seq[SpecField] = {
    val parsed = Try(PartitionTransform.parseList(
      head.properties.get("write.partition-by"), schema)).getOrElse(Seq.empty)
    def src(name: String): Option[StructField] = schema.fields.find(_.name == name)
    // single-valued proof: transform bounds collapse AND the source column
    // has zero nulls (transforms are null-preserving, and min/max aggs skip
    // nulls — a null-source row would carry a NULL partition value the
    // collapsed bounds can't see)
    def noNulls(f: DataFile, col: String): Boolean =
      f.stats.get(col).exists(_.nullCount == 0)
    def single(f: DataFile, key: String): Option[String] =
      f.stats.get(key).filter(cs => cs.min == cs.max).map(_.min)
    parsed.flatMap {
      case PartitionTransform.Identity(s0) =>
        for {
          sf <- src(s0)
          if iid(sf) > 0 && AvroName.matches(s0)
          at <- avroTypeOf(sf.dataType)
        } yield SpecField(s0, "identity", iid(sf), 0, at,
          f => f.stats.get(s0)
            .filter(cs => cs.min == cs.max && cs.nullCount == 0)
            .flatMap(cs => identityVal(sf.dataType, cs.min)))
      case tr @ PartitionTransform.Truncate(s0, w, isString) =>
        for {
          sf <- src(s0)
          if iid(sf) > 0 && AvroName.matches(s0)
          at <- sf.dataType match {
            case StringType                         => Some("\"string\"")
            case IntegerType | ShortType | ByteType => Some("\"int\"")
            case LongType                           => Some("\"long\"")
            case _                                  => None
          }
        } yield SpecField(s"${s0}_trunc", s"truncate[$w]", iid(sf), 0, at,
          f => single(f, tr.canonical).filter(_ => noNulls(f, s0)).flatMap(v =>
            if (isString) Some(PStr(v))
            else Try[PartVal](sf.dataType match {
              case LongType => PLong(v.trim.toLong)
              case _        => PInt(v.trim.toInt)
            }).toOption))
      case tt @ PartitionTransform.TimeTrunc(s0, fn, _) =>
        val (tname, at) = fn match {
          case "years"  => ("year", "\"int\"")
          case "months" => ("month", "\"int\"")
          case "days"   => ("day", """{"type":"int","logicalType":"date"}""")
          case "hours"  => ("hour", "\"int\"")
        }
        for { sf <- src(s0) if iid(sf) > 0 && AvroName.matches(s0) } yield
          SpecField(s"${s0}_$tname", tname, iid(sf), 0, at,
            f => single(f, tt.canonical).filter(_ => noNulls(f, s0)).flatMap(v =>
              // native stats ARE the Iceberg spec integer now; legacy logs
              // recorded the old session-zone ISO rendering — translate it
              // (it was written under an assumed-UTC session, the same
              // assumption boundBytes has always made)
              Try[PartVal](PInt(v.trim.toInt)).orElse(Try[PartVal] {
                val ldt = java.time.LocalDateTime.parse(v.trim.replace(' ', 'T'))
                fn match {
                  case "years"  => PInt(ldt.getYear - 1970)
                  case "months" => PInt((ldt.getYear - 1970) * 12 + ldt.getMonthValue - 1)
                  case "days"   => PInt(ldt.toLocalDate.toEpochDay.toInt)
                  case "hours"  => PInt(Math.floorDiv(
                    ldt.toEpochSecond(java.time.ZoneOffset.UTC), 3600L).toInt)
                }
              }).toOption))
      case tb @ PartitionTransform.IcebergBucket(s0, n) =>
        // spec-hash bucket (murmur3, IcebergMurmur3): the claim is TRUE for
        // foreign readers, so it exports — unlike the xxhash64 `bucket` below
        for { sf <- src(s0) if iid(sf) > 0 && AvroName.matches(s0) } yield
          SpecField(s"${s0}_bucket", s"bucket[$n]", iid(sf), 0, "\"int\"",
            f => single(f, tb.canonical).filter(_ => noNulls(f, s0)).flatMap(v =>
              Try[PartVal](PInt(v.trim.toInt)).toOption))
      case _: PartitionTransform.Bucket => None
    }.zipWithIndex.map { case (sf, i) => sf.copy(fieldId = 1000 + i) }
  }

  // ----------------------------------------------------- manifest avro forms

  /** Manifest-entry Avro schema; `partitionFields` injects the typed slots
    * of the manifest's partition spec into the r102 record (empty for
    * spec-0 / unpartitioned manifests). */
  private def manifestEntrySchema(partitionFields: String, v3: Boolean): String = {
    // v3 deletion-vector reference fields (Iceberg spec data_file 143-145);
    // only v3 manifests declare them so v2 output stays byte-identical
    val dvFields = if (!v3) "" else
      """,{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}""".stripMargin
    s"""{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int","field-id":134},
      |{"name":"file_path","type":"string","field-id":100},
      |{"name":"file_format","type":"string","field-id":101},
      |{"name":"partition","type":{"type":"record","name":"r102","fields":[$partitionFields]},"field-id":102},
      |{"name":"record_count","type":"long","field-id":103},
      |{"name":"file_size_in_bytes","type":"long","field-id":104},
      |{"name":"value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k119_v120","fields":[{"name":"key","type":"int","field-id":119},{"name":"value","type":"long","field-id":120}]},"logicalType":"map"}],"default":null,"field-id":109},
      |{"name":"null_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k121_v122","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]},"logicalType":"map"}],"default":null,"field-id":110},
      |{"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125},
      |{"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128},
      |{"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}$dvFields
      |]},"field-id":2}]}""".stripMargin.replace("\n", "")
  }

  private val ManifestFileSchema: String =
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514},
      |{"name":"partitions","type":["null",{"type":"array","items":{"type":"record","name":"r508","fields":[
      |{"name":"contains_null","type":"boolean","field-id":509},
      |{"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      |{"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |{"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      |]}}],"default":null,"field-id":507}]}""".stripMargin.replace("\n", "")

  /** One manifest_entry record (data or delete file). All entries are
    * EXISTING with explicit sequence numbers — see object doc. */
  private def encodeEntry(addedBy: Long, seq: Long, content: Int, path: String,
      rows: Long, sizeBytes: Long,
      valueCounts: Seq[(Int, Long)], nullCounts: Seq[(Int, Long)],
      lower: Seq[(Int, Array[Byte])], upper: Seq[(Int, Array[Byte])],
      eqIds: Option[Seq[Int]], partition: Seq[PartVal] = Nil,
      fileFormat: String = "PARQUET",
      // v3 manifests declare the DV fields; a deletion-vector entry fills
      // them (referenced data file URI, blob offset, blob length)
      v3: Boolean,
      dv: Option[(String, Long, Long)] = None): Array[Byte] = {
    val b = new AvroBuf
    b.int(0)                    // status EXISTING
    b.some(); b.long(addedBy)   // snapshot_id that added the file
    b.some(); b.long(seq)       // data sequence number
    b.some(); b.long(seq)       // file sequence number
    b.int(content)              // 0 data, 1 position deletes, 2 equality deletes
    b.str(path)
    b.str(fileFormat)
    // partition r102 record: the manifest spec's tuple slots in order
    // (empty record = no bytes for unpartitioned manifests)
    partition.foreach(_.write(b))
    b.long(rows)
    b.long(sizeBytes)
    def kvLongs(m: Seq[(Int, Long)]): Unit =
      if (m.isEmpty) b.none()
      else { b.some(); b.arrayBlock(m.size) { m.foreach { case (k, v) => b.int(k); b.long(v) } } }
    def kvBytes(m: Seq[(Int, Array[Byte])]): Unit =
      if (m.isEmpty) b.none()
      else { b.some(); b.arrayBlock(m.size) { m.foreach { case (k, v) => b.int(k); b.bytes(v) } } }
    kvLongs(valueCounts); kvLongs(nullCounts); kvBytes(lower); kvBytes(upper)
    eqIds match {
      case None      => b.none()
      case Some(ids) => b.some(); b.arrayBlock(ids.size) { ids.foreach(b.int) }
    }
    if (v3) dv match {
      case None => b.none(); b.none(); b.none()
      case Some((ref, off, len)) =>
        b.some(); b.str(ref)
        b.some(); b.long(off)
        b.some(); b.long(len)
    }
    b.toBytes
  }

  /** One manifest_file record. `summaries` (per spec field: lower/upper
    * bound bytes) is emitted for partitioned manifests so readers prune
    * whole manifests before opening them; contains_null is always false —
    * only files PROVEN null-free carry partition tuples. */
  private def encodeManifestFile(manifestPath: String, length: Long,
      content: Int, seq: Long, minSeq: Long, addedBy: Long,
      fileCount: Int, rowCount: Long, specId: Int = 0,
      summaries: Seq[(Array[Byte], Array[Byte])] = Nil): Array[Byte] = {
    val b = new AvroBuf
    b.str(manifestPath)
    b.long(length)
    b.int(specId)
    b.int(content)  // 0 data, 1 deletes
    b.long(seq)
    b.long(minSeq)
    b.long(addedBy)
    b.int(0); b.int(fileCount); b.int(0)   // added/existing/deleted files
    b.long(0L); b.long(rowCount); b.long(0L) // added/existing/deleted rows
    if (summaries.isEmpty) b.none()
    else {
      b.some()
      b.arrayBlock(summaries.size) {
        summaries.foreach { case (lo, hi) =>
          b.bool(false)             // contains_null
          b.none()                  // contains_nan unknown
          b.some(); b.bytes(lo)
          b.some(); b.bytes(hi)
        }
      }
    }
    b.toBytes
  }

  // ----------------------------------------------------------------- export

  /** Write the full Iceberg table-metadata tree for `table` under
    * `outDir/metadata`, HadoopTables layout (`v1.metadata.json` +
    * `version-hint.text`), and return the metadata.json path.
    * `formatVersion` 3 renders MOR positional deletes as Puffin DELETION
    * VECTORS (v3 metadata, row-lineage fields included) instead of
    * positional-delete parquet entries. */
  def export(table: GraftTable, outDir: String): String =
    export(table, outDir, 2)
  def export(table: GraftTable, outDir: String, formatVersion: Int): String =
    export(table.log, table.path, outDir,
      table.spark.sparkContext.hadoopConfiguration, formatVersion)

  /** Session-free form (only the snapshot log and the table root are
    * needed): lets [[graft.rest.RestCatalogServer]] render and serve
    * Iceberg metadata without a SparkSession. Returns the metadata.json
    * path (same filesystem as `outDir`). */
  def export(log: SnapshotLog, tablePath: String, outDir: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration(),
      formatVersion: Int = 2): String = {
    require(formatVersion == 2 || formatVersion == 3,
      s"unsupported export format-version $formatVersion")
    val v3 = formatVersion == 3
    // absolutize a plain relative outDir: metadata URIs must be absolute
    // (`file://<relative>` would parse its first segment as an authority)
    val outAbs =
      if (outDir.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*") || outDir.startsWith("/")) outDir
      else new java.io.File(outDir).getAbsolutePath
    val metaDir = s"${outAbs.stripSuffix("/")}/metadata"
    mkdirs(metaDir, conf)
    /** Absolute URI of a metadata file we write (manifest-list entries and
      * snapshot manifest-list pointers are URIs per spec). */
    def metaUri(name: String): String = {
      val p = s"$metaDir/$name"
      if (p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*")) p else s"file://$p"
    }
    def schemaOfSnap(s: Snapshot, id: Int): StructType =
      org.apache.spark.sql.types.DataType.fromJson(s.schemas(id.toString))
        .asInstanceOf[StructType]
    def resolvePath(p: String): String =
      if (p.startsWith("/") || p.contains("://")) p else s"$tablePath/$p"

    // main lineage = parent chain from the current head (oldest first)
    val chain = {
      var acc = List.empty[Snapshot]
      var v = log.currentVersion
      while (v >= 0 && Try(log.snapshot(v)).isSuccess) {
        val s = log.snapshot(v); acc = s :: acc; v = s.parent
      }
      acc
    }
    // a table dropped mid-render leaves an empty chain: surface it as the
    // vanished-resource shape (the REST layer maps it to 404), not a bare
    // NoSuchElementException 500 (ConcurrencySoakSpec drop-vs-create race)
    if (chain.isEmpty)
      throw new java.io.FileNotFoundException(
        s"$tablePath has no readable snapshots (concurrently dropped?)")
    val head = chain.last
    // EVERY schema in the head exports (files pin to the schema they were
    // written under — a foreign reader or re-import must resolve pre-rename
    // files by their own schema, not silently null renamed columns).
    // Legacy nested fields written before nested id stamping can lack
    // graft.id — allocate them fresh ids above the GLOBAL maximum (one
    // counter across all schemas, so filled ids never collide between
    // schemas or with ids a later evolution takes).
    val allSchemaIds = head.schemas.keys.map(_.toInt).toSeq.sorted
    var fillNext = allSchemaIds.map(id => maxGraftId(schemaOfSnap(head, id))).max
    def fillMissingIds(root: StructType): StructType = {
      def walk(dt: DataType): DataType = dt match {
        case s: StructType => StructType(s.fields.map { f =>
          val nd = f.copy(dataType = walk(f.dataType))
          if (f.metadata.contains("graft.id")) nd
          else {
            val id = fillNext; fillNext += 1
            nd.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong("graft.id", id.toLong).build())
          }
        })
        case a: ArrayType => a.copy(elementType = walk(a.elementType))
        case m: MapType   => m.copy(keyType = walk(m.keyType), valueType = walk(m.valueType))
        case other        => other
      }
      walk(root).asInstanceOf[StructType]
    }
    val schemasWithIds: Map[Int, StructType] =
      allSchemaIds.map(id => id -> fillMissingIds(schemaOfSnap(head, id))).toMap
    val schemaWithIds = schemasWithIds(head.currentSchemaId)
    // root is a struct, so the root-level allocator can never fire; every
    // container node inside draws from its owning field's deterministic band
    val rootNextId: () => Int =
      () => throw new IllegalStateException("schema root must be a struct")
    val lastColumnId = allSchemaIds.map(id => maxUsedId(schemasWithIds(id))).max
    val schemaJsonById: Map[Int, JValue] = allSchemaIds.map(id =>
      id -> (icebergType(schemasWithIds(id), rootNextId).asInstanceOf[JObject] ~
        ("schema-id" -> id): JValue)).toMap
    val schemaJsonStrById: Map[Int, String] = schemaJsonById.view
      .mapValues(j => JsonMethods.compact(JsonMethods.render(j))).toMap

    def fileUri(p: String): String = {
      val abs = resolvePath(p)
      if (abs.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*")) abs else s"file://$abs"
    }

    // name -> iceberg id, against the schema the file was WRITTEN with;
    // id-less legacy fields are omitted (their stats just don't export)
    def idsFor(schemaId: Int): Map[String, Int] = {
      val st = schemasWithIds.getOrElse(schemaId, schemaWithIds)
      st.fields.map(f => f.name -> iid(f)).filter(_._2 > 0).toMap
    }

    def statsOf(f: DataFile): (Seq[(Int, Long)], Seq[(Int, Long)],
        Seq[(Int, Array[Byte])], Seq[(Int, Array[Byte])]) = {
      val ids = idsFor(f.schemaId)
      val known = f.stats.toSeq.flatMap { case (name, cs) =>
        ids.get(name).map(id => (id, cs))
      }.sortBy(_._1)
      val vc = known.map { case (id, _) => (id, f.rows) }
      val nc = known.collect { case (id, cs) if cs.nullCount >= 0 => (id, cs.nullCount) }
      // all-null marker entries (empty bounds, nullCount == rows) export
      // their null count but NO bounds — the spec omits bounds when a
      // column has no non-null values (an empty-bytes string bound would
      // be a fabricated claim)
      def real(cs: ColumnStats): Boolean =
        !(cs.min.isEmpty && cs.max.isEmpty && cs.nullCount == f.rows)
      val lo = known.flatMap { case (id, cs) if real(cs) =>
        boundBytes(cs.dataType, cs.min).map((id, _)); case _ => None }
      val hi = known.flatMap { case (id, cs) if real(cs) =>
        boundBytes(cs.dataType, cs.max).map((id, _)); case _ => None }
      (vc, nc, lo, hi)
    }

    // ---- partition spec: the spec-expressible transforms of
    // write.partition-by (spec-id 1); spec-id 0 stays unpartitioned for
    // files the stats can't prove single-valued
    val specFields = specFieldsOf(head, schemaWithIds)
    val specFieldsJsonStr = JsonMethods.compact(JsonMethods.render(JArray(
      specFields.map(sf => (("name" -> sf.name) ~ ("transform" -> sf.transform) ~
        ("source-id" -> sf.sourceId) ~ ("field-id" -> sf.fieldId)): JValue).toList)))
    val partitionAvroFields = specFields.map(sf =>
      s"""{"name":"${sf.name}","type":["null",${sf.avroType}],"default":null,"field-id":${sf.fieldId}}""")
      .mkString(",")

    // Manifests are content-addressed on their entry bytes, so unchanged
    // file lists share one manifest across exported snapshots — the commit
    // chain exports O(changed files), like the snapshot log itself.
    val manifestCache = scala.collection.mutable.Map.empty[String, (String, Long, Long, Long, Int, Long)]
    def writeManifest(entries: Seq[Array[Byte]], content: String, seqs: Seq[Long],
        addedBy: Long, rows: Long, specId: Int = 0,
        schemaId: Int = head.currentSchemaId): (String, Long, Long, Long, Int, Long) = {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      entries.foreach(digest.update)
      digest.update(s"$content-$specId-$schemaId".getBytes(UTF_8))
      val hash = digest.digest().take(10).map("%02x".format(_)).mkString
      manifestCache.getOrElseUpdate(hash, {
        val name = s"m-$content-$hash.avro"
        val sid = if (schemaJsonStrById.contains(schemaId)) schemaId
                  else head.currentSchemaId
        val len = writeContainer(s"$metaDir/$name",
          manifestEntrySchema(if (specId == 0) "" else partitionAvroFields, v3), Map(
          // the schema this manifest's files were WRITTEN under: importers
          // and name-mapping-less readers pin per-file resolution to it
          "schema" -> schemaJsonStrById(sid),
          "schema-id" -> sid.toString,
          "partition-spec" -> (if (specId == 0) "[]" else specFieldsJsonStr),
          "partition-spec-id" -> specId.toString,
          "format-version" -> formatVersion.toString,
          "content" -> content), entries, conf)
        (metaUri(name), len, seqs.max, seqs.min, entries.size, rows)
      })
    }

    /** Scheme-insensitive path identity (graft's own canonical-path rule):
      * delete-row `file_path` values are parquet `_metadata` renderings
      * (`file:///a`), manifest URIs are `file://a` — same file. */
    def canonPath(p: String): String =
      p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?+(?=/)", "")

    // row lineage (v3): each snapshot's first-row-id is the running total
    // of rows in data files first seen before it; next-row-id continues
    // after the head (spec v3 required fields)
    val (firstRowIds: Map[Long, Long], nextRowId: Long) = {
      val seen = scala.collection.mutable.Set.empty[String]
      var next = 0L
      val ids = chain.map { s =>
        val fr = next
        s.files.filterNot(f => seen(f.path)).foreach { f => seen += f.path; next += f.rows }
        s.version -> fr
      }.toMap
      (ids, next)
    }

    // Iceberg sequence numbers must be non-negative; graft tables IMPORTED
    // from Iceberg carry rank-compressed NEGATIVE seqs ([[IcebergImport]]).
    // A uniform shift preserves scoping exactly (it is purely ordinal) and
    // keeps the re-export spec-valid.
    val seqShift = math.max(0L, -chain.flatMap(s =>
      s.files.map(_.seq) ++ s.deleteFiles.map(_.seq) ++ s.eqDeleteFiles.map(_.seq))
      .minOption.getOrElse(0L))

    val snapshotsJson = chain.map { s =>
      val snapSeq = s.version + seqShift
      // partition tuples proven from per-file stats: those files export in
      // a spec-1 manifest (pruned by foreign readers), the rest in the
      // spec-0 unpartitioned manifest (scanned, never wrong)
      val tuples: Map[String, Seq[PartVal]] =
        if (specFields.isEmpty) Map.empty
        else s.files.flatMap { f =>
          val vs = specFields.map(_.prove(f))
          if (vs.forall(_.isDefined)) Some(f.path -> vs.map(_.get)) else None
        }.toMap
      val (partFiles, plainFiles) = s.files.partition(f => tuples.contains(f.path))
      def dataEntry(f: DataFile, tuple: Seq[PartVal]): Array[Byte] = {
        val (vc, nc, lo, hi) = statsOf(f)
        encodeEntry(f.seq + seqShift, f.seq + seqShift, 0, fileUri(f.path),
          f.rows, f.bytes, vc, nc, lo, hi, None, tuple, v3 = v3)
      }
      val manifests = Seq.newBuilder[Array[Byte]]
      // one manifest per (written-under schema, spec): each manifest is
      // stamped with ITS files' schema-id — a reader resolving files
      // without footer ids must use the schema they were written under,
      // not the current one (a rename would silently null the column)
      for ((sid, files) <- plainFiles.groupBy(_.schemaId).toSeq.sortBy(_._1)) {
        val seqs = files.map(_.seq + seqShift)
        val (p, len, mx, mn, n, rows) = writeManifest(
          files.map(dataEntry(_, Nil)), "data", seqs,
          s.version, files.map(_.rows).sum, schemaId = sid)
        manifests += encodeManifestFile(p, len, 0, mx, mn, s.version, n, rows)
      }
      for ((sid, files) <- partFiles.groupBy(_.schemaId).toSeq.sortBy(_._1)) {
        val seqs = files.map(_.seq + seqShift)
        val (p, len, mx, mn, n, rows) = writeManifest(
          files.map(f => dataEntry(f, tuples(f.path))), "datap", seqs,
          s.version, files.map(_.rows).sum, specId = 1, schemaId = sid)
        val summaries = specFields.indices.map { i =>
          val vals = files.map(f => tuples(f.path)(i))
          (vals.min.bound, vals.max.bound)
        }
        manifests += encodeManifestFile(p, len, 0, mx, mn, s.version, n, rows,
          specId = 1, summaries = summaries)
      }
      // v3: positional-delete parquet renders as deletion vectors — one
      // Puffin blob per live data file, folded from every delete file of
      // the snapshot (positions are explicit, so merging under the max
      // contributing sequence number preserves semantics exactly); rows
      // targeting data files no longer in the snapshot are dropped (a DV
      // must reference a live file). v2 keeps the parquet entries.
      if (v3 && s.deleteFiles.nonEmpty) {
        val uriByCanon = s.files.map(f => canonPath(fileUri(f.path)) -> fileUri(f.path)).toMap
        val grouped: Seq[(String, Seq[Long], Long)] = s.deleteFiles
          .flatMap(f => DeletionVector.readDeleteParquet(resolvePath(f.path), conf)
            .map { case (dp, pos) => (canonPath(dp), pos, f.seq + seqShift) })
          .groupBy(_._1).toSeq
          .flatMap { case (c, rs) => uriByCanon.get(c).map(uri =>
            (uri, rs.map(_._2).distinct.sorted, rs.map(_._3).max)) }
          .sortBy(_._1)
        if (grouped.nonEmpty) {
          val blobs = grouped.map { case (uri, ps, seq) =>
            Puffin.Blob(DeletionVector.BlobType, Nil, s.version, seq,
              DeletionVector.serialize(ps),
              Map("referenced-data-file" -> uri, "cardinality" -> ps.size.toString))
          }
          val (pBytes, _) = Puffin.write(blobs, Map.empty)
          val pHash = java.security.MessageDigest.getInstance("SHA-256")
            .digest(pBytes).take(10).map("%02x".format(_)).mkString
          val pName = s"dv-$pHash.puffin"
          writeAtomic(s"$metaDir/$pName", pBytes, conf)
          val metas = Puffin.read(pBytes)._1 // write-order aligned
          val dvEntries = grouped.zip(metas).map { case ((uri, ps, seq), m) =>
            encodeEntry(s.version, seq, 1, metaUri(pName), ps.size.toLong,
              pBytes.length.toLong, Nil, Nil, Nil, Nil, None,
              fileFormat = "PUFFIN", v3 = true,
              dv = Some((uri, m.offset, m.length)))
          }
          val seqs = grouped.map(_._3)
          val rows = grouped.map(_._2.size.toLong).sum
          val (p, len, mx, mn, n, r) =
            writeManifest(dvEntries, "dv", seqs, s.version, rows)
          manifests += encodeManifestFile(p, len, 1, mx, mn, s.version, n, r)
        }
      }
      val deleteGroups =
        ((if (v3) Seq.empty
          else s.deleteFiles.map(f => (f.schemaId, Left(f): Either[DataFile, EqDeleteFile]))) ++
         s.eqDeleteFiles.map(e => (e.file.schemaId, Right(e): Either[DataFile, EqDeleteFile])))
          .groupBy(_._1).toSeq.sortBy(_._1)
      for ((sid, group) <- deleteGroups) {
        val entries = group.map {
          case (_, Left(f)) =>
            encodeEntry(f.seq + seqShift, f.seq + seqShift, 1, fileUri(f.path),
              f.rows, f.bytes, Nil, Nil, Nil, Nil, None, v3 = v3)
          case (_, Right(e)) =>
            val ids = idsFor(e.file.schemaId)
            val eqIds = if (e.colIds.nonEmpty) e.colIds.map(_ + 1) else e.cols.flatMap(ids.get)
            encodeEntry(e.seq + seqShift, e.seq + seqShift, 2, fileUri(e.file.path),
              e.file.rows, e.file.bytes, Nil, Nil, Nil, Nil, Some(eqIds), v3 = v3)
        }
        val seqs = group.map {
          case (_, Left(f)) => f.seq + seqShift
          case (_, Right(e)) => e.seq + seqShift
        }
        val rows = group.map {
          case (_, Left(f)) => f.rows
          case (_, Right(e)) => e.file.rows
        }.sum
        val (p, len, mx, mn, n, r) =
          writeManifest(entries, "deletes", seqs, s.version, rows, schemaId = sid)
        manifests += encodeManifestFile(p, len, 1, mx, mn, s.version, n, r)
      }
      val listName = f"snap-${s.version}%d-manifest-list.avro"
      writeContainer(s"$metaDir/$listName", ManifestFileSchema, Map(
        "snapshot-id" -> s.version.toString,
        "sequence-number" -> snapSeq.toString,
        "parent-snapshot-id" -> (if (s.parent >= 0) s.parent.toString else "null"),
        "format-version" -> formatVersion.toString), manifests.result(), conf)
      val op = s.operation match {
        case "append" | "create" | "import"            => "append"
        case "rewrite-data" | "rewrite-manifests"      => "replace"
        case "delete"                                  => "delete"
        case _                                         => "overwrite"
      }
      val base: JObject =
        ("snapshot-id" -> s.version) ~
        ("sequence-number" -> snapSeq) ~
        ("timestamp-ms" -> s.timestampMs) ~
        ("manifest-list" -> metaUri(listName)) ~
        // graft's commit-scoped summary entries (wap.id, published-wap-id,
        // ...) export as extra Iceberg summary keys — operation stays the
        // spec-required key and wins any collision
        ("summary" -> (s.summary.foldLeft(("operation" -> op): JObject) {
          case (acc, (k, v)) if k != "operation" => acc ~ (k -> v)
          case (acc, _) => acc
        })) ~
        ("schema-id" -> (if (schemasWithIds.contains(s.currentSchemaId))
          s.currentSchemaId else head.currentSchemaId))
      val withLineage = if (v3) base ~ ("first-row-id" -> firstRowIds(s.version)) else base
      (if (s.parent >= 0) withLineage ~ ("parent-snapshot-id" -> s.parent)
       else withLineage): JValue
    }

    val tableProps = head.properties.view
      .filterKeys(k => !k.startsWith("write.")).toMap +
      ("schema.name-mapping.default" ->
        JsonMethods.compact(JsonMethods.render(nameMapping(schemaWithIds,
          (schemasWithIds - head.currentSchemaId).values.toSeq)))) +
      ("format-version" -> formatVersion.toString)

    val locationUri =
      if (tablePath.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*")) tablePath
      else s"file://$tablePath"

    // ANALYZE's Puffin statistics file (written by computeColumnStats)
    // surfaces through the spec `statistics` field: path + footer size +
    // per-blob metadata, so a foreign engine reads NDV sketches without
    // scanning. Skipped when the analyzed snapshot has been expired out of
    // the exported chain (a statistics entry must reference a live
    // snapshot) or the file is unreadable — stats are advisory, never a
    // reason to fail the metadata render.
    val statisticsJson: List[JValue] =
      head.properties.get("stats.puffin.path").toList.flatMap { rel =>
        try {
          val statSnap = head.properties.get("stats.puffin.snapshot-id")
            .map(_.toLong).getOrElse(head.version)
          if (!chain.exists(_.version == statSnap)) Nil
          else {
            val bytes = log.io.readBytes(s"$tablePath/$rel")
            val (blobMetas, _, _) = Puffin.read(bytes)
            val payloadSize = java.nio.ByteBuffer
              .wrap(bytes, bytes.length - 12, 4)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
            List((("snapshot-id" -> statSnap) ~
              ("statistics-path" -> s"$locationUri/$rel") ~
              ("file-size-in-bytes" -> bytes.length.toLong) ~
              ("file-footer-size-in-bytes" -> (payloadSize + 16).toLong) ~
              ("blob-metadata" -> JArray(blobMetas.map(m =>
                (("type" -> m.blobType) ~
                  ("snapshot-id" -> m.snapshotId) ~
                  ("sequence-number" -> m.sequenceNumber) ~
                  ("fields" -> m.fields.toList) ~
                  ("properties" -> m.properties)): JValue).toList))): JValue)
          }
        } catch { case scala.util.control.NonFatal(_) => Nil }
      }

    // `write.sort-by` (WRITE ORDERED BY — identity columns) exports as a
    // true Iceberg sort order so foreign writers see and can keep the
    // declared clustering — the mirror of the IRC createTable path, which
    // translates an incoming write-order INTO write.sort-by. Columns that
    // no longer resolve in the current schema (dropped after the order was
    // set) are skipped rather than exporting a dangling source-id.
    val sortFields: Seq[JValue] = head.properties.get("write.sort-by").toSeq
      .flatMap(SortField.parseList)
      .flatMap(sf => schemaWithIds.fields.find(_.name == sf.name).map(sf -> _))
      .filter { case (_, f) => iid(f) > 0 }
      .map { case (sf, f) =>
        (("transform" -> "identity") ~ ("source-id" -> iid(f)) ~
          ("direction" -> sf.direction) ~ ("null-order" -> sf.nullOrder)): JValue }

    val lineageFields: JObject =
      if (v3) ("next-row-id" -> nextRowId): JObject else JObject(Nil)
    val metadata: JObject =
      ("format-version" -> formatVersion) ~
      ("table-uuid" -> java.util.UUID.nameUUIDFromBytes(tablePath.getBytes(UTF_8)).toString) ~
      ("location" -> locationUri) ~
      lineageFields ~
      ("last-sequence-number" -> (head.version + seqShift)) ~
      ("last-updated-ms" -> head.timestampMs) ~
      ("last-column-id" -> lastColumnId) ~
      ("current-schema-id" -> head.currentSchemaId) ~
      ("schemas" -> JArray(allSchemaIds.map(schemaJsonById).toList)) ~
      ("default-spec-id" -> (if (specFields.nonEmpty) 1 else 0)) ~
      ("partition-specs" -> JArray(
        (("spec-id" -> 0) ~ ("fields" -> JArray(Nil))) ::
          (if (specFields.nonEmpty)
            List(("spec-id" -> 1) ~ ("fields" -> JArray(
              specFields.map(sf => (("name" -> sf.name) ~
                ("transform" -> sf.transform) ~ ("source-id" -> sf.sourceId) ~
                ("field-id" -> sf.fieldId)): JValue).toList)))
          else Nil))) ~
      ("last-partition-id" -> (999 + specFields.size)) ~
      ("default-sort-order-id" -> (if (sortFields.nonEmpty) 1 else 0)) ~
      ("sort-orders" -> JArray(
        (("order-id" -> 0) ~ ("fields" -> JArray(Nil))) ::
          (if (sortFields.nonEmpty)
            List(("order-id" -> 1) ~ ("fields" -> JArray(sortFields.toList)))
          else Nil))) ~
      ("properties" -> tableProps) ~
      ("current-snapshot-id" -> head.version) ~
      // main + every graft branch/tag whose snapshot survives in the chain
      // (a user ref literally named "main" is dropped: the key must stay
      // unique and main IS the head by definition)
      ("refs" -> log.refs
        .filter { case (name, r) =>
          name != "main" && chain.exists(_.version == r.version) }
        .foldLeft(("main" -> (("snapshot-id" -> head.version) ~
            ("type" -> "branch"))): JObject) { case (acc, (name, r)) =>
          acc ~ (name -> (("snapshot-id" -> r.version) ~ ("type" -> r.refType)))
        }) ~
      ("snapshots" -> JArray(snapshotsJson)) ~
      ("snapshot-log" -> JArray(chain.map(s =>
        (("timestamp-ms" -> s.timestampMs) ~ ("snapshot-id" -> s.version)): JValue))) ~
      ("metadata-log" -> JArray(Nil)) ~
      ("statistics" -> JArray(statisticsJson))

    // metadata.json is published LAST and atomically (temp + rename): a
    // reader that sees it can read every manifest it references
    val metadataPath = s"$metaDir/v1.metadata.json"
    writeAtomic(metadataPath,
      JsonMethods.pretty(JsonMethods.render(metadata)).getBytes(UTF_8), conf)
    writeAtomic(s"$metaDir/version-hint.text", "1".getBytes(UTF_8), conf)
    metadataPath
  }
}
