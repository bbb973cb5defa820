package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.table.{GraftTable, IcebergImport}

/** Fuzz the metadata IMPORT parsers the way the REST surface was fuzzed
  * (PlanFuzzSpec / RestFuzzSpec pattern): seeded hostile inputs, an
  * explicit crash-hygiene property, real fixtures mutated one layer at a
  * time. Imports consume FOREIGN metadata — an Iceberg metadata.json +
  * Avro manifest tree written by another engine — which is exactly where
  * malformed, truncated, or adversarial bytes arrive from outside the
  * trust domain (the reference's interop story,
  * `main.tf:791-820`, is foreign engines handing over metadata).
  *
  * Property, every trial: `importTable` either succeeds (and the imported
  * table then loads and reads), or throws a CONTROLLED exception — never
  * an NPE (masks the cause), a MatchError / NotImplementedError (parser
  * hole), or a VirtualMachineError (StackOverflow from nesting bombs,
  * OOM from length-prefix lies). */
class IngestFuzzSpec extends SparkSpec {

  private implicit val fmts: Formats = DefaultFormats

  private def tmp(tag: String): String =
    Files.createTempDirectory(Paths.get("target"), tag).toString

  private def controlled(e: Throwable): Boolean = e match {
    case _: VirtualMachineError   => false
    case _: NullPointerException  => false
    case _: MatchError            => false
    case _: NotImplementedError   => false
    case other => other.getCause == null || controlled(other.getCause)
  }

  /** Run one import trial; fails the suite on an uncontrolled escape. */
  private def trial(tag: String)(body: => GraftTable): Unit =
    try {
      val t = body // success is legal — but then the table must be sane
      t.read.collect()
    } catch {
      case e: Throwable =>
        assert(controlled(e),
          s"$tag: UNCONTROLLED ${e.getClass.getName}: ${e.getMessage}\n" +
            e.getStackTrace.take(8).mkString("\n"))
    }

  // ---- fixture: a real exported Iceberg table -----------------------------

  private lazy val fixtureDir: String = {
    val dir = tmp("ingfuzz-")
    val df = spark.range(0, 200)
      .select(col("id"),
        concat(lit("c"), (col("id") % 5).cast("string")).as("cat"),
        (col("id") * 3).cast("double").as("v"),
        expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,cast(id % 96 as int),0,0)").as("ts"))
    val t = GraftTable.create(spark, s"$dir/tbl", df.repartition(2),
      Map("write.partition-by" -> "cat"))
    t.append(spark.range(200, 240)
      .select(col("id"), lit("c9").as("cat"), lit(1.0d).as("v"),
        lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")).as("ts"))
      .repartition(2))
    dir
  }

  private lazy val metaPath: String =
    GraftTable.load(spark, s"$fixtureDir/tbl")
      .exportIcebergMetadata(s"$fixtureDir/export")

  private lazy val metaJson: String =
    new String(Files.readAllBytes(Paths.get(metaPath)), UTF_8)

  /** Import a mutated metadata JSON (internal absolute paths still point at
    * the intact export artifacts — the mutation is ONLY the layer under
    * test). */
  private def importMutated(tag: String, json: String): Unit = {
    val d = tmp("ingfuzz-mut-")
    val p = s"$d/v1.metadata.json"
    Files.write(Paths.get(p), json.getBytes(UTF_8))
    trial(tag)(IcebergImport.importTable(spark, p, s"$d/imp"))
  }

  // ---- trials --------------------------------------------------------------

  test("iceberg metadata.json: truncations at every seeded offset") {
    val rnd = new scala.util.Random(1001)
    for (i <- 1 to 40) {
      val k = 1 + rnd.nextInt(metaJson.length - 1)
      importMutated(s"truncate@$k", metaJson.take(k))
    }
    importMutated("empty", "")
    importMutated("not-json", "PAR1\u0000\u0001garbage")
  }

  test("iceberg metadata.json: seeded AST mutations over every node") {
    val ast = JsonMethods.parse(metaJson)
    // enumerate every node position as a path of field-names/indices
    def positions(j: JValue, p: List[String]): Seq[List[String]] = j match {
      case JObject(fs) => p +: fs.flatMap { case (k, v) => positions(v, p :+ k) }
      case JArray(es)  => p +: es.zipWithIndex.flatMap { case (e, i) =>
        positions(e, p :+ s"#$i") }
      case _ => Seq(p)
    }
    def mutate(j: JValue, path: List[String], repl: JValue): JValue =
      (j, path) match {
        case (_, Nil) => repl
        case (JObject(fs), k :: rest) =>
          JObject(fs.map { case (n, v) =>
            if (n == k) (n, mutate(v, rest, repl)) else (n, v) })
        case (JArray(es), k :: rest) if k.startsWith("#") =>
          val i = k.drop(1).toInt
          JArray(es.zipWithIndex.map { case (e, j2) =>
            if (j2 == i) mutate(e, rest, repl) else e })
        case (other, _) => other
      }
    val all = positions(ast, Nil).filter(_.nonEmpty)
    val rnd = new scala.util.Random(2002)
    val hostile: Seq[JValue] = Seq(
      JNull, JString(""), JString("../../../../etc/passwd"),
      JString("\u0000\ud800"), JString("x" * 20000),
      JInt(BigInt("9" * 40)), JInt(-1), JDouble(1e308), JBool(false),
      JArray(List(JInt(1))), JObject(List("x" -> JNull)),
      JString("file:///nope/" + "y" * 100))
    for (i <- 1 to 220) {
      val path = all(rnd.nextInt(all.size))
      val repl = hostile(rnd.nextInt(hostile.size))
      val mutated = JsonMethods.compact(JsonMethods.render(mutate(ast, path, repl)))
      importMutated(s"ast:${path.mkString("/")}=$repl", mutated)
    }
    // field REMOVAL sweep over the top level
    ast.asInstanceOf[JObject].obj.foreach { case (k, _) =>
      val without = JObject(ast.asInstanceOf[JObject].obj.filterNot(_._1 == k))
      importMutated(s"drop:$k", JsonMethods.compact(JsonMethods.render(without)))
    }
  }

  test("iceberg metadata.json: nesting bomb must not blow the stack") {
    val bomb = "[" * 60000 + "]" * 60000
    importMutated("nest-array", s"""{"format-version":2,"schemas":$bomb}""")
    val objBomb = """{"a":""" * 40000 + "1" + "}" * 40000
    importMutated("nest-object", objBomb)
  }

  test("avro manifest tree: corrupt bytes, truncations, wrong files") {
    val rnd = new scala.util.Random(3003)
    // find the avro files the fixture export produced
    val exportMeta = Paths.get(metaPath).getParent
    val avros = Files.list(exportMeta).toArray.map(_.toString)
      .filter(_.endsWith(".avro")).sorted
    assert(avros.nonEmpty, "fixture export produced no avro files")
    val ast = JsonMethods.parse(metaJson)
    def withManifestList(p: String): String = {
      // point every snapshot's manifest-list at the corrupted copy
      val mutated = ast transformField {
        case ("manifest-list", JString(_)) => ("manifest-list", JString(p))
      }
      JsonMethods.compact(JsonMethods.render(mutated))
    }
    for (i <- 1 to 25) {
      val src = avros(rnd.nextInt(avros.size))
      val bytes = Files.readAllBytes(Paths.get(src))
      val d = tmp("ingfuzz-avro-")
      val mutated: Array[Byte] = rnd.nextInt(4) match {
        case 0 => bytes.take(1 + rnd.nextInt(math.max(1, bytes.length - 1))) // truncate
        case 1 => // flip a handful of bytes
          val b = bytes.clone()
          for (_ <- 1 to 8) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          b
        case 2 => Array.fill(64)(rnd.nextInt(256).toByte) // pure noise
        case 3 => // lie about lengths: keep the header, garbage the blocks
          bytes.take(math.min(bytes.length, 128)) ++
            Array.fill(256)(rnd.nextInt(256).toByte)
      }
      val corrupted = s"$d/list.avro"
      Files.write(Paths.get(corrupted), mutated)
      val p = s"$d/v1.metadata.json"
      Files.write(Paths.get(p), withManifestList(corrupted).getBytes(UTF_8))
      trial(s"avro@$i")(IcebergImport.importTable(spark, p, s"$d/imp"))
    }
    // a parquet file passed off as the manifest list
    val dataDir = s"$fixtureDir/tbl/data"
    val parquet = Files.list(Paths.get(dataDir)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    val d = tmp("ingfuzz-avro-")
    val p = s"$d/v1.metadata.json"
    Files.write(Paths.get(p), withManifestList(parquet).getBytes(UTF_8))
    trial("avro:parquet-as-list")(IcebergImport.importTable(spark, p, s"$d/imp"))
  }
}
