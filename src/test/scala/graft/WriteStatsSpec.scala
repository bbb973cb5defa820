package graft.table

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** The statistics a write records in its own tasks equal what the
  * read-back `statFiles` computes on the SAME files, field by field: each
  * case writes once, then stats the written files the second way. Also
  * the degenerate writes: nothing empty is committed, nothing staged is
  * left behind. */
class WriteStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), "wstats-").resolve("t").toString

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def name(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Every difference between the write-time entries and a re-stat. */
  private def diff(written: Seq[DataFile], restat: Seq[DataFile]): Seq[String] = {
    val byPath = restat.map(f => f.path -> f).toMap
    val missing = (byPath.keySet -- written.map(_.path)).toSeq.map(p => s"$p: only re-stated")
    missing ++ written.flatMap { w =>
      byPath.get(w.path) match {
        case None => Seq(s"${w.path}: no re-stat entry")
        case Some(r) =>
          Seq("rows" -> (w.rows, r.rows), "bytes" -> (w.bytes, r.bytes),
              "schemaId" -> (w.schemaId, r.schemaId))
            .collect { case (k, (a, b)) if a != b => s"${w.path} $k: $a vs $b" } ++
          (w.stats.keySet ++ r.stats.keySet).toSeq.sorted.flatMap { c =>
            (w.stats.get(c), r.stats.get(c)) match {
              case (Some(a), Some(b)) =>
                Seq("min" -> (a.min, b.min), "max" -> (a.max, b.max),
                    "dataType" -> (a.dataType, b.dataType),
                    "nullCount" -> (a.nullCount, b.nullCount),
                    "values" -> (a.values, b.values))
                  .collect { case (k, (x, y)) if x != y => s"${name(w.path)} $c.$k: $x vs $y" }
              case (a, b) => Seq(s"${name(w.path)} $c: written $a, re-stated $b")
            }
          }
      }
    }
  }

  /** Stat `files` of `t` the read-back way and assert parity. */
  private def assertParity(t: GraftTable, files: Seq[DataFile], schema: StructType,
      schemaId: Int, transforms: Seq[PartitionTransform] = Seq.empty): Unit = {
    assert(files.nonEmpty)
    val restat = t.statFiles(files.map(f => t.resolve(f.path)), schema, schemaId,
      a => s"data/${name(a)}", transforms)
    val d = diff(files, restat)
    assert(d.isEmpty, d.mkString("\n"))
  }

  private def added(before: Snapshot, after: Snapshot): Seq[DataFile] = {
    val old = before.files.map(_.path).toSet
    after.files.filterNot(f => old(f.path))
  }

  /** The table's data dir holds exactly the snapshot's files, and no
    * staging dir is left in its root. */
  private def assertClean(t: GraftTable): Unit = {
    val s = t.log.current
    val live = (s.files ++ s.deleteFiles ++ s.eqDeleteFiles.map(_.file)).map(f => name(f.path)).toSet
    assert(t.log.io.listNames(t.log.dataDir).toSet == live)
    assert(!t.log.io.listNames(t.log.root).exists(_.startsWith("_staging-")))
    assert((s.files ++ s.deleteFiles ++ s.eqDeleteFiles.map(_.file)).forall(_.rows > 0))
  }

  private val long33 = "x" * 33 + "tail"
  private val utf8 = "日本語テキスト😀" * 5 // multi-byte, surrogate pairs, > 32 chars

  test("every stat type: write-time stats equal the read-back stats") {
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      val schema = StructType(Seq(
        StructField("b", ByteType), StructField("sh", ShortType), StructField("i", IntegerType),
        StructField("l", LongType), StructField("f", FloatType), StructField("d", DoubleType),
        StructField("dec", DecimalType(12, 3)), StructField("s", StringType),
        StructField("bool", BooleanType), StructField("dt", DateType),
        StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
        StructField("nul", StringType), StructField("few", IntegerType),
        StructField("at16", StringType), StructField("over17", LongType),
        StructField("wide", StringType), StructField("bin", BinaryType)))
      val rows = (0 until 60).map { n =>
        Row(
          (n % 120 - 60).toByte, (n * 7 - 100).toShort, if (n % 9 == 0) null else n * 31 - 500,
          n.toLong * 1000003L - 7L,
          if (n % 11 == 0) Float.NaN else n * 1.5f - 20f,
          if (n % 13 == 0) Double.NaN else if (n % 5 == 0) null else n * -2.25 + 0.125,
          BigDecimal(n * 17 - 300).bigDecimal.movePointLeft(3),
          if (n % 4 == 0) utf8 + n else if (n % 4 == 1) long33 + n else s"v$n",
          n % 3 == 0, Date.valueOf(java.time.LocalDate.of(1999, 12, 31).plusDays(n * 3L)),
          Timestamp.valueOf(LocalDateTime.of(2024, 3, 10, 1, 30).plusMinutes(n * 37L)),
          LocalDateTime.of(2024, 11, 3, 0, 59, 59, 123456000).plusHours(n.toLong),
          null, n % 3, s"c${n % 16}", n.toLong % 17, if (n % 2 == 0) "w" * 33 else "w",
          Array[Byte](n.toByte))
      }
      // three files of 20 consecutive rows: 3, 16 and 17 distinct values
      // put `few` below its set cap, `at16` at it and `over17` over it
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      val dir = tmpDir()
      val t = GraftTable.create(spark, dir, df)
      val s = t.log.current
      assert(s.files.size == 3, "the case needs its three files")
      // the interesting cases really are present
      val st = s.files.flatMap(_.stats.toSeq).groupBy(_._1).map { case (c, v) => c -> v.map(_._2) }
      assert(st("f").exists(_.max == "NaN") && st("d").exists(_.max == "NaN"))
      assert(st("nul").forall(x => x.min == "" && x.nullCount > 0))
      assert(st("few").forall(_.values.exists(_.size == 3)))
      assert(st("at16").forall(_.values.exists(_.size == 16)))
      assert(st("over17").forall(_.values.isEmpty) && st("wide").forall(_.values.isEmpty))
      assert(st("s").exists(_.max.length == 32) && !st.contains("bin"))
      assertParity(t, s.files, df.schema, 0)
      assertClean(t)
    }
  }

  test("bucket, truncate and day transforms: bounds and value sets match the read-back") {
    val df = spark.range(0, 3000).select(
      col("id"), (col("id") * 7919 % 100000).as("k"),
      concat(lit("p"), (col("id") % 50).cast("string")).as("s"),
      (col("id") * 3).as("n"),
      timestamp_seconds(lit(1700000000L) + col("id") * 977).as("ts"))
    val props = Map("write.partition-by" ->
      "bucket(4,id),bucket(64,n),bucket(300,k),truncate(2,s),truncate(100,n),days(ts)")
    val dir = tmpDir()
    val t = GraftTable.create(spark, dir, df.limit(0), props)
    val before = t.log.current
    val after = t.append(df.repartition(2))
    val files = added(before, after)
    val schema = t.schemaOfSnapshot(after)
    val transforms = PartitionTransform.parseListFrom(after.properties, schema)
      .filterNot(_.isInstanceOf[PartitionTransform.Identity])
    assert(transforms.size == 6)
    val tst = files.flatMap(_.stats.toSeq).groupBy(_._1).map { case (c, v) => c -> v.map(_._2) }
    assert(tst("bucket(4,id)").forall(_.values.exists(_.size <= 4)))   // below the cap
    assert(tst("bucket(64,n)").exists(_.values.exists(_.size == 64))) // at the cap
    assert(tst("bucket(300,k)").exists(_.values.isEmpty))             // over it
    assert(tst("truncate(2,s)").forall(_.values.isEmpty) && tst.contains("days(ts)"))
    assertParity(t, files, schema, after.currentSchemaId, transforms)
    assertClean(t)
  }

  test("positional and equality delete files: write-time stats equal the read-back") {
    val dir = tmpDir()
    val t = GraftTable.create(spark, dir, spark.range(0, 200).repartition(4).toDF("id")
      .withColumn("k", concat(lit("k"), col("id").cast("string"))),
      Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("id") % 3 === 0)
    val pos = t.log.current.deleteFiles
    assert(pos.nonEmpty && pos.map(_.rows).sum == 67)
    assertParity(t, pos, StructType(Seq(StructField("file_path", StringType),
      StructField("pos", LongType))), -1)
    t.deleteByEquality(Seq(("k1", 1L), ("k2", 2L), (null, 5L)).toDF("k", "id"))
    val eq = t.log.current.eqDeleteFiles.map(_.file)
    assert(eq.nonEmpty && eq.map(_.rows).sum == 3)
    assertParity(t, eq, StructType(Seq(StructField("k", StringType),
      StructField("id", LongType))), -1)
    assertClean(t)
  }

  test("a write split by maxRecordsPerFile attributes every row to its own file") {
    val dir = tmpDir()
    val t = GraftTable.create(spark, dir, Seq(0L).toDF("id").limit(0))
    val before = t.log.current
    val after = withConf("spark.sql.files.maxRecordsPerFile" -> "3") {
      t.append((1L to 10L).toDF("id").coalesce(1))
    }
    val files = added(before, after)
    assert(files.map(_.rows).sorted == Seq(1L, 3L, 3L, 3L))
    assert(files.map(f => f.stats("id").min.toLong).sorted == Seq(1L, 4L, 7L, 10L))
    assertParity(t, files, t.schemaOfSnapshot(after), after.currentSchemaId)
    assertClean(t)
  }

  test("an empty-DataFrame append commits no file and leaves nothing staged") {
    val dir = tmpDir()
    val t = GraftTable.create(spark, dir, (1L to 3L).toDF("id"))
    val before = t.log.current
    val after = t.append(Seq.empty[Long].toDF("id"))
    assert(after.files.map(_.path).toSet == before.files.map(_.path).toSet)
    assert(t.read.count() == 3L)
    assertClean(t)
  }

  test("a merge-on-read DELETE that matches no rows commits no delete file") {
    val dir = tmpDir()
    val t = GraftTable.create(spark, dir, (1L to 5L).toDF("id"),
      Map("write.delete.mode" -> "merge-on-read"))
    val before = t.log.current
    val after = t.delete(col("id") > 100L)
    assert(after.version == before.version && after.deleteFiles.isEmpty)
    assert(t.log.current.deleteFiles.isEmpty)
    assertClean(t)
  }

  test("a write whose AQE shuffle leaves empty partitions commits only files with rows") {
    val dir = tmpDir()
    val t = GraftTable.create(spark, dir, Seq(0L).toDF("id").limit(0))
    val before = t.log.current
    val after = withConf("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      t.append(Seq(1L, 2L).toDF("id").repartition(8, col("id")))
    }
    val files = added(before, after)
    assert(files.map(_.rows).sum == 2L && files.size <= 2)
    assert(t.read.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assertClean(t)
  }
}
