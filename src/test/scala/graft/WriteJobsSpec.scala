package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.rest.{RestCatalogClient, RestCatalogServer}
import graft.table.{FileIO, GraftTable, IcebergExport}

/** Job-count guard for the table write path: a write records its files'
  * statistics in the tasks that write them, so it runs no read-back pass
  * over the files it just wrote. Counts are exact and taken after the
  * listener bus drains, over the jobs of this test's own job group.
  *
  * Process guard for the same path: local files and directories are made
  * through [[graft.table.LocalFs]], which sets their modes without forking
  * `chmod`, and the modes stay the ones Hadoop's `chmod` gave them. */
class WriteJobsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), "wjobs-").resolve("t").toString

  /** Spark jobs `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get()
  }

  /** Command lines (with thread and stack) of the processes this JVM starts
    * while `body` runs: a JFR recording of `jdk.ProcessStart`, dumped and
    * read back. Left out: Spark's `rm -rf` of a garbage-collected session's
    * artifact dir, which the JVM's cleaner thread runs whenever GC gets to
    * a session that some earlier code dropped. */
  private def processesOf(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    val out = Files.createTempFile(Paths.get("target"), "wjobs-", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq.flatMap { e =>
        val at = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        if (at.exists(_.startsWith("org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner")))
          None
        else Some(s"${e.getString("command")} on ${e.getThread("eventThread").getJavaName} " +
          s"at ${at.mkString(" < ")}")
      }
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  /** A table with a warm append behind it, and 4 rows to append next. */
  private def appendFixture() = {
    val t = GraftTable.create(spark, tmpDir(),
      Seq((0, 0, "warm")).toDF("round", "pos", "template"))
    t.append(Seq((0, 1, "warm")).toDF("round", "pos", "template")) // warm the path
    (t, Seq((1, 1, "q01"), (1, 2, "q02"), (1, 3, "q03"), (1, 4, "q04"))
      .toDF("round", "pos", "template"))
  }

  /** A merge-on-read table with a warm UPDATE behind it. */
  private def morFixture() = {
    val t = GraftTable.create(spark, tmpDir(),
      spark.range(0, 40).repartition(4).select(col("id"), (col("id") % 5).as("v")),
      Map("write.delete.mode" -> "merge-on-read"))
    t.update(col("id") === 1L, Map("v" -> lit(100L))) // warm the path
    t
  }

  test("a 4-row append to an unbucketed table without CHECK constraints runs one job") {
    val (t, rows) = appendFixture()
    // 3 while file statistics were read back: the write, then a two-stage
    // aggregate over the new files
    assert(jobsOf(t.append(rows)) == 1)
    assert(t.read.count() == 6L)
  }

  test("a merge-on-read UPDATE runs no read-back pass over its delete and data files") {
    val t = morFixture()
    // 8 while file statistics were read back: two read-back jobs for the
    // delete files and two for the data files
    assert(jobsOf(t.update(col("id") < 10L, Map("v" -> lit(7L)))) == 4)
    assert(t.read.filter(col("v") === 7L).count() == 10L)
  }

  test("an append, a MOR UPDATE, a REST commit and its Iceberg render start no process") {
    val (t, rows) = appendFixture()
    val appended = processesOf(t.append(rows))
    assert(appended.isEmpty, appended.mkString("append started:\n", "\n", ""))

    val mor = morFixture()
    val updated = processesOf(mor.update(col("id") < 10L, Map("v" -> lit(7L))))
    assert(updated.isEmpty, updated.mkString("UPDATE started:\n", "\n", ""))

    val wh = Files.createTempDirectory(Paths.get("target"), "wjobs-rest-").toAbsolutePath.toString
    val server = new RestCatalogServer(wh, Map("w" -> "sw")).start()
    try {
      spark.conf.set("spark.sql.catalog.graftwj", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graftwj.uri", server.uri)
      spark.conf.set("spark.sql.catalog.graftwj.credential", "w:sw")
      spark.sql("CREATE NAMESPACE graftwj.wj")
      spark.sql("CREATE TABLE graftwj.wj.t (id BIGINT, v STRING) USING graft")
      val http = java.net.http.HttpClient.newHttpClient()
      val token = new RestCatalogClient(server.uri, Some("w:sw"), None).token
      def loadTable(): Int = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"${server.uri}/v1/iceberg/namespaces/wj/tables/t"))
          .header("Authorization", s"Bearer $token").GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
      spark.sql("INSERT INTO graftwj.wj.t VALUES (0, 'warm')") // warm the path
      assert(loadTable() == 200)
      val committed = processesOf {
        spark.sql("INSERT INTO graftwj.wj.t VALUES (1, 'a'), (2, 'b')")
        assert(loadTable() == 200)
      }
      assert(committed.isEmpty, committed.mkString("REST commit and render started:\n", "\n", ""))
      // the load rendered the new version's Iceberg metadata
      val rendered = Files.list(Paths.get(wh, "wj", "t", "_iceberg")).iterator().asScala
        .map(_.getFileName.toString).toSet
      assert(rendered.contains("v2"), rendered)
    } finally server.stop()
  }

  test("files and dirs graft writes keep Hadoop's modes, default umask and 077") {
    def perms(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    // (umask set on the session, file mode, directory mode)
    Seq((None, "rw-r--r--", "rwxr-xr-x"), (Some("077"), "rw-------", "rwx------")).foreach {
      case (umask, fileMode, dirMode) =>
        umask.foreach(spark.conf.set("fs.permissions.umask-mode", _))
        try {
          val root = tmpDir()
          val t = GraftTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
          t.append(Seq((3L, "c")).toDF("id", "v"))
          // the REST server's Iceberg render, under the same conf
          IcebergExport.export(t.log, root, s"$root/_iceberg/v1", FileIO.activeConf())
          val data = Paths.get(root, "data")
          val iceberg = Paths.get(root, "_iceberg")
          val made = (Files.walk(data).iterator().asScala ++ Files.walk(iceberg).iterator().asScala)
            .toSeq
          val (dirs, files) = made.partition(Files.isDirectory(_))
          assert(files.exists(_.toString.endsWith(".parquet")) &&
            files.exists(_.toString.endsWith(".crc")) && files.size > 4, files)
          val wrong = files.filter(perms(_) != fileMode).map(f => s"$f ${perms(f)}") ++
            (dirs :+ Paths.get(root) :+ Paths.get(root, "_graft"))
              .filter(perms(_) != dirMode).map(d => s"$d ${perms(d)}")
          assert(wrong.isEmpty, s"umask $umask: " + wrong.mkString("\n"))
        } finally spark.conf.unset("fs.permissions.umask-mode")
        // the same modes as Hadoop's own local filesystem, which forks chmod
        val conf = new org.apache.hadoop.conf.Configuration()
        umask.foreach(conf.set("fs.permissions.umask-mode", _))
        val made = Seq(new org.apache.hadoop.fs.LocalFileSystem, new graft.table.LocalFs).map { fs =>
          fs.initialize(java.net.URI.create("file:///"), conf)
          val dir = new org.apache.hadoop.fs.Path(s"file:${Paths.get(tmpDir()).toAbsolutePath}")
          fs.mkdirs(dir)
          fs.create(new org.apache.hadoop.fs.Path(dir, "f")).close()
          val local = Paths.get(dir.toUri.getPath)
          Seq(local, local.resolve("f"), local.resolve(".f.crc")).map(perms)
        }
        assert(made(1) == made(0) && made(0) == Seq(dirMode, fileMode, fileMode), made)
    }
  }
}
