package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.rest.RestCatalogServer

/** Lists the Spark jobs and physical plans that ONE 4-row `INSERT INTO …
  * VALUES` runs through the REST catalog — the shape of perfbench
  * olap-scan's `results` insert (`GraftCatalog` over an in-process
  * `RestCatalogServer`, `GraftExtensions` on, 4 local cores). Three
  * warm-up inserts run first; only the fourth is listed.
  *
  * Usage: sbt "Test/runMain graft.InsertPlanTrace <out.txt>"
  */
object InsertPlanTrace {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val work = Files.createTempDirectory("insert-plan-trace")
    val spark = Harness.session("4", "spark.sql.extensions" -> "graft.GraftExtensions")
    spark.sparkContext.setLogLevel("ERROR")
    val server = new RestCatalogServer(work.resolve("warehouse").toString,
      Map("trace" -> "trace-secret")).start()
    try {
      spark.conf.set("spark.sql.catalog.irc", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.irc.uri", server.uri)
      spark.conf.set("spark.sql.catalog.irc.credential", "trace:trace-secret")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS irc.bench")
      spark.sql("CREATE TABLE irc.bench.results (round INT, pos INT, template STRING)")
      def insert(round: Int): Unit = spark.sql("INSERT INTO irc.bench.results VALUES " +
        (1 to 4).map(p => s"($round, $p, 'q0$p')").mkString(", "))
      (1 to 3).foreach(insert)

      val events = ArrayBuffer.empty[SparkListenerEvent]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = events.synchronized(events += e)
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart => events.synchronized(events += s)
          case _ =>
        }
      }
      spark.sparkContext.addSparkListener(listener)
      insert(4)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)

      val jobs = events.collect { case j: SparkListenerJobStart => j }
      val text = new StringBuilder
      text ++= s"INSERT INTO irc.bench.results VALUES <4 rows>: ${jobs.size} Spark job(s)\n\n"
      jobs.foreach { j =>
        val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        text ++= s"job ${j.jobId} (SQL execution ${exec.getOrElse("-")}): " +
          j.stageInfos.map(s => s"stage ${s.stageId} ${s.name} [${s.numTasks} tasks]")
            .mkString("; ") + "\n"
      }
      events.collect { case s: SparkListenerSQLExecutionStart => s }.foreach { s =>
        text ++= s"\n==== SQL execution ${s.executionId}: ${s.description}\n"
        text ++= s.physicalPlanDescription.trim + "\n"
      }
      Files.write(out, text.toString.replace(work.toString, "<work>")
        .getBytes(StandardCharsets.UTF_8))
      println(s"[insert-plan-trace] ${jobs.size} job(s) -> $out")
    } finally {
      server.stop()
      spark.stop()
    }
  }
}
