package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.table.GraftTable

/** Job-count guard for the table write path: a write records its files'
  * statistics in the tasks that write them, so it runs no read-back pass
  * over the files it just wrote. Counts are exact and taken after the
  * listener bus drains, over the jobs of this test's own job group. */
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

  test("a 4-row append to an unbucketed table without CHECK constraints runs one job") {
    val t = GraftTable.create(spark, tmpDir(),
      Seq((0, 0, "warm")).toDF("round", "pos", "template"))
    t.append(Seq((0, 1, "warm")).toDF("round", "pos", "template")) // warm the path
    val rows = Seq((1, 1, "q01"), (1, 2, "q02"), (1, 3, "q03"), (1, 4, "q04"))
      .toDF("round", "pos", "template")
    // 3 while file statistics were read back: the write, then a two-stage
    // aggregate over the new files
    assert(jobsOf(t.append(rows)) == 1)
    assert(t.read.count() == 6L)
  }

  test("a merge-on-read UPDATE runs no read-back pass over its delete and data files") {
    val t = GraftTable.create(spark, tmpDir(),
      spark.range(0, 40).repartition(4).select(col("id"), (col("id") % 5).as("v")),
      Map("write.delete.mode" -> "merge-on-read"))
    t.update(col("id") === 1L, Map("v" -> lit(100L))) // warm the path
    // 8 while file statistics were read back: two read-back jobs for the
    // delete files and two for the data files
    assert(jobsOf(t.update(col("id") < 10L, Map("v" -> lit(7L)))) == 4)
    assert(t.read.filter(col("v") === 7L).count() == 10L)
  }
}
