package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** MEMORY-PRESSURE robustness run (VERDICT r11 #5): the dedup /
  * similarity / text-analysis family — the shuffle- and state-heaviest
  * plans in the engine — executed under a deliberately tight heap
  * (scripts/robustness.sh forks this main at -Xmx4g, local[8]) at sf0.1.
  * The 100 TB claim rests on Spark's spill paths, which a roomy sandbox
  * heap never exercises; here every query must COMPLETE (spilling if it
  * must, never OOMing), and a task-end listener records how many bytes
  * actually spilled to memory/disk. One JSON line → ROBUSTNESS.json.
  */
object Robustness {

  /** The heavy family from the verdict (q40–q49, q62, q82, q88, q95–q99)
    * plus the round-12 heavyweights (q100 PageRank, q113 split leakage,
    * q117 blocked fuzzy match, q119 triangle counting, q125 basket pair
    * self-join, q126 grid-blocked spatial join, q131 two-frame windows)
    * plus the TPC-H-style multi-join shapes (q134 3-table, q135 6-table
    * snowflake, q139 return reporting, q143 fact-sized HAVING; round 14:
    * q147 derived-partsupp min-cost, q152 distinct-pair supplier counting,
    * q154 two-level sole-late-supplier) and the q155 signature-index probe
    * — the spill proof has to cover JOIN state, not just
    * aggregation/window state. */
  private val family: Seq[String] = {
    val prefixes = ((40 to 49) ++ Seq(62, 82, 88) ++ (95 to 100) ++
      Seq(113, 117, 119, 125, 126, 131, 134, 135, 139, 143, 147, 152, 154, 155))
      .map(i => f"q$i%02d_")
    val all = SparkEntry.queries.keys.toSeq.sorted
    prefixes.flatMap(p => all.filter(_.startsWith(p)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_ROBUSTNESS_OUT", "ROBUSTNESS.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // At sf0.1 even a 1.2 GiB heap holds every hash map, so the spill
    // branches would never execute on size pressure alone — force them:
    // every buffering operator (external sorter, window, SMJ, object-hash
    // fallback) spills after a few thousand elements, making this run
    // traverse exactly the code paths a 100 TB shuffle partition lives in.
    val spark = Harness.session(cpus,
      "spark.shuffle.spill.numElementsForceSpillThreshold" -> "5000",
      "spark.sql.windowExec.buffer.spill.threshold" -> "2048",
      "spark.sql.sessionWindow.buffer.spill.threshold" -> "2048",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "2048",
      "spark.sql.cartesianProductExec.buffer.spill.threshold" -> "2048",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128")

    val memSpilled = new AtomicLong(0L)
    val diskSpilled = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val results = family.map { name =>
      val run = Harness.timeNoop(spark, name, sfDir)
      val status = run.failure match {
        case None => "ok"
        case Some(e: OutOfMemoryError) => s"OOM:${e.getMessage}"
        case Some(e) => s"error:${e.getClass.getSimpleName}"
      }
      (name, status, run.sec)
    }
    // listener events are async; give the bus a moment to drain before
    // reporting totals (the private listenerBus.waitUntilEmpty is sealed)
    Thread.sleep(2000)
    val failures = results.collect { case (n, s, _) if s != "ok" => Harness.str(n) }
    val qs = results.map { case (n, s, sec) =>
      s"""${Harness.str(n)}:{"status":${Harness.str(s)},"sec":${Harness.num(sec, "%.3f")}}"""
    }.mkString("{", ",", "}")
    Harness.emit(
      s"""{"metric":"robustness","heap_mb":$heapMb,"cores":$cpus,"sf":"$sfDir",""" +
      s""""queries":$qs,"memory_bytes_spilled":${memSpilled.get},""" +
      s""""disk_bytes_spilled":${diskSpilled.get},""" +
      s""""failures":${failures.mkString("[", ",", "]")}}""",
      out)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
