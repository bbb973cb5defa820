package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Optimization-round measurement tool (guide §1.1/§7.2): dump
  * `explain("formatted")` for every declared query (or a filtered subset) to
  * one file per query, so plan shapes (Exchange count, join strategy,
  * PushedFilters/ReadSchema, WholeStageCodegen spans) can be diffed across
  * optimization rounds. Writes `<outDir>/<query>_<tag>.txt`.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [q43,q100,...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_PLAN_MODE=server to plan the queries over the fixtures
  * registered behind the in-process REST catalog ([[Harness.restFixtures]]).
  */
object PlanDump {
  /** The queries the optional third argument names, matched as
    * `SPARK_GRAFT_BENCH_ONLY` is ([[Bench.select]]); all when absent. */
  private[graft] def queryNames(args: Array[String]): Seq[String] =
    Bench.select(SparkEntry.queries.keys, args.lift(2))

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    Files.createDirectories(Paths.get(outDir))
    val restServer = Harness.restFixtures(spark, sfDir)
    queryNames(args).foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] $name ok")
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: $e")
      } finally SparkEntry.releaseScratch(spark)
    }
    restServer.foreach(_.stop())
    spark.stop()
  }
}
