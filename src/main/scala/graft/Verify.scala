package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // aid — the driver always passes exactly two args, so its run is total)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_PLAN_MODE=server: the ENTIRE battery reads through the
    // REST-planned path. Its server's HTTP dispatcher is a non-daemon thread:
    // stop it on EVERY exit, or a failed setup leaves the JVM running forever
    try {
      val restServer = Harness.restFixtures(spark, sfDir)
      try runBattery(spark, sfDir, outDir, only, restServer)
      finally restServer.foreach(_.stop())
    } finally spark.stop()
  }

  private def runBattery(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]], restServer: Option[graft.rest.RestCatalogServer]): Unit = {
    // fixture-drift canary: name the drifted table/column loudly up front
    // (round 9 lost 10 queries to a silent ts re-vintage) but keep running —
    // one drifted table should cost its own queries, not the whole round
    FixtureContract.drift(spark, sfDir)
      .foreach(m => System.err.println(s"[fixture-drift] $m"))
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally SparkEntry.releaseScratch(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.str(k)}: ${Harness.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    restServer.foreach { _ =>
      val n = graft.table.GraftTable.serverPlanCount.get()
      System.err.println(s"[verify] serverPlanCount=$n")
      // the whole point of the mode: silent fallback-to-local across the
      // battery must fail the run, not pass it quietly
      require(n > 0, "SPARK_GRAFT_PLAN_MODE ran but no scan was server-planned")
    }
  }
}
