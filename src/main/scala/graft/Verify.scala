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
    try runAll(spark, sfDir, outDir, only)
    finally spark.stop()
  }

  private def runAll(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    // SPARK_GRAFT_PLAN_MODE=server: run the ENTIRE battery through the
    // REST-planned read path (VERDICT r17 #4) — fixtures register in place
    // as graft tables behind an in-process REST catalog (metadata import,
    // zero data copies), every scan asks the catalog's /plan endpoint for
    // its file list, and the run fails loudly if no server plan happened.
    // `planAsync` additionally routes plans through the submit/poll leg.
    val planMode = sys.env.getOrElse("SPARK_GRAFT_PLAN_MODE", "local")
    val restServer: Option[graft.rest.RestCatalogServer] =
      if (planMode != "server" && planMode != "server-async") None
      else Some(new graft.rest.RestCatalogServer(
        Files.createTempDirectory("graft-verify-wh").toString,
        Map("verify" -> "verify-secret"),
        planAsync = planMode == "server-async").start())
    // stop the server on EVERY exit: its HTTP dispatcher is a non-daemon
    // thread, so a leaked server keeps the forked JVM alive forever after
    // a setup exception (found the hard way)
    try runBattery(spark, sfDir, outDir, only, planMode, restServer)
    finally restServer.foreach(_.stop())
  }

  private def runBattery(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]], planMode: String,
      restServer: Option[graft.rest.RestCatalogServer]): Unit = {
    restServer.foreach { srv =>
      spark.conf.set("spark.sql.catalog.graftv", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graftv.uri", srv.uri)
      spark.conf.set("spark.sql.catalog.graftv.credential", "verify:verify-secret")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftv.vfy")
      // a ns-vintage events fixture imports its ts as raw long; the
      // Tables.events adapter handles either form downstream
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings").foreach { t =>
        spark.sql(s"CALL graftv.system.import_parquet('vfy.$t', '$sfDir/$t.parquet')")
      }
      spark.conf.set(Tables.CatalogConf, "graftv.vfy")
    }
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
      require(n > 0, s"plan-mode=$planMode ran but no scan was server-planned")
    }
  }
}
