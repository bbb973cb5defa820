package graft

import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

/** Shared plumbing of the measurement mains (Bench, Verify, PlanDump,
  * Robustness): one session recipe, one REST fixture registration, one
  * timed noop run, one JSON layer. Each main keeps its defaults and keys. */
object Harness {

  /** Local session sized to `cpus` (shuffle partitions = cores), UTC, UI
    * off, log level WARN; `extra` is per-main conf (Robustness's forced
    * spill thresholds). */
  def session(cpus: String, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_PLAN_MODE` is `local` (the default: read the fixture
    * files directly) or `server`: register the fixtures in place (zero data
    * copies) behind an in-process REST catalog and point the declared
    * queries at them, so every scan plans through `/plan`. Returns the
    * server for the caller to stop; None in local mode. */
  def restFixtures(spark: SparkSession, sfDir: String): Option[graft.rest.RestCatalogServer] = {
    val planMode = sys.env.getOrElse("SPARK_GRAFT_PLAN_MODE", "local")
    planMode match {
      case "local" => return None
      case "server" =>
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_PLAN_MODE must be 'local' or 'server', got '$other'")
    }
    val srv = new graft.rest.RestCatalogServer(
      Files.createTempDirectory("graft-verify-wh").toString,
      Map("verify" -> "verify-secret")).start()
    try {
      spark.conf.set("spark.sql.catalog.graftv", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graftv.uri", srv.uri)
      spark.conf.set("spark.sql.catalog.graftv.credential", "verify:verify-secret")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftv.vfy")
      // a ns-vintage events fixture imports its ts as raw long; the
      // Tables.events adapter handles either form downstream
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      FixtureContract.expected.keys.foreach { t =>
        spark.sql(s"CALL graftv.system.import_parquet('vfy.$t', '$sfDir/$t.parquet')")
      }
      spark.conf.set(Tables.CatalogConf, "graftv.vfy")
      Some(srv)
    } catch { case e: Throwable => srv.stop(); throw e }
  }

  /** One timed run: wall seconds, and the failure if the query threw. */
  final case class Run(sec: Double, failure: Option[Throwable]) {
    /** Bench's sample convention: a failed run reads as -1. */
    def sample: Double = if (failure.isEmpty) sec else -1.0
  }

  /** Materialize declared query `name` at `dir` through the `noop` DSv2
    * sink — not `.count()`, which lets Catalyst prune the projections and
    * final sorts being measured. GC first to isolate queries from each
    * other's garbage; the scratch sweep runs OUTSIDE the timed window (it
    * is session bookkeeping, not query work). */
  def timeNoop(spark: SparkSession, name: String, dir: String): Run = {
    System.gc()
    val t0 = System.nanoTime()
    val failure =
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    SparkEntry.releaseScratch(spark)
    Run(sec, failure)
  }

  /** Number with a `String.format` pattern under Locale.ROOT: a
    * comma-decimal default locale would render 0,1234 and corrupt JSON. */
  def num(v: Double, fmt: String): String =
    String.format(Locale.ROOT, fmt, Double.box(v))

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in a query's SQL or an exception message would
    * otherwise make a consumer's json.load fail. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Print the result line AND persist it: a truncatable stdout tail once
    * lost a third of a run's per-query timings, so the same JSON always
    * lands in a file too. */
  def emit(json: String, path: String): Unit = {
    println(json)
    Files.write(Paths.get(path), (json + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
