package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import graft.rest.RestCatalogServer

/** Op class: reads commit no snapshot, writes commit one, maintenance
  * (compaction, snapshot expiry) is timed and counted in `ops_per_s` and
  * `ok_ratio` but kept out of both latency classes. */
sealed trait Kind { def name: String }
case object Read extends Kind { val name = "read" }
case object Write extends Kind { val name = "write" }
case object Maint extends Kind { val name = "maint" }

/** One client operation. `body` is the timed part; `check` runs after the
  * clock stops and returns a correctness error, if any; `onOk` advances the
  * generator's model of the tables once the engine acknowledged the op.
  * `table` and `userRows` name the table a write changes and how many of
  * its rows (for write amplification). */
final case class Op(template: String, kind: Kind, body: () => Any,
    check: Any => Option[String] = _ => None, onOk: () => Unit = () => (),
    table: String = "", userRows: Long = 0L)

final case class Rec(template: String, kind: Kind, ms: Double, ok: Boolean,
    error: Option[String])

/** A workload: its tables, a seeded round generator with fixed per-template
  * counts, and its correctness gate. */
trait Workload {
  /** Untimed warm-up before the clock starts: runs every template at least
    * once (by default one round of the same generator). */
  def warm(b: LakeBench): Seq[Rec] = b.runRound(measured = false)
  /** Seconds one measured round takes at 4 cores; fixes the round count. */
  def roundSeconds: Double
  /** Tables (names in the benchmark namespace) whose storage is reported. */
  def tables: Seq[String]
  def register(b: LakeBench): Unit
  def round(b: LakeBench, r: Int): Seq[Op]
  /** Correctness errors found after the measured phase; empty = pass. */
  def gate(b: LakeBench): Seq[String]
}

/** The benchmark's JVM side: one client thread, closed loop, against a
  * `GraftCatalog` backed by an in-process `RestCatalogServer`, with
  * server-side scan planning. Writes one JSON artifact; `run.py` turns it
  * into the result line.
  *
  * Usage: LakeBench <workload> <seed> <seconds> <trace 0|1> <cores>
  *                  <data dir> <work dir> <artifact path> */
final class LakeBench(val workloadName: String, val seed: Long, seconds: Int,
    val traced: Boolean, val cores: Int, val dataDir: String, val workDir: String) {

  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val Cat = "lake"
  val Ns = "bench"
  val Credential = "bench:bench-secret"
  def tbl(t: String): String = s"$Cat.$Ns.$t"
  val rng = new java.util.Random(seed)

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"lakebench-$workloadName")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$workDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val sessionS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  val warehouse: String = s"$workDir/warehouse"
  private var server: RestCatalogServer = newServer()
  private def newServer() = new RestCatalogServer(warehouse, Map("bench" -> "bench-secret")).start()
  val tracer: Option[Trace] = if (traced) Some(new Trace(this, server.uri)) else None
  /** What the engine and the foreign-engine leg talk to: the server, or the
    * recording proxy in front of it on a traced run. */
  val catalogUri: String = tracer.map(_.proxyUri).getOrElse(server.uri)

  def stopServer(): Unit = server.stop()

  /** Reopen the warehouse through a fresh server and a fresh catalog
    * instance (named `catalog`); returns that catalog's name. */
  def reopen(catalog: String): String = {
    server.stop()
    server = newServer()
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.uri", server.uri)
    spark.conf.set(s"spark.sql.catalog.$catalog.credential", Credential)
    catalog
  }

  spark.conf.set(s"spark.sql.catalog.$Cat", "graft.catalog.GraftCatalog")
  spark.conf.set(s"spark.sql.catalog.$Cat.uri", catalogUri)
  spark.conf.set(s"spark.sql.catalog.$Cat.credential", Credential)
  spark.conf.set("spark.graft.plan-mode", "server")

  val workload: Workload = workloadName match {
    case "olap-scan" => new OlapScan
    case "table-ops" => new TableOps
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Fixed per-template counts: whole rounds, as many as `seconds` holds at
    * the design round time. */
  val rounds: Int = math.max(1, math.round(seconds / workload.roundSeconds).toInt)

  val gateErrors = ArrayBuffer.empty[String]

  private var roundNo = 0

  /** Generate and run the next round: in order on the client thread when
    * measured; otherwise (warm-up) the ops of each template prefix (one
    * table: `cow.`, `mor.`, `ev.`) in order on a thread of their own, which
    * keeps set-up short. */
  def runRound(measured: Boolean): Seq[Rec] = {
    val ops = workload.round(this, roundNo)
    roundNo += 1
    if (measured) ops.map(execute(_, measured = true))
    else Gen.par(ops.groupBy(_.template.takeWhile(_ != '.')).values.toSeq.map(lane =>
      () => lane.map(execute(_, measured = false)))).flatten
  }

  /** Run one op; only measured ops are traced. */
  def execute(op: Op, measured: Boolean): Rec = {
    val tr = tracer.filter(_ => measured)
    tr.foreach(_.beginOp(op))
    val t0 = System.nanoTime()
    val res = Try(op.body())
    val ms = (System.nanoTime() - t0) / 1e6
    tr.foreach(_.endOp(res.isSuccess))
    res match {
      case Success(v) =>
        op.onOk()
        op.check(v).foreach(e => gateErrors += s"${op.template}: $e")
        Rec(op.template, op.kind, ms, ok = true, None)
      case Failure(e) =>
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
        val msg = Option(root.getMessage).getOrElse("").linesIterator.nextOption()
          .getOrElse("").take(160)
        Rec(op.template, op.kind, ms, ok = false,
          Some(s"${root.getClass.getSimpleName}: $msg"))
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (all, steal) CPU ticks of the host so far, from /proc/stat. */
  private def cpuTicks: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
      .map(_.toLong)
    (f.take(8).sum, f(7))
  }

  private def vmHwmMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(out: String): Unit = {
    val registerT0 = System.currentTimeMillis()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.$Ns")
    workload.register(this)
    val registerS = (System.currentTimeMillis() - registerT0) / 1e3
    val warmT0 = System.currentTimeMillis()
    val warm = workload.warm(this)
    val warmupS = (System.currentTimeMillis() - warmT0) / 1e3
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val gc0 = gcMs
    val cpu0 = cpuTicks
    val measureT0 = System.nanoTime()
    val recs = (0 until rounds).flatMap(_ => runRound(measured = true))
    val measureS = (System.nanoTime() - measureT0) / 1e9
    val gcDelta = gcMs - gc0
    val cpu1 = cpuTicks
    tracer.foreach(_.endMeasured())

    val gateT0 = System.currentTimeMillis()
    // storage first: row-dml's gate ends by reopening the warehouse
    val storage = Storage.measure(this)
    gateErrors ++= workload.gate(this)
    val gateS = (System.currentTimeMillis() - gateT0) / 1e3

    val j = new Json
    val okN = recs.count(_.ok)
    j.obj("run") { r =>
      r.str("workload", workloadName); r.num("seed", seed); r.num("cores", cores)
      r.num("heap_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
      r.num("rounds", rounds)
      r.num("measure_s", measureS); r.num("gate_s", gateS)
      r.bool("traced", traced)
      // the host's CPU steal while measuring: explains a run that is slow
      // across every template
      r.num("cpu_steal_share", (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1))
    }
    j.bool("correct", gateErrors.isEmpty)
    j.arr("gate_errors")(a => gateErrors.foreach(a.str))
    j.num("attempted", recs.size)
    j.num("failed", recs.size - okN)
    j.arr("failures") { a =>
      (warm.filterNot(_.ok).map("warmup" -> _) ++ recs.filterNot(_.ok).map("measured" -> _))
        .foreach { case (phase, f) =>
          a.obj { o => o.str("phase", phase); o.str("template", f.template)
            o.str("error", f.error.getOrElse("")) }
        }
    }
    // every op: warm-up ops first (grouped by thread), then the measured
    // ones in execution order
    j.arr("ops") { a =>
      (warm.map(false -> _) ++ recs.map(true -> _)).foreach { case (m, r) =>
        a.obj { o => o.str("template", r.template); o.bool("measured", m)
          o.num("ms", r.ms); o.bool("ok", r.ok) }
      }
    }
    j.obj("templates") { t =>
      recs.groupBy(_.template).toSeq.sortBy(_._1).foreach { case (name, rs) =>
        val ms = rs.filter(_.ok).map(_.ms)
        t.obj(name) { o =>
          o.str("class", rs.head.kind.name); o.num("n", rs.size); o.num("ok", ms.size)
          if (ms.nonEmpty) {
            o.num("median_ms", Stats.quantile(ms, 0.5)); o.num("min_ms", ms.min)
            o.num("max_ms", ms.max)
          }
        }
      }
    }
    j.obj("classes") { c =>
      Seq(Read, Write, Maint).foreach { k =>
        val ms = recs.filter(r => r.ok && r.kind == k).map(_.ms)
        if (ms.nonEmpty) c.obj(k.name) { o =>
          o.num("n", ms.size); o.num("p50_ms", Stats.quantile(ms, 0.5))
          // the highest percentile with at least ten samples beyond it
          Stats.tailLevel(ms.size).foreach { p =>
            o.num("tail_pct", p * 100); o.num("tail_ms", Stats.quantile(ms, p)) }
          o.num("geo_ms", geoOfMedians(recs, k))
        }
      }
    }
    j.obj("end_to_end") { e =>
      e.num("setup_s", setupS)
      e.num("ops_per_s", okN / measureS)
      e.num("read_geo_ms", geoOfMedians(recs, Read))
      e.num("write_geo_ms", geoOfMedians(recs, Write))
      e.num("ok_ratio", okN.toDouble / recs.size)
      e.num("bytes_per_user_byte", storage.bytesPerUserByte)
      e.num("peak_rss_mb", vmHwmMb)
    }
    j.obj("setup") { s =>
      s.num("session_s", sessionS); s.num("register_s", registerS)
      s.num("warmup_s", warmupS)
    }
    j.obj("storage")(storage.write)
    val perOpGcMs = gcDelta.toDouble / math.max(1, recs.size)
    tracer.foreach { tr =>
      j.obj("per_layer") { p =>
        tr.perLayer(p)
        storage.perLayer(p, tr)
        p.num("jvm.gc_ms", perOpGcMs)
        p.num("setup.session_s", sessionS)
        p.num("setup.register_s", registerS)
        p.num("setup.warmup_s", warmupS)
      }
      j.obj("layer_share")(tr.layerShares(_))
      j.obj("rest_detail")(tr.restDetail(_))
    }
    Files.write(Paths.get(out), j.render.getBytes(StandardCharsets.UTF_8))
  }

  /** Geometric mean over a class's templates of each template's median
    * latency: every template weighs the same however its latency compares
    * with the others', so the figure cannot jump between latency clusters
    * the way a pooled percentile does. */
  private def geoOfMedians(recs: Seq[Rec], k: Kind): Double = {
    val meds = recs.filter(r => r.ok && r.kind == k).groupBy(_.template).values
      .map(rs => Stats.quantile(rs.map(_.ms), 0.5)).toSeq
    if (meds.isEmpty) Double.NaN else math.exp(meds.map(math.log).sum / meds.size)
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it. */
  def tailLevel(n: Int): Option[Double] =
    Seq(0.99, 0.95, 0.90, 0.75, 0.5).find(p => n * (1 - p) >= 10)
}

object LakeBench {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, cores, data, work, out) = args
    val b = new LakeBench(workload, seed.toLong, seconds.toInt, trace == "1",
      cores.toInt, data, work)
    // every exit path stops the server and the session: the server's HTTP
    // dispatcher is a non-daemon thread that would keep the JVM alive
    try b.run(out)
    finally {
      b.tracer.foreach(_.stop())
      b.stopServer()
      b.spark.stop()
    }
  }
}

/** Minimal JSON writer for the artifact (Locale-independent numbers). */
final class Json {
  private val sb = new StringBuilder("{")
  private var first = true
  private def key(k: String): Unit = {
    if (!first) sb.append(',')
    first = false
    sb.append(Json.quote(k)).append(':')
  }
  def num(k: String, v: Double): Unit = { key(k); sb.append(Json.number(v)) }
  def num(k: String, v: Long): Unit = { key(k); sb.append(v) }
  def str(k: String, v: String): Unit = { key(k); sb.append(Json.quote(v)) }
  def bool(k: String, v: Boolean): Unit = { key(k); sb.append(v) }
  def obj(k: String)(f: Json => Unit): Unit = {
    key(k); val j = new Json; f(j); sb.append(j.render)
  }
  def arr(k: String)(f: JsonArr => Unit): Unit = {
    key(k); val a = new JsonArr; f(a); sb.append(a.render)
  }
  def render: String = sb.toString + "}"
}

final class JsonArr {
  private val items = ArrayBuffer.empty[String]
  def str(v: String): Unit = items += Json.quote(v)
  def obj(f: Json => Unit): Unit = { val j = new Json; f(j); items += j.render }
  def render: String = items.mkString("[", ",", "]")
}

object Json {
  def number(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
