package perfbench

import java.net.InetSocketAddress
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorders. Every number comes from outside the engine:
  *  - Spark's public hooks (`QueryExecutionListener` with the
  *    `QueryPlanningTracker` phases, and a `SparkListener` for jobs, stages
  *    and tasks) for the planning and execution layers;
  *  - a recording HTTP proxy in front of the REST catalog for the IRC layer;
  *  - a warehouse walk plus `$files`/`$history` for the table layer
  *    ([[Storage]]).
  * Events are attributed to the op that was running: the listener bus is
  * drained at the end of every op before the next one starts. */
final class Trace(b: LakeBench, upstream: String) {

  /** Per-op accumulators (measured ops only). */
  final class OpTrace(val kind: Kind, val table: String, val userRows: Long) {
    var startMs = 0L
    var endMs = 0L
    var ok = false
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val planIntervals = ArrayBuffer.empty[(Long, Long)]
    val jobIntervals = ArrayBuffer.empty[(Long, Long)]
    var jobs, tasks = 0L
    var taskMs, cpuMs, gcMs, shuffleRead, shuffleWrite, spill, scanRows = 0.0
    var resultRows = 0L
    var bytesAdded = 0L
  }

  final case class Req(ep: String, method: String, status: Int, startMs: Long, endMs: Long,
      ms: Double, respBytes: Long, op: Option[OpTrace], planKey: Option[String],
      tasksReturned: Int, liveFiles: Int)

  private val ops = ArrayBuffer.empty[OpTrace]
  @volatile private var current: Option[OpTrace] = None
  private val reqs = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
  private val stageTasks = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSkews = ArrayBuffer.empty[Double]

  // ---------------------------------------------------------- Spark hooks
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = current.foreach { op =>
      qe.tracker.phases.foreach { case (phase, s) =>
        // parsing folds into analysis: both happen before the plan exists
        val name = if (phase == "parsing") "analysis" else phase
        op.phases(name) += s.durationMs
        op.planIntervals += ((s.startTimeMs, s.endTimeMs))
      }
      op.resultRows += Trace.resultRows(qe)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      current.foreach(_.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => current.foreach(_.jobIntervals += ((s, e.time))))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      stageTasks.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) += e.taskInfo.duration
      for (op <- current; m <- Option(e.taskMetrics)) {
        op.tasks += 1
        op.taskMs += m.executorRunTime
        op.cpuMs += m.executorCpuTime / 1e6
        op.gcMs += m.jvmGCTime
        op.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        op.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        op.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        op.scanRows += m.inputMetrics.recordsRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageTasks.remove(e.stageInfo.stageId)).filter(_.size >= 2).foreach { d =>
        if (current.isDefined) {
          val med = Stats.quantile(d.map(_.toDouble).toSeq, 0.5)
          stageSkews += d.max / math.max(1.0, med)
        }
      }
  }

  b.spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    .register(queryListener)
  b.spark.sparkContext.addSparkListener(sparkListener)

  // ---------------------------------------------------------- REST proxy
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val liveFilesCache = new ConcurrentHashMap[String, Integer]()
  private val proxy = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(2)
  proxy.setExecutor(pool)
  proxy.createContext("/", (ex: HttpExchange) => forward(ex))
  proxy.start()
  val proxyUri: String = s"http://127.0.0.1:${proxy.getAddress.getPort}"

  private def send(method: String, pathAndQuery: String, body: Array[Byte],
      headers: Seq[(String, String)]): HttpResponse[Array[Byte]] = {
    val rb = HttpRequest.newBuilder(java.net.URI.create(upstream + pathAndQuery))
    headers.foreach { case (k, v) => rb.header(k, v) }
    rb.method(method,
      if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
      else HttpRequest.BodyPublishers.ofByteArray(body))
    http.send(rb.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def forward(ex: HttpExchange): Unit = try {
    val op = current
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val body = ex.getRequestBody.readAllBytes()
    val path = ex.getRequestURI.getRawPath
    val pq = path + Option(ex.getRequestURI.getRawQuery).map("?" + _).getOrElse("")
    val headers = Seq("Authorization", "Content-Type", "If-None-Match")
      .flatMap(h => Option(ex.getRequestHeaders.getFirst(h)).map(h -> _))
    val resp = send(ex.getRequestMethod, pq, body, headers)
    val bytes = resp.body()
    Seq("Content-Type", "ETag").foreach(h =>
      resp.headers().firstValue(h).ifPresent(v => ex.getResponseHeaders.set(h, v)))
    ex.sendResponseHeaders(resp.statusCode(), if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
    val ms = (System.nanoTime() - n0) / 1e6
    val t1 = System.currentTimeMillis()
    val ep = Trace.endpoint(ex.getRequestMethod, path)
    val (key, tasks, live) =
      if (ep == "plan" && ex.getRequestMethod == "POST" && resp.statusCode() == 200)
        planFacts(path, new String(body, "UTF-8"), new String(bytes, "UTF-8"), headers)
      else (None, 0, 0)
    reqs.add(Req(ep, ex.getRequestMethod, resp.statusCode(), t0, t1, ms, bytes.length, op,
      key, tasks, live))
  } catch {
    case e: Exception =>
      ex.sendResponseHeaders(502, -1); ex.close()
      System.err.println(s"[lakebench] proxy: ${e.getClass.getSimpleName}: ${e.getMessage}")
  }

  /** (table, snapshot-id, filter) key of a /plan request, the tasks it
    * returned, and the live data files of that snapshot (an unfiltered plan
    * sent past the proxy, cached per table snapshot). */
  private def planFacts(path: String, req: String, resp: String,
      headers: Seq[(String, String)]): (Option[String], Int, Int) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val f: Formats = DefaultFormats
    val j = if (req.trim.isEmpty) JObject() else JsonMethods.parse(req)
    val snap = (j \ "snapshot-id").extractOpt[Long]
    val filter = JsonMethods.compact(JsonMethods.render(j \ "filter"))
    val tasks = (JsonMethods.parse(resp) \ "file-scan-tasks").children.size
    val live = snap match {
      case None => 0
      case Some(s) =>
        liveFilesCache.computeIfAbsent(s"$path@$s", _ => {
          val all = send("POST", path, s"""{"snapshot-id":$s}""".getBytes("UTF-8"), headers)
          Integer.valueOf((JsonMethods.parse(new String(all.body(), "UTF-8")) \
            "file-scan-tasks").children.size)
        }).intValue
    }
    (Some(s"$path|${snap.getOrElse("current")}|$filter"), tasks, live)
  }

  // ---------------------------------------------------------- op framing
  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(b.spark.sparkContext)

  def beginOp(op: Op): Unit = {
    drain()
    val t = new OpTrace(op.kind, op.table, op.userRows)
    if (op.kind == Write) t.bytesAdded = -Storage.warehouseBytes(b)
    t.startMs = System.currentTimeMillis()
    ops += t
    current = Some(t)
  }

  def endOp(ok: Boolean): Unit = {
    val t = current.get
    t.endMs = System.currentTimeMillis()
    t.ok = ok
    drain()
    current = None
    if (t.kind == Write) t.bytesAdded += Storage.warehouseBytes(b)
  }

  def endMeasured(): Unit = drain()

  def stop(): Unit = {
    proxy.stop(0)
    pool.shutdownNow()
  }

  // ---------------------------------------------------------- reporting
  private def allReqs: Seq[Req] = reqs.asScala.toSeq
  private def measuredReqs: Seq[Req] = allReqs.filter(_.op.isDefined)

  def perLayer(p: Json): Unit = {
    val m = ops.toSeq
    val n = math.max(1, m.size).toDouble
    def mean(f: OpTrace => Double): Double = m.map(f).sum / n
    p.num("plan.analysis_ms", mean(_.phases("analysis")))
    p.num("plan.optimizer_ms", mean(_.phases("optimization")))
    p.num("plan.physical_ms", mean(_.phases("planning")))
    p.num("exec.jobs_per_op", mean(_.jobs.toDouble))
    p.num("exec.tasks_per_op", mean(_.tasks.toDouble))
    p.num("exec.task_ms", mean(_.taskMs))
    p.num("exec.cpu_ms", mean(_.cpuMs))
    p.num("exec.task_gc_ms", mean(_.gcMs))
    p.num("exec.shuffle_read_bytes", mean(_.shuffleRead))
    p.num("exec.shuffle_write_bytes", mean(_.shuffleWrite))
    p.num("exec.spill_bytes", mean(_.spill))
    p.num("exec.task_skew",
      if (stageSkews.isEmpty) 1.0 else Stats.quantile(stageSkews.toSeq, 0.5))
    val withResult = m.filter(_.resultRows > 0)
    p.num("exec.scan_rows_per_result_row",
      withResult.map(_.scanRows).sum / math.max(1L, withResult.map(_.resultRows).sum))
    val all = allReqs
    Trace.Endpoints.foreach { ep =>
      val rs = all.filter(_.ep == ep)
      p.num(s"rest.$ep.n", rs.size.toLong)
      if (Trace.TimedEndpoints(ep)) {
        p.num(s"rest.$ep.ms", if (rs.isEmpty) 0.0 else Stats.quantile(rs.map(_.ms), 0.5))
        p.num(s"rest.$ep.resp_bytes", if (rs.isEmpty) 0.0 else Stats.quantile(rs.map(_.respBytes.toDouble), 0.5))
      }
    }
    val mr = measuredReqs
    p.num("rest.requests_per_op", mr.size / n)
    p.num("rest.commit.conflicts", mr.count(r => r.ep == "commit" && r.status == 409).toLong)
    p.num("rest.errors", mr.count(Trace.unexpected).toLong)
    val plans = mr.filter(_.planKey.isDefined)
    p.num("rest.plan.distinct_ratio",
      if (plans.isEmpty) 0.0 else plans.flatMap(_.planKey).distinct.size.toDouble / plans.size)
  }

  /** Warehouse bytes each measured write added, over the user bytes it
    * changed (`userRows` at the table's plain-parquet bytes per row). */
  def writeAmp(bytesPerRow: Map[String, Double]): Double = {
    val w = ops.toSeq.filter(o => o.kind == Write && o.ok && o.userRows > 0)
    val user = w.map(o => o.userRows * bytesPerRow.getOrElse(o.table, 0.0)).sum
    if (user <= 0) 0.0 else w.map(_.bytesAdded).sum / user
  }

  /** Files the engine's /plan requests kept, over the live files of the
    * planned snapshot. */
  def filesKeptRatio: Double = {
    val p = measuredReqs.filter(_.liveFiles > 0)
    if (p.isEmpty) 0.0 else p.map(_.tasksReturned).sum.toDouble / p.map(_.liveFiles).sum
  }

  /** Share of measured op time in each layer. Intervals are attributed
    * exclusively in the order REST > execution > planning (a REST call made
    * while planning counts as REST); the rest is remainder. */
  def layerShares(j: Json): Unit = {
    val m = ops.toSeq
    val byOp = measuredReqs.groupBy(_.op.get)
    val totals = mutable.Map("rest" -> 0L, "exec" -> 0L, "plan" -> 0L).withDefaultValue(0L)
    var opMs = 0L
    m.foreach { o =>
      val covered = ArrayBuffer.empty[(Long, Long)]
      def add(layer: String, iv: Seq[(Long, Long)]): Unit = {
        val before = Trace.coverage(covered.toSeq)
        covered ++= iv.map { case (s, e) => (math.max(s, o.startMs), math.min(e, o.endMs)) }
          .filter { case (s, e) => e > s }
        totals(layer) += Trace.coverage(covered.toSeq) - before
      }
      add("rest", byOp.getOrElse(o, Nil).map(r => (r.startMs, r.endMs)))
      add("exec", o.jobIntervals.toSeq)
      add("plan", o.planIntervals.toSeq)
      opMs += o.endMs - o.startMs
    }
    val total = math.max(1L, opMs).toDouble
    Seq("plan", "exec", "rest").foreach(l => j.num(l, totals(l) / total))
    j.num("remainder", 1.0 - totals.values.sum / total)
    j.num("op_ms_total", opMs)
  }

  def restDetail(j: Json): Unit = allReqs.groupBy(_.ep).toSeq.sortBy(_._1).foreach { case (ep, rs) =>
    j.obj(ep) { o =>
      o.num("n", rs.size.toLong)
      o.num("measured_n", rs.count(_.op.isDefined).toLong)
      o.num("median_ms", Stats.quantile(rs.map(_.ms), 0.5))
      o.num("median_resp_bytes", Stats.quantile(rs.map(_.respBytes.toDouble), 0.5))
      o.num("errors", rs.count(Trace.unexpected).toLong)
    }
  }
}

object Trace {
  val Endpoints = Seq("token", "config", "load", "plan", "tasks", "commit", "list", "metrics")

  /** Endpoints the engine calls on every workload; `tasks` (plan paging)
    * and `metrics` (scan reports) only occur on some, so only their counts
    * are per-layer metrics (their timings stay in `rest_detail`). */
  val TimedEndpoints = Set("token", "config", "load", "plan", "commit", "list")

  /** Endpoint class of a catalog request path (graft's own `/v1/...`
    * surface and the spec `/v1/iceberg/...` one alike). */
  def endpoint(method: String, rawPath: String): String = {
    val segs = rawPath.stripPrefix("/v1/").split("/").filter(_.nonEmpty).toList match {
      case "iceberg" :: rest => rest
      case s => s
    }
    (method, segs) match {
      case (_, "oauth" :: "tokens" :: Nil) => "token"
      case (_, "config" :: Nil) => "config"
      case (_, "namespaces" :: _ :: "tables" :: _ :: "plan" :: _) => "plan"
      case (_, "namespaces" :: _ :: "tables" :: _ :: "tasks" :: Nil) => "tasks"
      case (_, "namespaces" :: _ :: "tables" :: _ :: "metrics" :: Nil) => "metrics"
      case (_, "namespaces" :: _ :: "tables" :: _ :: ("commit" | "head" | "refs") :: _) => "commit"
      case ("POST", "namespaces" :: _ :: "tables" :: _ :: Nil) => "commit"
      case (_, "transactions" :: "commit" :: Nil) => "commit"
      case ("GET" | "HEAD", "namespaces" :: _ :: "tables" :: _ :: Nil) => "load"
      case ("GET" | "HEAD", "namespaces" :: Nil) => "list"
      case ("GET" | "HEAD", "namespaces" :: _ :: Nil) => "list"
      case ("GET" | "HEAD", "namespaces" :: _ :: "tables" :: Nil) => "list"
      case _ => "other"
    }
  }

  /** 4xx/5xx other than a commit conflict (409) or a 404 answering an
    * existence probe. */
  def unexpected(r: Trace#Req): Boolean =
    r.status >= 400 && !(r.ep == "commit" && r.status == 409) &&
      !(r.status == 404 && (r.method == "GET" || r.method == "HEAD"))

  /** Milliseconds covered by a set of possibly overlapping intervals. */
  def coverage(iv: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var started = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!started || s > end) { total += e - s; end = e; started = true }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  /** Rows the query returned (or handed to its sink): the output rows of
    * the topmost plan node that counts them, below any write node. */
  def resultRows(qe: QueryExecution): Long = {
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = qe.executedPlan match {
      case w: V2TableWriteExec => w.query
      case p => p
    }
    helper.collectFirst(plan) {
      case p if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value
    }.getOrElse(0L)
  }
}
