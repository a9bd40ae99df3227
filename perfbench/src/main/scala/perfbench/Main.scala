package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.engine.{OutputWriter, RequestParser, SimSearchEngine}
import graft.service.SimSearchService

/** Drives the search service for one run of a search workload, or the
  * batch suite (see [[Batch]]) for a run of batch_suite.
  *
  * Usage: `perfbench.Main <plan.json> <out.json>`. The plan (written by
  * run.py) names the workload's mode and, for a search workload, the
  * tenants' mount requests, the seeded request streams, the client count,
  * warm-up and measured seconds, and whether to trace. The harness
  * records raw observations only: set-up times, every timed request's
  * latency and response body, cached blocks, and on a traced run the
  * per-request work of the in-process passes. run.py checks the bodies
  * and turns the observations into metrics.
  */
object Main {
  private val mapper = new ObjectMapper()

  final case class Req(tenant: Int, index: Int, body: String)
  final case class Served(req: Req, client: Int, startMs: Long, latencyMs: Double,
      code: Int, body: String)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new java.io.File(args(0)))
    val out = mapper.createObjectNode()
    val spark = SparkSession.builder()
      .master(s"local[${plan.get("cores").asInt}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", plan.get("cores").asText)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.get("tmp").asText)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = try {
      if (plan.get("mode").asText == "batch") new Batch(spark, plan, out).run()
      else runSearch(spark, plan, out)
      true
    } catch {
      case e: Throwable => e.printStackTrace(); false
    }
    Files.write(Paths.get(args(1)), mapper.writeValueAsBytes(out))
    spark.stop()
    // the HTTP server's dispatcher is not a daemon thread
    System.exit(if (ok) 0 else 1)
  }

  private def streams(node: JsonNode): IndexedSeq[IndexedSeq[Req]] =
    node.elements().asScala.zipWithIndex.map { case (reqs, t) =>
      reqs.elements().asScala.zipWithIndex
        .map { case (r, i) => Req(t, i, mapper.writeValueAsString(r)) }.toIndexedSeq
    }.toIndexedSeq

  private def post(client: HttpClient, url: String, body: String,
      apiKey: Option[String]): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
    apiKey.foreach(b.header("api_key", _))
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Run `clients` closed-loop workers until `deadline` (ms since epoch)
    * or until their slices `from(t) until until(t)` of the streams are
    * used up. Client c serves tenant `tenantOf(c)` and takes that tenant's
    * next unserved request. After its first request a client starts
    * another only if, at its previous request's latency, it would end by
    * the deadline: the timed phase then lasts at most the measured
    * seconds, and the number of requests in it does not flip with small
    * changes in speed when a request takes a good part of the window. */
  private def closedLoop(clients: Int, tenantOf: Int => Int,
      reqs: IndexedSeq[IndexedSeq[Req]], from: IndexedSeq[Int], until: IndexedSeq[Int],
      deadline: Long)(call: (Int, Req) => (Int, String)): Seq[Served] = {
    val next = from.map(new AtomicInteger(_))
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Served]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val workers = (0 until clients).map { c =>
      val t = tenantOf(c)
      new Thread(() => try {
        var last = 0.0
        def fits = System.currentTimeMillis() + last <= deadline
        var i = next(t).getAndIncrement()
        while (i < until(t) && fits) {
          val start = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val (code, body) = call(c, reqs(t)(i))
          last = (System.nanoTime() - t0) / 1e6
          done.add(Served(reqs(t)(i), c, start, last, code, body))
          i = next(t).getAndIncrement()
        }
      } catch { case e: Throwable => failure.compareAndSet(null, e) }, s"perfbench-client-$c")
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    done.asScala.toSeq.sortBy(_.startMs)
  }

  private def cachedBlocks(spark: SparkSession): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum, infos.map(i => i.memSize + i.diskSize).sum)
  }

  private def servedJson(s: Served): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("tenant", s.req.tenant); o.put("index", s.req.index); o.put("client", s.client)
    o.put("start_ms", s.startMs); o.put("latency_ms", s.latencyMs); o.put("code", s.code)
    o.put("body", s.body)
  }

  /** The calls handleSearch makes for one request body, in-process. */
  private def searchInProcess(spark: SparkSession, cat: SimSearchEngine.Catalog,
      body: String, tmp: String, trace: Option[(Trace, String)]): String = {
    def step[T](name: String)(f: => T): T = trace match {
      case Some((tr, rid)) => tr.span(name, "request", rid)(f)
      case None => f
    }
    val file = Files.createTempFile(Paths.get(tmp), "req", ".json")
    try {
      Files.write(file, body.getBytes(StandardCharsets.UTF_8))
      val req = step("engine.parse")(RequestParser.parseSearchRequest(file.toString))
      val res = step("engine.search")(SimSearchEngine.search(spark, cat, req.k, req.specs,
        detailed = true, algorithm = graft.api.Algorithm.parse(req.algorithm)))
      step("engine.respond")(OutputWriter.toJsonResponse(
        SimSearchEngine.applyIdPrefix(cat, res), Seq.empty))
    } finally Files.delete(file)
  }

  private def runSearch(spark: SparkSession, plan: JsonNode, out: ObjectNode): Unit = {
    val tmp = plan.get("tmp").asText
    val clients = plan.get("clients").asInt
    val tenantOfClient = plan.get("client_tenant").elements().asScala.map(_.asInt).toIndexedSeq
    val sources = plan.get("tenants").elements().asScala.map(_.asText).toIndexedSeq
    val sourceBodies = sources.map(p => new String(Files.readAllBytes(Paths.get(p)),
      StandardCharsets.UTF_8))
    val http = (0 until clients).map(_ => HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build())

    // Set-up: service start plus /index of every tenant's catalog, repeated
    // so the reported figure is a median; the last service stays up.
    var service: SimSearchService = null
    var keys = IndexedSeq.empty[String]
    var base = ""
    val setupS = (1 to plan.get("setup_reps").asInt).map { rep =>
      if (service != null) service.stop()
      val t0 = System.nanoTime()
      service = new SimSearchService(spark, 0)
      base = s"http://127.0.0.1:${service.start()}/simsearch/api"
      keys = sourceBodies.map { body =>
        val (code, resp) = post(http(0), s"$base/index", body, None)
        require(code == 200, s"/index failed: $resp")
        mapper.readTree(resp).get("apiKey").asText
      }
      (System.nanoTime() - t0) / 1e9
    }
    out.set[JsonNode]("setup_s", mapper.valueToTree(setupS.toArray))

    val callHttp = (c: Int, r: Req) =>
      post(http(c), s"$base/search", r.body, Some(keys(r.tenant)))
    // Warm-up: JIT and codegen caches fill over the first requests.
    val warmup = streams(plan.get("warmup"))
    val warm = closedLoop(clients, tenantOfClient, warmup, warmup.map(_ => 0),
      warmup.map(_.size), Long.MaxValue)(callHttp)
    out.put("warmup_requests", warm.size)
    out.set[JsonNode]("warmup_latency_ms", mapper.valueToTree(warm.map(_.latencyMs).toArray))

    val timed = streams(plan.get("requests"))
    val seconds = plan.get("seconds").asDouble
    if (plan.get("trace").asInt == 1)
      tracedRounds(spark, out, timed, clients, tenantOfClient, sources, tmp, seconds, callHttp)
    else {
      val t0 = System.currentTimeMillis()
      val served = closedLoop(clients, tenantOfClient, timed, timed.map(_ => 0),
        timed.map(_.size), t0 + (seconds * 1000).toLong)(callHttp)
      out.put("timed_wall_s", (served.map(s => s.startMs + s.latencyMs.toLong).max - t0) / 1e3)
      val servedArr = out.putArray("served")
      served.foreach(s => servedArr.add(servedJson(s)))
    }
    val (blocks, bytes) = cachedBlocks(spark)
    out.put("cached_blocks", blocks)
    out.put("cached_bytes", bytes)
    service.stop()
    if (plan.get("trace").asInt == 1) {
      // sources.mount_ms: RequestParser.mountInto of every tenant's catalog
      val mountMs = (1 to plan.get("mount_reps").asInt).map { _ =>
        val t0 = System.nanoTime()
        sources.foreach(p =>
          RequestParser.mountInto(spark, p, new SimSearchEngine.Catalog(Seq.empty)))
        (System.nanoTime() - t0) / 1e6
      }
      out.set[JsonNode]("mount_ms", mapper.valueToTree(mountMs.toArray))
    }
  }

  /** The traced run: rounds of one request per client, each round in one
    * of three modes: over HTTP, in-process untraced, and in-process traced
    * (the same calls handleSearch makes). Cycles run the modes in
    * alternating order (ABC, CBA, ...) so JIT warm-up over the run biases
    * none of them, until about two windows have passed (at least two
    * cycles). HTTP against untraced in-process medians gives the service
    * overhead; traced against untraced the tracing overhead. Every round
    * takes fresh requests from the seeded streams: a replayed request
    * would find the top-M caches and generated code its first run left
    * behind, and read as cheaper than it is. */
  private def tracedRounds(spark: SparkSession, out: ObjectNode,
      timed: IndexedSeq[IndexedSeq[Req]], clients: Int, tenantOf: Int => Int,
      sources: IndexedSeq[String], tmp: String, seconds: Double,
      callHttp: (Int, Req) => (Int, String)): Unit = {
    val sc = spark.sparkContext
    // the catalogs the service serves, mounted again for in-process calls
    val cats = sources.map { p =>
      val c = new SimSearchEngine.Catalog(Seq.empty)
      RequestParser.mountInto(spark, p, c)
      c
    }
    val perTenant = (0 until cats.size).map(t => (0 until clients).count(tenantOf(_) == t))
    var offset = 0
    def round(call: (Int, Req) => (Int, String)): Seq[Served] = {
      val from = perTenant.map(_ * offset)
      offset += 1
      require(from.zip(perTenant).forall { case (f, n) => f + n <= timed.head.size },
        "request streams too short")
      closedLoop(clients, tenantOf, timed, from, from.zip(perTenant).map(x => x._1 + x._2),
        Long.MaxValue)(call)
    }

    val trace = new Trace
    val codegen = new CodegenProbe
    var compiles, blocksAdded = 0L
    var compileMs = 0.0
    val modes: Seq[(String, () => Seq[Served])] = Seq(
      "http" -> (() => round(callHttp)),
      "inproc" -> (() => round((_, r) =>
        (200, searchInProcess(spark, cats(r.tenant), r.body, tmp, None)))),
      "traced" -> { () =>
        sc.addSparkListener(trace)
        codegen.install()
        val (c0, ms0, b0) = (codegen.compiles, codegen.compileMs, cachedBlocks(spark)._1)
        val served = round { (_, r) =>
          val rid = s"t${r.tenant}-r${r.index}"
          sc.setJobGroup(rid, "perfbench traced request", interruptOnCancel = false)
          try (200, trace.span("request", "", rid)(
            searchInProcess(spark, cats(r.tenant), r.body, tmp, Some((trace, rid)))))
          finally sc.clearJobGroup()
        }
        compiles += codegen.compiles - c0
        compileMs += codegen.compileMs - ms0
        blocksAdded += cachedBlocks(spark)._1 - b0
        org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
        codegen.uninstall()
        sc.removeSparkListener(trace)
        served
      })
    val byMode = modes.map(_._1 -> mutable.ArrayBuffer[Served]()).toMap
    val t0 = System.currentTimeMillis()
    var cycle = 0
    var cycleMs = 0L
    while (cycle < 2 || System.currentTimeMillis() + cycleMs <= t0 + 2 * seconds * 1000) {
      val c0 = System.currentTimeMillis()
      (if (cycle % 2 == 0) modes else modes.reverse).foreach { case (name, run) =>
        byMode(name) ++= run()
      }
      cycleMs = System.currentTimeMillis() - c0
      cycle += 1
    }
    out.put("cycles", cycle)
    Seq("http" -> "served", "inproc" -> "inproc").foreach { case (mode, key) =>
      val arr = out.putArray(key)
      byMode(mode).foreach(s => arr.add(servedJson(s)))
    }
    out.put("inproc_p50_ms", median(byMode("inproc").map(_.latencyMs).toSeq))
    out.put("traced_p50_ms", median(byMode("traced").map(_.latencyMs).toSeq))
    out.put("codegen_compiles", compiles)
    out.put("codegen_ms", compileMs)
    out.put("cached_blocks_added", blocksAdded)
    val traced = byMode("traced").toSeq

    val spans = trace.allSpans
    val perReq = out.putArray("traced")
    traced.foreach { s =>
      val rid = s"t${s.req.tenant}-r${s.req.index}"
      val mine = spans.filter(_.request == rid)
      val root = mine.find(_.name == "request").get
      val w = trace.workOf(rid)
      val o = servedJson(s)
      def dur(name: String) = mine.filter(_.name == name).map(x => x.end - x.start).sum
      o.put("parse_ms", dur("engine.parse"))
      o.put("search_ms", dur("engine.search"))
      o.put("respond_ms", dur("engine.respond"))
      o.put("request_ms", root.end - root.start)
      o.put("jobs", w.jobs); o.put("stages", w.stages); o.put("tasks", w.tasks)
      o.put("rank_agg_jobs", w.rankAggJobs)
      o.put("task_ms", w.taskMs); o.put("cpu_ns", w.cpuNs)
      o.put("bytes_read", w.bytesRead); o.put("rows_read", w.rowsRead)
      o.put("shuffle_write", w.shuffleWrite); o.put("spill", w.spill)
      o.put("sched_wait_ms", w.schedWaitMs)
      o.set[JsonNode]("job_sites", mapper.valueToTree(w.jobSites.toArray))
      val jobs = w.jobIntervals.toSeq.map { case (a, b) => (a.toDouble, b.toDouble) }
      o.put("driver_gap_ms", Trace.uncovered(root.start, root.end, jobs))
      // self time: a span's duration less what its children cover
      val children = mine.filter(_.parent == "request").map(x => (x.start, x.end))
      o.put("request_self_ms", Trace.uncovered(root.start, root.end, children))
      mine.filter(_.parent == "request").foreach { x =>
        o.put(x.name + "_self_ms", Trace.uncovered(x.start, x.end, jobs))
      }
      perReq.add(o)
    }
    val spanArr = out.putArray("spans")
    spans.sortBy(_.start).foreach { x =>
      val o = mapper.createObjectNode()
      o.put("name", x.name); o.put("start", x.start); o.put("end", x.end)
      o.put("parent", x.parent); o.put("request", x.request)
      spanArr.add(o)
    }
  }
}
