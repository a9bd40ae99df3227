package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.util.CacheScope

/** Runs a subset of the batch suite (`SparkEntry.queries`) for one run of
  * the batch_suite workload, with the protocol `graft.Bench` uses: each
  * query inside `CacheScope.withScope`, its full plan consumed by the noop
  * sink, and `clearCache` after it.
  *
  * A first untimed pass writes every query's result as parquet for
  * run.py to compare with the DuckDB oracle, and warms the JIT and the
  * code generator. Set-up then builds the suite's persisted indexes by
  * running each index query once. The program builds an index at most
  * once per table directory in a JVM, so the verification pass and every
  * set-up repetition read their own copy of the tables (`table_dirs`) and
  * build fresh indexes under `java.io.tmpdir`; the later passes probe the
  * last set-up's indexes. Timed passes follow while the window is open;
  * a traced run makes untraced and traced passes instead.
  */
final class Batch(spark: SparkSession, plan: JsonNode, out: ObjectNode) {
  private val mapper = new ObjectMapper()
  private val sc = spark.sparkContext
  private val tmp = plan.get("tmp").asText
  private val trace = new Trace
  private val scans = new ScanProbe(tmp)
  private val errors = mutable.ArrayBuffer[String]()

  private def strings(key: String): IndexedSeq[String] =
    plan.get(key).elements().asScala.map(_.asText).toIndexedSeq

  private val queries = strings("queries")

  /** Run query `q` over `dir` the way graft.Bench does: seconds taken, or
    * NaN (and the error recorded) if it fails. */
  private def timeQuery(q: String, dir: String): Double = {
    val t0 = System.nanoTime()
    try {
      CacheScope.withScope(
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable =>
      errors += s"$q: ${e.toString.take(300)}"
      Double.NaN
    } finally spark.catalog.clearCache()
  }

  /** Run `body` as span `name` under job group `group`, then wait until
    * the listeners have seen every event it caused. */
  private def traced[T](name: String, parent: String, group: String)(body: => T): T = {
    sc.setJobGroup(group, "perfbench traced query", interruptOnCancel = false)
    trace.fallbackGroup = group
    try trace.span(name, parent, group)(body)
    finally {
      sc.clearJobGroup()
      org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
      trace.fallbackGroup = ""
    }
  }

  private def listening[T](body: => T): T = {
    sc.addSparkListener(trace)
    spark.listenerManager.register(scans)
    try body finally {
      spark.listenerManager.unregister(scans)
      sc.removeSparkListener(trace)
    }
  }

  private def jobIntervals(group: String): Seq[(Double, Double)] =
    trace.workOf(group).jobIntervals.toSeq.map { case (a, b) => (a.toDouble, b.toDouble) }

  def run(): Unit = {
    val tracing = plan.get("trace").asInt == 1
    val dirs = strings("table_dirs")
    val indexQueries = strings("index_queries")

    // Verification pass, untimed, over the first table copy: every
    // query's result as parquet. It pays the JVM's cold start, so set-up
    // (on the other copies) times warm index builds.
    val verifyDir = plan.get("verify_dir").asText
    val verifyS = queries.map { q =>
      val t0 = System.nanoTime()
      try CacheScope.withScope(SparkEntry.queries(q)(spark, dirs.head)
        .coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$q"))
      catch { case e: Throwable => errors += s"$q: ${e.toString.take(300)}" }
      finally spark.catalog.clearCache()
      q -> (System.nanoTime() - t0) / 1e9
    }
    out.set[JsonNode]("verify_s", mapper.valueToTree(verifyS.toMap.asJava))
    mapper.writeValue(new File(s"$verifyDir/oracle_sql.json"),
      queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap.asJava)

    // Set-up: build the persisted indexes, once per table copy.
    val setupS = dirs.tail.map { dir =>
      val t0 = System.nanoTime()
      indexQueries.foreach { q =>
        if (tracing) listening(traced(q, "setup", s"setup:$q")(timeQuery(q, dir)))
        else timeQuery(q, dir)
      }
      (System.nanoTime() - t0) / 1e9
    }
    out.set[JsonNode]("setup_s", mapper.valueToTree(setupS.toArray))
    val dir = dirs.last
    if (tracing) {
      // the index directories the set-up wrote: the program names each
      // after the table directory it indexes
      val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val files = new File(tmp).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("graft-") && f.getName.endsWith(key))
        .flatMap(d => Files.walk(d.toPath).iterator().asScala.filter(Files.isRegularFile(_)))
      out.put("index_files_written", files.length)
      out.put("index_bytes_written", files.map(Files.size).sum)
      val builds = out.putArray("index_builds")
      trace.allSpans.filter(_.parent == "setup").foreach { s =>
        val o = builds.addObject()
        o.put("query", s.name); o.put("span_ms", s.end - s.start)
        o.put("jobs", trace.workOf(s.request).jobs)
        o.put("uncovered_ms", Trace.uncovered(s.start, s.end, jobIntervals(s.request)))
      }
    }

    if (tracing) tracedPasses(dir)
    else {
      // Timed passes: a pass starts while the window is open, so the last
      // one may end after it. run.py takes each query's median over the
      // passes, which the pass count does not bias.
      val deadline = System.nanoTime() + (plan.get("seconds").asDouble * 1e9).toLong
      val passes = mutable.ArrayBuffer[Seq[Double]]()
      while (System.nanoTime() < deadline) passes += queries.map(timeQuery(_, dir))
      putPasses("passes", passes.toSeq)
    }
    out.set[JsonNode]("errors", mapper.valueToTree(errors.toArray))
    val infos = sc.getRDDStorageInfo
    out.put("cached_blocks", infos.map(_.numCachedPartitions.toLong).sum)
    out.put("cached_bytes", infos.map(i => i.memSize + i.diskSize).sum)
  }

  private def putPasses(key: String, passes: Seq[Seq[Double]]): Unit = {
    val arr = out.putArray(key)
    passes.foreach { p =>
      val o = arr.addObject()
      queries.zip(p).foreach { case (q, s) => o.put(q, s) }
    }
  }

  /** Untraced and traced passes in the order U T T U, so JIT warm-up over
    * the run favours neither. Each traced query runs under its own job
    * group and span; the listener bus is drained after it, so the scan
    * metrics the query-execution listener read belong to that query. */
  private def tracedPasses(dir: String): Unit = {
    val probe = mutable.Map[String, (Long, Long)]()
    def plainPass(): Seq[Double] = queries.map(timeQuery(_, dir))
    def tracedPass(pass: Int): Seq[Double] = listening(queries.map { q =>
      val group = s"p$pass:$q"
      scans.reset()
      val t0 = System.nanoTime()
      traced(q, "pass", group)(timeQuery(q, dir))
      probe(group) = (scans.files, scans.rows)
      (System.nanoTime() - t0) / 1e9
    })
    val plain = mutable.ArrayBuffer(plainPass())
    val withTrace = Seq(tracedPass(1), tracedPass(2))
    plain += plainPass()
    putPasses("passes", plain.toSeq)
    putPasses("traced_passes", withTrace)

    val arr = out.putArray("traced")
    trace.allSpans.filter(_.parent == "pass").sortBy(_.start).foreach { s =>
      val w = trace.workOf(s.request)
      val (files, rows) = probe(s.request)
      val o = arr.addObject()
      o.put("query", s.name); o.put("group", s.request); o.put("span_ms", s.end - s.start)
      o.put("jobs", w.jobs); o.put("stages", w.stages); o.put("tasks", w.tasks)
      o.put("task_ms", w.taskMs); o.put("cpu_ns", w.cpuNs)
      o.put("bytes_read", w.bytesRead); o.put("rows_read", w.rowsRead)
      o.put("shuffle_write", w.shuffleWrite); o.put("spill", w.spill)
      o.put("driver_gap_ms", Trace.uncovered(s.start, s.end, jobIntervals(s.request)))
      o.put("index_files_read", files); o.put("index_rows_read", rows)
    }
  }
}

/** Reads the scan metrics of every query execution that completes while
  * registered: files and rows read by file scans under `indexRoot`, where
  * the program keeps its persisted indexes. */
final class ScanProbe(indexRoot: String) extends QueryExecutionListener {
  private var f, r = 0L
  private val root = new File(indexRoot).toURI.getPath

  def reset(): Unit = synchronized { f = 0; r = 0 }
  def files: Long = synchronized(f)
  def rows: Long = synchronized(r)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case e: ReusedExchangeExec => nodes(e.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    nodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(root)) =>
        def metric(name: String) = s.metrics.get(name).map(_.value).getOrElse(0L)
        synchronized { f += metric("numFiles"); r += metric("numOutputRows") }
      case _ =>
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
