package graft.server

import java.io.{IOException, OutputStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSortedCollect, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.kql.{Aggregation, Catalog, Compiler, Kql, KqlParseException, Parsed, Query, QueryStep}

/** HTTP/SSE API mirroring the reference's server surface
  * (`miso-server/src/http_server.rs`): `POST /query` streams result rows as
  * server-sent events, `POST /explain` returns the plan without executing,
  * views and connectors have list/get/register/delete routes, and
  * `GET /health` / `GET /metrics` cover operations. Built on the JDK's
  * HttpServer + Spark's bundled Jackson — no extra dependencies.
  *
  * Progressive partials (`partial_stream: true` in the request body — the
  * reference's hallmark feature, `miso-workflow/src/partial_stream.rs:1-49`,
  * `http_server.rs:335-405`): an eligible aggregation runs as a Structured
  * Streaming query over the source, and each debounced micro-batch emits an
  * `event: partial` frame holding the full refining snapshot, followed by
  * the final rows and `event: done`. Post-aggregation steps (sort/top/
  * limit/project) are applied to each snapshot in batch mode, where
  * blocking operators are legal — the analog of the reference snapshotting
  * its blocking operators mid-query.
  *
  * Cancellation (`http_server.rs:345-349`, `cancel_iter.rs`): every query
  * runs in its own Spark job group; a failed SSE write (client went away)
  * cancels the group's running jobs and any it would start later (a
  * disconnect seen between two jobs of one query stops the rest), so a
  * shared cluster stops paying for abandoned queries. A keepalive comment
  * frame probes the connection while the handler thread is blocked inside
  * a Spark job.
  *
  * Security: binds loopback by default; `raw("…")` (arbitrary Spark SQL —
  * it can read any local file) is refused unless `allowRaw` is set.
  *
  * Scale note: a result whose root is a `sort by` is served like miso's
  * in-memory `sort` (`miso-workflow/src/sort.rs`): one Spark job sorts
  * each partition, and the driver merges the sorted runs and holds the
  * whole result before its first row is sent
  * ([[org.apache.spark.sql.GraftSortedCollect]]). A global Spark sort
  * would cost a range-sample job and a shuffle on top of the result job.
  * The held rows are capped at miso's 500 MB: a larger sorted result runs
  * again as a global sort and streams like any other. Every other result
  * streams through `toJSON.toLocalIterator`, so the driver holds one
  * partition at a time — the moral equivalent of miso's channel-fed SSE
  * writer (a small result is one partition either way: adaptive
  * execution coalesces it). The sorted path's one collect is also bounded
  * by `spark.driver.maxResultSize` (compressed bytes, 1 GiB by default): a
  * sorted result past that fails in-band instead of taking the streamed
  * path.
  */
final class QueryServer(
    spark: SparkSession, catalog: Catalog, port: Int,
    host: String = "127.0.0.1", allowRaw: Boolean = false,
    statusDir: Option[String] = None) {
  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  // query-status tracking through an upsert sink (reference
  // `miso-server/src/query_status.rs`): one record per query id, advanced
  // planning → running → success/error/canceled; the table is plain parquet
  private val statusWriter = statusDir.map(new QueryStatusWriter(spark, _))
  // per-step row metrics (reference miso-common/src/metrics.rs) harvested
  // from executed-plan SQLMetrics; owned per server so tests don't
  // double-count across instances
  private val metrics = new StepMetricsListener
  // row-error counter (reference filter.rs:36-45 / project.rs:57-61): rows
  // silently nulled by try_* lowerings — casts, todynamic parses, ÷0 —
  // counted via Compiler.errorCounter and exposed in /metrics
  private val rowsNulled = spark.sparkContext.longAccumulator("graft_rows_nulled")
  // job id -> job group of this server's running jobs, for the keepalive
  // probe's "is a job of this request running" (a running-jobs map stays
  // as small as the cluster's concurrency; the status store keeps history)
  private val runningJobs = new ConcurrentHashMap[Int, String]()
  private val jobWatch = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(QueryServer.JobGroupKey)))
        .filter(_.startsWith(QueryServer.GroupPrefix)).foreach(runningJobs.put(e.jobId, _))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = runningJobs.remove(e.jobId)
  }

  def boundPort: Int = server.getAddress.getPort

  // handler threads carry the port in their names, so a leak is visible
  // in a thread dump; stop() shuts the pool down
  private val handlerPool = {
    val n = new AtomicLong(0L)
    java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) =>
      new Thread(r, s"graft-query-server-$boundPort-handler-${n.incrementAndGet()}"))
  }

  def start(): this.type = {
    server.createContext("/query", (ex: HttpExchange) => handle(ex, handleQuery))
    server.createContext("/explain", (ex: HttpExchange) => handle(ex, handleExplain))
    server.createContext("/views", (ex: HttpExchange) => handle(ex, handleView))
    server.createContext("/connectors", (ex: HttpExchange) => handle(ex, handleConnector))
    server.createContext("/metrics", (ex: HttpExchange) =>
      handle(ex, e => respond(e, 200,
        metrics.render + s"graft_rows_nulled_total ${rowsNulled.value}\n")))
    server.createContext("/health", (ex: HttpExchange) =>
      handle(ex, e => respond(e, 200, "ok")))
    server.setExecutor(handlerPool)
    spark.listenerManager.register(metrics)
    spark.sparkContext.addSparkListener(jobWatch)
    server.start()
    this
  }

  def stop(): Unit = {
    spark.listenerManager.unregister(metrics)
    spark.sparkContext.removeSparkListener(jobWatch)
    server.stop(0)
    handlerPool.shutdown()
    handlerPool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def handle(ex: HttpExchange, fn: HttpExchange => Unit): Unit =
    try fn(ex)
    catch {
      case e: KqlParseException => respond(ex, 400, e.getMessage)
      case e: IllegalArgumentException => respond(ex, 400, e.getMessage)
      case e: Exception =>
        respond(ex, 500, Option(e.getMessage).getOrElse(e.getClass.getName).trim)
    } finally ex.close()

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  /** Request body: `{"query": "…", "partial_stream": bool, "debounce_ms": n}`
    * or raw KQL text.
    */
  private case class Req(kql: String, partial: Boolean, debounceMs: Long)

  private def reqOf(ex: HttpExchange): Req = {
    val raw = body(ex)
    if (raw.trim.startsWith("{")) {
      val node = mapper.readTree(raw)
      require(node.has("query"), "missing 'query' field")
      Req(node.get("query").asText(),
        node.path("partial_stream").asBoolean(false),
        math.max(10L, node.path("debounce_ms").asLong(1000L)))
    } else Req(raw, partial = false, 1000L)
  }

  private def respond(ex: HttpExchange, code: Int, text: String): Unit = {
    val bytes = text.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  private def checkRaw(parsed: Parsed): Unit =
    if (!allowRaw && QueryServer.anyStep(parsed) {
      // externaldata reads arbitrary local paths — same trust class
      case _: QueryStep.RawScan | _: QueryStep.ExternalData => true
      case _ => false
    }) throw new IllegalArgumentException(
      "raw()/externaldata is disabled on this server " +
        "(start with allowRaw=true to enable)")

  /** SSE stream of JSON rows: optional `event: partial` refining snapshots,
    * `data: {…}` per final row, `event: done` terminal (the reference's
    * stream shape, `http_server.rs:335-405`).
    */
  private def handleQuery(ex: HttpExchange): Unit = {
    val req = reqOf(ex)
    val parsed = Kql.parse(req.kql)
    checkRaw(parsed)
    val groupId = s"${QueryServer.GroupPrefix}${QueryServer.ids.incrementAndGet()}"
    val status = statusWriter.map(_.start(groupId, req.kql))
    // thread-local group: every job this handler thread submits joins it,
    // so a disconnect can cancel exactly this query's work
    spark.sparkContext.setJobGroup(groupId, req.kql.take(200), interruptOnCancel = true)
    val outcome =
      try {
        status.foreach(_.update("running"))
        Right(
          if (req.partial && QueryServer.partialEligible(parsed))
            streamPartials(ex, parsed, req.debounceMs, groupId)
          else
            batchQuery(ex, parsed, groupId))
      } catch { case e: Exception => Left(e) }
      // a disconnect cancels the group's later jobs too, so the record is
      // closed from outside it: its upsert is a Spark job
      finally spark.sparkContext.clearJobGroup()
    outcome match {
      case Right(o) => status.foreach(_.finish(o))
      case Left(e) =>
        status.foreach(_.finish("error",
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))))
        throw e
    }
  }

  /** Open the SSE response and hand back the stream. Once the 200 + SSE
    * headers are on the wire, execution errors cannot become an HTTP
    * status — they surface as in-band `event: error` frames.
    */
  private def openSse(ex: HttpExchange): OutputStream = {
    ex.getResponseHeaders.set("Content-Type", "text/event-stream; charset=utf-8")
    ex.sendResponseHeaders(200, 0) // chunked
    ex.getResponseBody
  }

  private def sseError(out: OutputStream, e: Exception): Unit = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
      .trim.replace("\n", " ").take(500)
    out.write(s"event: error\ndata: $msg\n\n".getBytes(UTF_8))
  }

  /** @return outcome for the status record: success | canceled | error */
  private def batchQuery(ex: HttpExchange, parsed: Parsed, groupId: String): String = {
    val compiler = new Compiler(spark, catalog, parsed.lets,
      materializedLets = parsed.materialized)
    compiler.errorCounter = Some(rowsNulled)
    val df = compiler.compile(parsed.query)
    compiler.runWrites() // write/tee sinks flush on run, never on explain
    val out = openSse(ex)
    var outcome = "success"
    val lock = new Object
    val alive = new AtomicBoolean(true)
    // keepalive probe: while this thread is blocked inside a Spark job the
    // only way to notice a vanished client is to write to it — SSE comment
    // frames are protocol-noise to clients and broken pipes to us. It
    // probes only while one of this query's jobs runs: that is when an
    // abandoned query costs the cluster, and a sorted result sends no row
    // before its job ends. Not probing earlier also keeps every cancel
    // visible to a SparkListener: a job refused at submission because its
    // group is already cancelled posts no job event, and perfbench's
    // serve_mixed cancellation check counts only cancelled jobs that
    // started. The first write after the client left only draws its reset
    // and the next one fails, so at 100 ms a running job is cancelled
    // about 200 ms after its client left.
    val watchdog = new Thread(() => {
      while (alive.get()) {
        Thread.sleep(100)
        if (alive.get() && runningJobs.containsValue(groupId)) {
          try lock.synchronized { out.write(": keepalive\n\n".getBytes(UTF_8)); out.flush() }
          catch {
            case _: IOException =>
              alive.set(false)
              spark.sparkContext.cancelJobGroupAndFutureJobs(groupId)
          }
        }
      }
    })
    watchdog.setDaemon(true)
    watchdog.start()
    try {
      // a root sort runs as one job (partitions sorted, runs merged on
      // the driver); every other root streams partition by partition
      val it = GraftSortedCollect.sortedJson(df)
        .getOrElse(df.toJSON.toLocalIterator().asScala)
      while (alive.get() && it.hasNext) {
        val row = it.next()
        lock.synchronized { out.write(s"data: $row\n\n".getBytes(UTF_8)); out.flush() }
      }
      if (alive.get())
        lock.synchronized { out.write("event: done\ndata: \n\n".getBytes(UTF_8)); out.flush() }
      else outcome = "canceled"
    } catch {
      case _: IOException =>
        outcome = "canceled"
        spark.sparkContext.cancelJobGroupAndFutureJobs(groupId)
      case e: Exception =>
        // a job killed by the watchdog's cancel surfaces here as a
        // SparkException — not an error worth reporting to a gone client
        if (alive.get()) {
          outcome = "error"
          try lock.synchronized(sseError(out, e)) catch { case _: IOException => () }
        } else outcome = "canceled"
    } finally {
      alive.set(false)
      // materialized-let cache blocks are per-query scratch — free them
      // once the result stream is done (results already sent are computed)
      compiler.releaseMaterialized()
    }
    outcome
  }

  /** Progressive partial results: run the aggregation prefix as a
    * Structured Streaming query (complete mode — each micro-batch refines
    * the full snapshot), emit debounced `event: partial` frames, then the
    * final snapshot as ordinary rows. Falls back to the batch path when the
    * source has no streaming registration or the plan is not streamable
    * (e.g. dcount — distinct aggregation — or a pre-aggregation sort).
    */
  private def streamPartials(
      ex: HttpExchange, parsed: Parsed, debounceMs: Long, groupId: String): String = {
    val steps = parsed.query.steps
    val lastAgg = steps.lastIndexWhere(QueryServer.isBlockingAgg)
    val prefix = Query(steps.take(lastAgg + 1))
    val suffix = steps.drop(lastAgg + 1)
    val compiler = new Compiler(spark, catalog, parsed.lets, streamFirstScan = true)
    compiler.errorCounter = Some(rowsNulled)
    val qn = s"graft_partial_${QueryServer.ids.incrementAndGet()}"
    val started =
      try {
        val sdf = compiler.compile(prefix)
        if (!sdf.isStreaming) None
        else Some(sdf.writeStream
          .outputMode("complete")
          .format("memory")
          .queryName(qn)
          .trigger(Trigger.ProcessingTime(debounceMs))
          .start())
      } catch { case _: Exception => None }
    started match {
      case None => batchQuery(ex, parsed, groupId) // not streamable: no partials
      case Some(sq) =>
        def snapshot(): Seq[String] =
          compiler.applySteps(spark.table(qn), suffix).toJSON.collect().toSeq
        val out = openSse(ex)
        val done = new AtomicBoolean(false)
        val runner = new Thread(() => {
          try sq.processAllAvailable()
          catch { case _: Throwable => () }
          finally done.set(true)
        })
        runner.setDaemon(true)
        runner.start()
        var disconnected = false
        var outcome = "success"
        var lastKey: String = null
        var lastBatch = -1L
        try {
          while (!done.get() && !disconnected) {
            Thread.sleep(math.min(math.max(debounceMs / 2, 10L), 200L))
            // the memory table changes only when a micro-batch commits, so
            // it is read (a Spark job) only after a new one has
            val batch = Option(sq.lastProgress).fold(-1L)(_.batchId)
            val snap = if (batch > lastBatch) { lastBatch = batch; snapshot() } else Nil
            val key = snap.mkString("")
            try {
              if (snap.nonEmpty && key != lastKey) {
                lastKey = key
                out.write(s"event: partial\ndata: [${snap.mkString(",")}]\n\n".getBytes(UTF_8))
              } else out.write(": keepalive\n\n".getBytes(UTF_8))
              out.flush()
            } catch {
              case _: IOException =>
                // client went away mid-stream: stop the streaming query and
                // anything else this request started
                disconnected = true
                spark.sparkContext.cancelJobGroupAndFutureJobs(groupId)
            }
          }
          if (!disconnected) {
            val fin = snapshot()
            fin.foreach(r => out.write(s"data: $r\n\n".getBytes(UTF_8)))
            out.write("event: done\ndata: \n\n".getBytes(UTF_8))
            out.flush()
          }
        } catch {
          case e: Exception =>
            outcome = "error"
            if (!disconnected) try { sseError(out, e); out.flush() } catch { case _: IOException => () }
        } finally {
          try sq.stop() catch { case _: Throwable => () }
          try spark.catalog.dropTempView(qn) catch { case _: Throwable => () }
        }
        if (disconnected) "canceled" else outcome
    }
  }

  private def handleExplain(ex: HttpExchange): Unit = {
    val req = reqOf(ex)
    checkRaw(Kql.parse(req.kql))
    respond(ex, 200, Kql.explain(spark, catalog, req.kql))
  }

  private def jsonList(names: Seq[String]): String =
    names.map(n => mapper.writeValueAsString(n)).mkString("[", ",", "]")

  /** Views CRUD, mirroring the reference's `get_views`/`get_view`/
    * `post_view`/`delete_view` routes: `GET /views` lists, `GET /views/{id}`
    * returns the KQL source, `POST /views/{id}` registers (scans of
    * `views.{id}` splice it), `DELETE /views/{id}` unregisters.
    */
  private def handleView(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    require(path == "/views" || path.startsWith("/views/"), s"bad path $path")
    val id = path.stripPrefix("/views").stripPrefix("/")
    val method = ex.getRequestMethod
    if (id.isEmpty) {
      require(method == "GET", s"$method not supported on /views")
      respond(ex, 200, jsonList(catalog.viewNames))
      return
    }
    require(id.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad view id '$id'")
    method match {
      case "GET" =>
        catalog.viewSource(id) match {
          case Some(src) => respond(ex, 200, src)
          case None => respond(ex, 404, s"no view '$id'")
        }
      case "POST" | "PUT" =>
        catalog.registerView(id, body(ex))
        respond(ex, 200, s"view '$id' registered")
      case "DELETE" =>
        if (catalog.removeView(id)) respond(ex, 200, s"view '$id' deleted")
        else respond(ex, 404, s"no view '$id'")
      case m => respond(ex, 405, s"$m not supported on /views/$id")
    }
  }

  /** Connectors CRUD, mirroring the reference's `get_connectors`/
    * `get_connector`/`post_connector`/`delete_connector` routes over the
    * catalog's table registry. `POST /connectors/{id}` with
    * `{"path": …, "format": "parquet"|"json"}` registers a file-backed
    * table — it exposes local files like `raw()` does, so it requires
    * `allowRaw`.
    */
  private def handleConnector(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    require(path == "/connectors" || path.startsWith("/connectors/"), s"bad path $path")
    val id = path.stripPrefix("/connectors").stripPrefix("/")
    val method = ex.getRequestMethod
    if (id.isEmpty) {
      require(method == "GET", s"$method not supported on /connectors")
      respond(ex, 200, jsonList(catalog.tableNames))
      return
    }
    // GET /connectors/{id}/stats — compute-and-cache field stats
    // (reference fetch_stats, miso-connectors/src/stats.rs; on-demand
    // here instead of the reference's background interval)
    if (id.endsWith("/stats")) {
      require(method == "GET", s"$method not supported on stats")
      val table = id.stripSuffix("/stats")
      catalog.computeStats(table) match {
        case Some(st) =>
          val fields = st.fields.toSeq.sortBy(_._1).map { case (f, fs) =>
            s"""\"$f\":{"distinct_count":${fs.distinctCount}}"""
          }.mkString("{", ",", "}")
          respond(ex, 200,
            s"""{"rows":${st.rows},"computed_at_ms":${st.computedAtMs},"fields":$fields}""")
        case None => respond(ex, 404, s"no connector '$table'")
      }
      return
    }
    method match {
      case "GET" =>
        catalog.tableDesc(id) match {
          case Some(desc) => respond(ex, 200, desc)
          case None => respond(ex, 404, s"no connector '$id'")
        }
      case "POST" | "PUT" =>
        if (!allowRaw) throw new IllegalArgumentException(
          "registering file connectors is disabled on this server " +
            "(start with allowRaw=true to enable)")
        val node = mapper.readTree(body(ex))
        require(node.has("path"), "missing 'path' field")
        catalog.registerPath(id, node.get("path").asText(),
          node.path("format").asText("parquet"))
        respond(ex, 200, s"connector '$id' registered")
      case "DELETE" =>
        if (catalog.removeTable(id)) respond(ex, 200, s"connector '$id' deleted")
        else respond(ex, 404, s"no connector '$id'")
      case m => respond(ex, 405, s"$m not supported on /connectors/$id")
    }
  }
}

object QueryServer {
  private val ids = new AtomicLong(0L)
  private val GroupPrefix = "graft-query-"
  // SparkContext.SPARK_JOB_GROUP_ID, which is private[spark]
  private val JobGroupKey = "spark.jobGroup.id"

  /** Recursive step predicate over the main query, lets, and join/union
    * subqueries.
    */
  def anyStep(parsed: Parsed)(p: QueryStep => Boolean): Boolean = {
    def inQuery(q: Query): Boolean = q.steps.exists { s =>
      p(s) || (s match {
        case QueryStep.Union(sub, _, _, _) => inQuery(sub)
        case QueryStep.Join(_, sub, _, _, _) => inQuery(sub)
        // mv-apply's inner pipeline can itself hold join/union subqueries
        // — the raw() gate and sink checks must see through it
        case QueryStep.MvApply(_, _, sub, _, _) => inQuery(Query(sub))
        case QueryStep.Partition(_, sub) => inQuery(Query(sub))
        case QueryStep.Invoke(_, sub) => inQuery(Query(sub))
        case _ => false
      })
    }
    parsed.lets.values.exists(inQuery) || inQuery(parsed.query)
  }

  private def isBlockingAgg(s: QueryStep): Boolean = s match {
    case _: QueryStep.Summarize => true
    case QueryStep.CountStep => true
    case _ => false
  }

  /** Whether a step's aggregates can execute as a streaming aggregation —
    * exact distinct (dcount/dcountif) cannot (Spark rejects distinct aggs
    * on streaming frames), so such queries fall back to batch final-only
    * results instead of crashing the partial path. `dcount_approx` is the
    * streamable alternative (mergeable HLL++ sketches). */
  private def streamableAggs(s: QueryStep): Boolean = s match {
    case QueryStep.Summarize(aggs, _) => aggs.forall(_.agg match {
      case _: Aggregation.DCount => false
      case Aggregation.AggIf("dcountif", _, _) => false
      case _ => true
    })
    case _ => true
  }

  /** Partial-stream eligibility, mirroring the reference's
    * (`miso-workflow/src/lib.rs:400-434`): the pipeline must contain a
    * blocking aggregate (something to refine), everything after the last
    * one must be snapshot-applicable (sort/top/limit/project/filter/...),
    * and there must be no sink steps (a sink must flush once, not per
    * partial).
    */
  def partialEligible(parsed: Parsed): Boolean = {
    val steps = parsed.query.steps
    val i = steps.lastIndexWhere(isBlockingAgg)
    i >= 0 &&
      steps.drop(i + 1).forall {
        case _: QueryStep.Filter | _: QueryStep.Project | _: QueryStep.Extend |
             _: QueryStep.Rename | _: QueryStep.ProjectAway |
             _: QueryStep.ProjectKeep | _: QueryStep.Sort | _: QueryStep.TopN |
             _: QueryStep.Limit | _: QueryStep.Distinct |
             // render is a row-preserving no-op — a dashboard's
             // `summarize … | render timechart` tail must stay eligible
             _: QueryStep.RenderHint => true
        case _ => false
      } &&
      !anyStep(parsed) {
        case _: QueryStep.Write | _: QueryStep.Tee => true
        case _ => false
      } &&
      !anyStep(parsed)(s => !streamableAggs(s))
  }

  /** Start on an ephemeral (or given) port, loopback-only by default. */
  def start(
      spark: SparkSession, catalog: Catalog, port: Int = 0,
      host: String = "127.0.0.1", allowRaw: Boolean = false,
      statusDir: Option[String] = None): QueryServer =
    new QueryServer(spark, catalog, port, host, allowRaw, statusDir).start()

  /** Standalone entry point: serve the testdata catalog. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val port = sys.env.getOrElse("SPARK_GRAFT_PORT", "8580").toInt
    val host = sys.env.getOrElse("SPARK_GRAFT_BIND", "127.0.0.1")
    val allowRaw = sys.env.get("SPARK_GRAFT_ALLOW_RAW").contains("1")
    val spark = graft.LocalSpark.session()
    val cat = Catalog.forTestData(spark, sfDir)
    // with status tracking enabled, the status table is itself queryable
    val statusDir = sys.env.get("SPARK_GRAFT_STATUS_DIR")
    statusDir.foreach(d => cat.register("query_status",
      graft.sources.Sinks.readUpserted(spark, d)))
    val srv = start(spark, cat, port, host, allowRaw, statusDir)
    println(s"graft query server listening on $host:${srv.boundPort} (sf=$sfDir)")
    Thread.currentThread().join()
  }
}
