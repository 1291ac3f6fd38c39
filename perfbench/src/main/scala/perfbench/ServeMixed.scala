package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.functions.col
import graft.kql.{Catalog, Compiler, Kql, Lexer}
import graft.server.QueryServer

/** One request of the mix: KQL text, whether it asks for partials, and
  * whether its client disconnects after the first frame. */
final case class Req(kind: String, kql: String, partial: Boolean, cancel: Boolean)

/** What one client saw; times are ms from the start of the loop. */
final class Seen(val req: Req, val dueMs: Double) {
  var sentMs = Double.NaN
  var headersMs = Double.NaN
  var firstRowMs = Double.NaN
  var firstPartialMs = Double.NaN
  var doneMs = Double.NaN
  var status = 0
  var frames = 0
  var partialFrames = 0
  var keepalives = 0
  var error: Option[String] = None
  val rows = mutable.ArrayBuffer.empty[String]
  var lastPartial: Option[String] = None
  def ok: Boolean = error.isEmpty && (req.cancel || !doneMs.isNaN)
  def latencyMs: Double = doneMs - dueMs
}

/** An in-process `QueryServer` over loopback HTTP. A pass is an open loop
  * of point filters, `top`, `summarize … by bin()` and a join at a fixed
  * nominal rate, Poisson arrivals sent by at most four client connections
  * and timed from their due time; then, one at a time, `partial_stream`
  * aggregations over a four-file copy of `events` (so partials refine over
  * several micro-batches) and heavy requests whose client disconnects after
  * the first frame. It is the only workload that exercises the server
  * module: the HTTP pool, SSE, the keepalive watchdog, cancellation and
  * partial streams. */
final class ServeMixed extends Workload {
  import ServeMixed._

  private var server: QueryServer = _
  private var catalog: Catalog = _
  private val seen = mutable.ArrayBuffer.empty[Seen]
  private val failedJobs = new AtomicLong(0)
  private val jobWatch = new SparkListener {
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobResult != JobSucceeded) failedJobs.incrementAndGet()
  }
  private var metricsBefore = 0L
  private var metricsAfter = 0L
  private var stalePartials = 0

  private def split(ctx: Ctx) = ctx.work.resolve("serve")

  /** Re-splits `events` into [[SplitFiles]] files, so a partial stream
    * refines over that many micro-batches. */
  override def prepare(ctx: Ctx): Unit = {
    ctx.spark.read.parquet(ctx.data.resolve("sf0.1").resolve("events.parquet").toString)
      .repartitionByRange(SplitFiles, col("event_id"))
      .write.mode("overwrite").parquet(split(ctx).resolve("events.parquet").toString)
    ctx.spark.sparkContext.addSparkListener(jobWatch)
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sf = ctx.data.resolve("sf0.1").toString
    val dir = split(ctx).toString
    val cat = new Catalog(spark)
    cat.register("events", graft.Tables.load(spark, dir, "events"))
    cat.registerStream("events", graft.Tables.loadStream(spark, dir, "events"))
    Seq("customer", "orders", "lineitem").foreach(t => cat.register(t, graft.Tables.load(spark, sf, t)))
    if (server != null) server.stop()
    server = QueryServer.start(spark, cat)
    catalog = cat
    // warm-up, untimed: every plain text of the run's pools, a fixed number
    // of rounds, sent back to back by the window's client connections. With
    // one request per kind the window's first half ran about twice as slow
    // as its second while the JIT and Spark's code cache caught up, and how
    // far they got depended on the host's speed at the time.
    val plain = templates(new scala.util.Random(ctx.seed)).filter(r => !r.partial && !r.cancel)
    val rounds = Seq.fill(WarmRounds)(plain).flatten
    openLoop(rounds, rounds.map(_ => 0.0), new Tracer(false))
  }

  private def url(path: String) = URI.create(s"http://127.0.0.1:${server.boundPort}$path").toURL

  private def metricsQueries(): Long = {
    val c = url("/metrics").openConnection().asInstanceOf[HttpURLConnection]
    try {
      val text = new String(c.getInputStream.readAllBytes(), UTF_8)
      text.linesIterator.filter(_.startsWith("graft_queries_total"))
        .map(_.split(' ').last.toLong).sum
    } finally c.disconnect()
  }

  /** Sends one request and reads its SSE stream; never throws. */
  private def call(r: Req, dueMs: Double, t0: Long = System.nanoTime()): Seen = {
    def now = (System.nanoTime() - t0) / 1e6
    val s = new Seen(r, dueMs)
    var conn: HttpURLConnection = null
    try {
      conn = url("/query").openConnection().asInstanceOf[HttpURLConnection]
      conn.setDoOutput(true)
      conn.setRequestMethod("POST")
      conn.setReadTimeout(RequestTimeoutMs)
      conn.setRequestProperty("Connection", "close")
      val body = Fmt.obj(Seq("query" -> Fmt.str(r.kql), "partial_stream" -> r.partial.toString,
        "debounce_ms" -> DebounceMs.toString))
      s.sentMs = now
      val os = conn.getOutputStream
      os.write(body.getBytes(UTF_8)); os.close()
      s.status = conn.getResponseCode
      s.headersMs = now
      if (s.status != 200) s.error = Some(s"HTTP ${s.status}")
      else {
        val in = new BufferedReader(new InputStreamReader(conn.getInputStream, UTF_8))
        var event = ""
        var stop = false
        while (!stop) {
          val line = in.readLine()
          if (line == null) stop = true
          else if (line.startsWith(":")) { s.keepalives += 1; s.frames += 1 }
          else if (line.startsWith("event: ")) event = line.substring(7)
          else if (line.startsWith("data: ") || line == "data:") {
            val data = line.stripPrefix("data:").stripPrefix(" ")
            s.frames += 1
            event match {
              case "partial" =>
                s.partialFrames += 1
                if (s.firstPartialMs.isNaN) s.firstPartialMs = now
                s.lastPartial = Some(data)
              case "done" => s.doneMs = now; stop = true
              case "error" => s.error = Some(s"error frame: $data"); stop = true
              case _ =>
                if (s.firstRowMs.isNaN) s.firstRowMs = now
                s.rows += data
            }
            event = ""
          }
          if (r.cancel && s.frames > 0) stop = true
        }
        if (!r.cancel && s.doneMs.isNaN && s.error.isEmpty) s.error = Some("stream ended without done")
      }
    } catch {
      case e: Exception => s.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally if (conn != null) conn.disconnect()
    s
  }

  private def traceSeen(tr: Tracer, qid: String, base: Double, s: Seen): Unit =
    if (tr.enabled) {
      tr.record("server.request", qid, base + s.dueMs, base + (if (s.doneMs.isNaN) s.headersMs else s.doneMs))
      if (!s.headersMs.isNaN) tr.record("server.headers", qid, base + s.dueMs, base + s.headersMs)
    }

  /** Runs a schedule with at most `Clients` connections. */
  private def openLoop(reqs: Seq[Req], due: Seq[Double], tr: Tracer): Seq[Seen] = {
    val next = new AtomicInteger(0)
    val out = new Array[Seen](reqs.size)
    val t0 = System.nanoTime()
    val base = tr.nowMs
    val workers = (1 to Clients).map { _ =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val wait = due(i) - (System.nanoTime() - t0) / 1e6
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val s = call(reqs(i), due(i), t0)
          out(i) = s
          traceSeen(tr, s"req-$i", base, s)
          i = next.getAndIncrement()
        }
      })
      th.start(); th
    }
    workers.foreach(_.join())
    out.toSeq
  }

  /** `n` requests with the mix's exact shares. The order of kinds is
    * fixed per loop, like the arrival times, and each kind cycles through
    * its texts in pool order, so runs differ only in the literals of the
    * pools seeded by `seed`, not in how often each text is sent. */
  private def requests(seed: Long, loop: Int, n: Int): Seq[Req] = {
    val pool = templates(new scala.util.Random(seed))
    val kinds = Mix.flatMap { case (k, share) => Seq.fill(math.round(share * n).toInt)(k) }
    val sent = mutable.Map.empty[String, Int].withDefaultValue(0)
    new scala.util.Random(ScheduleSeed + loop).shuffle(kinds.padTo(n, Mix.head._1).take(n)).map { k =>
      val choices = pool.filter(_.kind == k)
      sent(k) += 1
      choices((sent(k) - 1) % choices.size)
    }
  }

  /** The open loop at the nominal rate for the run's seconds. A window
    * lasts its full length, even when the last request finishes before it
    * closes. */
  private def window(ctx: Ctx, tr: Tracer): Seq[Seen] = {
    val p0 = System.nanoTime()
    val due = Load.schedule(ScheduleSeed, NominalRate, ctx.seconds.toDouble)
    val got = openLoop(requests(ctx.seed, 0, due.size), due, tr)
    val rest = ctx.seconds * 1000.0 - (System.nanoTime() - p0) / 1e6
    if (rest > 0) Thread.sleep(rest.toLong)
    got
  }

  /** The window alone: its median latency is the pass's cost. */
  override def referencePass(ctx: Ctx, out: Outcomes): Double = {
    val got = window(ctx, new Tracer(false))
    got.foreach(s => if (s.ok) out.ok() else out.fail(s"${s.req.kind} request", s.error.getOrElse("")))
    Stats.median(got.filter(_.ok).map(_.latencyMs))
  }

  def pass(ctx: Ctx, tr: Tracer, rec: Option[SparkRecorder], out: Outcomes): Double = {
    metricsBefore = metricsQueries()
    val got = window(ctx, tr)
    // partial streams and disconnecting clients run one at a time after
    // the window: each holds a handler thread and the cores for seconds,
    // and inside the window they would make the plain latencies depend on
    // how arrivals happen to line up with them
    val pool = templates(new scala.util.Random(ctx.seed))
    val slow = Sequential.zipWithIndex.map { case (k, i) =>
      val r = pool.filter(_.kind == k)((ctx.seed.toInt & 0xff) % pool.count(_.kind == k))
      val base = tr.nowMs
      val s = call(r, 0.0)
      traceSeen(tr, s"slow-$i", base, s)
      s
    }
    metricsAfter = metricsQueries()
    (got ++ slow).foreach(s => if (s.ok) out.ok() else out.fail(s"${s.req.kind} request", s.error.getOrElse("")))
    seen ++= got ++ slow
    if (tr.enabled) frontend(ctx, tr, (got ++ slow).map(_.req.kql).distinct)
    Stats.median(got.filter(_.ok).map(_.latencyMs))
  }

  /** Times the harness's own frontend calls on the texts sent. */
  private def frontend(ctx: Ctx, tr: Tracer, texts: Seq[String]): Unit =
    texts.foreach { t =>
      tr.span("kql.lex", t)(Lexer.lex(t))
      val parsed = tr.span("kql.parse", t)(Kql.parse(t))
      tr.span("kql.compile", t)(
        new Compiler(ctx.spark, catalog, parsed.lets, materializedLets = parsed.materialized)
          .compile(parsed.query))
    }

  def resetPasses(): Unit = seen.clear()

  private def done: Seq[Seen] = seen.toSeq.filter(s => s.ok && !s.req.cancel)

  def endToEnd(ctx: Ctx): Seq[Metric] = {
    // partial streams are timed by their first partial frame instead
    val lat = done.filter(s => !s.req.partial).map(_.latencyMs)
    val firstRow = done.filter(!_.req.partial).map(s => s.firstRowMs - s.dueMs).filterNot(_.isNaN)
    val firstPartial = done.filter(_.req.partial).map(s => s.firstPartialMs - s.dueMs).filterNot(_.isNaN)
    Metric.latency(lat) ++ Seq(
      Metric("first_row_p50_ms", Stats.median(firstRow), "ms", firstRow.size),
      Metric("first_partial_p50_ms",
        if (firstPartial.isEmpty) Double.NaN else Stats.median(firstPartial), "ms", firstPartial.size),
      Metric("nominal_rate_rps", NominalRate, "1/s"))
  }

  def layers(ctx: Ctx, tr: Tracer, rec: SparkRecorder, wallMs: Double): Seq[Metric] = {
    val spans = tr.spans
    def med(name: String) = Trace.medianMs(spans, name)
    val all = seen.toSeq
    val open = all.filter(s => Mix.exists(_._1 == s.req.kind))
    val serverJobs = rec.jobList.filter(_.group.startsWith("graft-query-"))
    val cancelledGroups = serverJobs.groupBy(_.group).count(_._2.exists(_.failed))
    val lag = open.map(s => s.sentMs - s.dueMs)
    val back = Load.backlog(open.map(_.dueMs), open.map(_.sentMs))
    val reqSpans = spans.filter(_.name == "server.request")
    val gap = reqSpans.map { s =>
      s.durMs - Trace.covered(serverJobs.map(j => (j.startMs, if (j.endMs.isNaN) s.endMs else j.endMs)), s.startMs, s.endMs)
    }.sum
    // requests on the wire at once: from sent to done
    val inflight = open.map(s => open.count(o => o.sentMs <= s.sentMs && !(o.doneMs <= s.sentMs))).maxOption.getOrElse(0)
    val measured = Seq(med("kql.lex"), med("kql.parse"), med("kql.compile"),
      Metric("server.queue_ms", Stats.median(lag), "ms", lag.size),
      Metric("server.headers_ms", Stats.median(all.filter(!_.headersMs.isNaN).map(s => s.headersMs - s.dueMs)), "ms"),
      Metric("server.frames", all.map(_.frames).sum.toDouble, "count"),
      Metric("server.partial_frames", all.map(_.partialFrames).sum.toDouble, "count"),
      Metric("server.keepalive_frames", all.map(_.keepalives).sum.toDouble, "count"),
      Metric("server.jobs_per_request", serverJobs.size.toDouble / math.max(all.size, 1), "ratio"),
      Metric("server.cancelled_jobs", serverJobs.count(_.failed).toDouble, "count"),
      Metric("server.cancelled_requests", cancelledGroups.toDouble, "count"),
      Metric("server.inflight_max", inflight.toDouble, "count"),
      Metric("generator.lag_ms", Stats.percentile(lag, 95), "ms", lag.size),
      Metric("generator.backlog_max", back.maxOption.getOrElse(0).toDouble, "count"),
      Metric("driver.gap_ms", gap, "ms")) ++
      ExecLayer.all(rec, wallMs, ctx.cores)
    // the rate ladder is too coarse to hold an end-to-end bound, so it runs
    // once per traced run, after the traced pass has been measured
    measured ++ rateLadder(ctx)
  }

  /** Latency at each stepped rate, and the highest rate that holds the
    * p95 limit without a growing backlog; stops at the first that fails. */
  private def rateLadder(ctx: Ctx): Seq[Metric] = {
    var best = 0.0
    val steps = mutable.ArrayBuffer.empty[Metric]
    LadderRates.zipWithIndex.takeWhile { case (rate, i) =>
      val due = Load.schedule(ScheduleSeed + 1000 + i, rate, LadderStepSeconds)
      val got = openLoop(requests(ctx.seed, 1000 + i, due.size), due, new Tracer(false))
        .filter(!_.req.cancel)
      val lat = got.map(s => if (s.ok) s.latencyMs else Double.PositiveInfinity)
      val holds = got.nonEmpty &&
        Load.sustains(got.map(_.dueMs), got.map(_.sentMs), lat, LatencyLimitMs)
      val tag = Fmt.fixed(rate, 1)
      if (got.nonEmpty) steps ++= Seq(
        Metric(s"ladder.$tag.p50_ms", Stats.median(lat), "ms", lat.size),
        Metric(s"ladder.$tag.p95_ms", Stats.percentile(lat, 95), "ms", lat.size),
        Metric(s"ladder.$tag.holds", if (holds) 1 else 0, "bool"))
      if (holds) best = rate
      holds
    }
    steps.toSeq :+ Metric("max_rate_rps", best, "1/s")
  }

  def check(ctx: Ctx, out: Outcomes, all: Boolean): Seq[Metric] = {
    // streamed rows against the batch result of the same text
    val batch = mutable.Map.empty[String, Seq[String]]
    def expected(kql: String) = batch.getOrElseUpdate(kql,
      canon(Kql.run(ctx.spark, catalog, kql).toJSON.collect().toSeq))
    done.foreach { s =>
      val want = expected(s.req.kql)
      if (canon(s.rows.toSeq) != want) out.fail(s"${s.req.kind} rows", s"streamed ${s.rows.size} rows, batch ${want.size}: ${s.req.kql}")
      else out.ok()
      // the server sends its final snapshot as rows only, so the last
      // partial frame may trail the final rows by a micro-batch; that is
      // counted, not failed
      if (s.req.partial) s.lastPartial match {
        case Some(p) => if (partialRows(p) != canon(s.rows.toSeq)) stalePartials += 1
        case None => out.fail("partial stream", s"no partial frame: ${s.req.kql}")
      }
    }
    val completedBatch = done.count(!_.req.partial)
    val delta = metricsAfter - metricsBefore
    if (delta < completedBatch) out.fail("/metrics", s"query count grew by $delta for $completedBatch batch requests")
    else out.ok()
    if (failedJobs.get() == 0) out.fail("cancellation", "no server job was cancelled")
    else out.ok()
    ctx.spark.sparkContext.removeSparkListener(jobWatch)
    server.stop()
    Seq(Metric("check.last_partial_stale", stalePartials.toDouble, "count"),
      Metric("check.metrics_query_delta", delta.toDouble, "count"),
      Metric("check.batch_requests", completedBatch.toDouble, "count"),
      Metric("check.cancelled_jobs", failedJobs.get().toDouble, "count"))
  }
}

object ServeMixed {
  val Clients = 4
  val SplitFiles = 4
  val DebounceMs = 400
  /** Arrival times and the order of kinds are the same in every run. */
  val ScheduleSeed = 20261017L
  val RequestTimeoutMs = 30000
  /** Below saturation on 4 cores: after the warm-up, a plain request
    * takes 0.1-0.5 s and concurrent requests share the cores. */
  val NominalRate = 3.0
  val LatencyLimitMs = 2000.0
  /** Warm-up rounds over the run's plain texts before the first window. */
  val WarmRounds = 4
  val LadderRates: Seq[Double] = Seq(3.0, 4.0, 6.0, 8.0)
  val LadderStepSeconds = 4.0

  /** Shares of the open-loop mix: how many of the repository's `kql_*`
    * gate texts have each shape, as `perfbench/gate_mix.py` counts them.
    * The gates stand in for traffic that has not been observed. */
  val Mix: Seq[(String, Double)] = {
    val gates = Seq("point" -> 56, "top" -> 7, "bin" -> 11, "join" -> 10)
    gates.map { case (k, n) => k -> n.toDouble / gates.map(_._2).sum }
  }

  /** Requests sent one at a time after each window. */
  val Sequential: Seq[String] = Seq("partial", "cancel", "partial", "cancel")

  private val types = Seq("signup", "click", "error", "view", "purchase")

  /** The texts of the mix; literals drawn from small seeded pools, so the
    * batch check runs each distinct text once. */
  def templates(rnd: scala.util.Random): Seq[Req] = {
    val users = Seq.fill(6)(rnd.nextInt(1500))
    users.map(u => Req("point",
      s"events | where user_id == $u | project event_id, ts, event_type, value | sort by event_id asc",
      partial = false, cancel = false)) ++
    types.map(t => Req("top",
      s"events | where event_type == '$t' | top 10 by value desc, event_id asc | project event_id, user_id, value",
      partial = false, cancel = false)) ++
    types.map(t => Req("bin",
      s"events | where event_type == '$t' | summarize c = count(), mx = max(value) by b = bin(ts, 1d) | sort by b asc",
      partial = false, cancel = false)) ++
    types.map(t => Req("join",
      s"events | where event_type == '$t' and value > 250.0 | join kind=inner (customer) on $$left.user_id == $$right.c_custkey " +
        "| summarize n = count() by c_mktsegment | sort by c_mktsegment asc",
      partial = false, cancel = false)) ++
    types.map(t => Req("partial",
      s"events | where event_type == '$t' | summarize c = count(), mx = max(value) by event_type",
      partial = true, cancel = false)) ++
    Seq(Req("cancel",
      "lineitem | join kind=inner (orders) on $left.l_orderkey == $right.o_orderkey " +
        "| summarize n = count(), s = sum(l_quantity) by o_orderpriority, l_returnflag | sort by o_orderpriority asc",
      partial = false, cancel = true))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** JSON rows re-serialized one way and sorted, so row order and number
    * spelling do not matter. */
  def canon(rows: Seq[String]): Seq[String] =
    rows.map(r => mapper.writeValueAsString(mapper.readTree(r))).sorted

  /** Rows of an `event: partial` frame (a JSON array of row objects). */
  def partialRows(frame: String): Seq[String] =
    canon(mapper.readTree(frame).elements().asScala.map(mapper.writeValueAsString).toSeq)
}
