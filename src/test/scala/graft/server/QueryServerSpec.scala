package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{GraftSortedCollect, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.kql.{Catalog, Kql}

/** End-to-end HTTP/SSE API tests — the analog of the reference's server
  * integration tests: POST a KQL query, read SSE rows back.
  */
class QueryServerSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val server = {
    val cat = Catalog.forTestData(spark, TestSpark.sf)
    QueryServer.start(spark, cat)
  }
  private lazy val base = s"http://localhost:${server.boundPort}"
  private lazy val client = HttpClient.newHttpClient()

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /query streams SSE rows") {
    val r = post("/query",
      """{"query": "events | summarize n=count() by event_type | sort by event_type"}""")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/event-stream"))
    val dataLines = r.body().split("\n").filter(_.startsWith("data: {")).toSeq
    assert(dataLines.length == 5) // five event types
    assert(dataLines.head.contains("\"event_type\":"))
    assert(r.body().contains("event: done"))
  }

  test("POST /query accepts raw KQL text body") {
    val r = post("/query", "events | count")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"Count\":"))
  }

  test("POST /explain returns the plan without executing") {
    val r = post("/explain", """{"query": "events | where value > 1 | count"}""")
    assert(r.statusCode() == 200)
    assert(r.body().contains("where value > 1"))
    assert(r.body().contains("spark optimized plan"))
  }

  test("POST /views/{id} registers a view usable in scans") {
    assert(post("/views/errs", "events | where event_type == 'error'").statusCode() == 200)
    val r = post("/query", "views.errs | count")
    assert(r.statusCode() == 200 && r.body().contains("\"Count\":"))
  }

  private def get(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def delete(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /health answers ok") {
    val r = get("/health")
    assert(r.statusCode() == 200 && r.body() == "ok")
  }

  test("views CRUD: list, fetch source, delete") {
    val src = "events | where event_type == 'click'"
    assert(post("/views/clicks", src).statusCode() == 200)
    assert(get("/views").body().contains("\"clicks\""))
    assert(get("/views/clicks").body() == src)
    assert(delete("/views/clicks").statusCode() == 200)
    assert(get("/views/clicks").statusCode() == 404)
    assert(!get("/views").body().contains("\"clicks\""))
  }

  test("connectors: list and describe registered tables") {
    val r = get("/connectors")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"events\"") && r.body().contains("\"test.lineitem\""))
    assert(get("/connectors/events").statusCode() == 200)
    assert(get("/connectors/no_such_table").statusCode() == 404)
  }

  test("connectors: GET /connectors/{id}/stats computes field stats") {
    val r = get("/connectors/nation/stats")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"rows\":25"))
    assert(r.body().contains("\"n_nationkey\":{\"distinct_count\":"))
    assert(get("/connectors/no_such_table/stats").statusCode() == 404)
  }

  test("connectors: file registration requires allowRaw, then round-trips") {
    // default server refuses path registration (same posture as raw())
    val refuse = post("/connectors/ext",
      s"""{"path": "${graft.TestSpark.sf}/region.parquet", "format": "parquet"}""")
    assert(refuse.statusCode() == 400)
    val cat = Catalog.forTestData(spark, graft.TestSpark.sf)
    val srv = QueryServer.start(spark, cat, allowRaw = true)
    try {
      val b = s"http://localhost:${srv.boundPort}"
      val reg = client.send(
        HttpRequest.newBuilder(URI.create(s"$b/connectors/ext"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"path": "${graft.TestSpark.sf}/region.parquet", "format": "parquet"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(reg.statusCode() == 200)
      val q = client.send(
        HttpRequest.newBuilder(URI.create(s"$b/query"))
          .POST(HttpRequest.BodyPublishers.ofString("ext | count")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q.statusCode() == 200 && q.body().contains("\"Count\":5"))
      assert(client.send(
        HttpRequest.newBuilder(URI.create(s"$b/connectors/ext")).DELETE().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      val gone = client.send(
        HttpRequest.newBuilder(URI.create(s"$b/query"))
          .POST(HttpRequest.BodyPublishers.ofString("ext | count")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(gone.statusCode() != 200)
    } finally srv.stop()
  }

  test("bad KQL yields 400 with the parse error") {
    val r = post("/query", "events | frobnicate")
    assert(r.statusCode() == 400)
    assert(r.body().contains("unknown step"))
  }

  test("bad view id rejected") {
    assert(post("/views/../etc", "events | count").statusCode() != 200)
  }

  test("raw() is refused unless the server allows it") {
    val r = post("/query", """events.raw("SELECT 1 AS x") | count""")
    assert(r.statusCode() == 400)
    assert(r.body().contains("raw()/externaldata is disabled"))
    val open = QueryServer.start(spark, Catalog.forTestData(spark, graft.TestSpark.sf),
      allowRaw = true)
    try {
      val r2 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${open.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString("""events.raw("SELECT 1 AS x") | count"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r2.statusCode() == 200 && r2.body().contains("\"Count\":1"))
    } finally open.stop()
  }

  test("partial_stream emits refining partials before the final snapshot") {
    import org.apache.spark.sql.functions.col
    // multi-file source: each file is one micro-batch, so the aggregate
    // refines over several triggers — the reference's partial-stream shape
    val dir = java.nio.file.Files.createTempDirectory("graft_partial").toString
    graft.Tables.load(spark, graft.TestSpark.sf, "events")
      .repartition(16).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val cat = Catalog.forTestData(spark, graft.TestSpark.sf)
    cat.register("ev_multi", spark.read.parquet(dir))
    cat.registerStream("ev_multi",
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir))
    val srv = QueryServer.start(spark, cat)
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query": "ev_multi | summarize n=count() by event_type | sort by event_type",
              | "partial_stream": true, "debounce_ms": 50}""".stripMargin))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      val body = r.body()
      val partials = body.split("\n").filter(_.startsWith("event: partial")).length
      assert(partials >= 2, s"expected >=2 refining partials, got $partials:\n$body")
      assert(body.indexOf("event: partial") < body.indexOf("event: done"))
      // final rows: one per event type, counts equal to the batch answer
      val finalRows = body.split("\n").filter(_.startsWith("data: {")).toSeq
      assert(finalRows.length == 5, s"final rows:\n${finalRows.mkString("\n")}")
      val batchN = graft.Tables.load(spark, graft.TestSpark.sf, "events").count()
      val finalN = finalRows.map(l => """"n":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong).sum
      assert(finalN == batchN, s"final snapshot must equal batch: $finalN != $batchN")
      // the first partial is a genuine mid-query snapshot: fewer rows counted
      val firstPartial = body.linesIterator
        .dropWhile(!_.startsWith("event: partial")).drop(1).next()
      val firstN = """"n":(\d+)""".r.findAllMatchIn(firstPartial).map(_.group(1).toLong).sum
      assert(firstN < batchN, s"first partial should be mid-query: $firstN vs $batchN")
    } finally srv.stop()
  }

  // partial_stream_topn (tests.rs): a top-n suffix applies to every
  // refining snapshot, so each partial frame is already capped and sorted
  test("partial_stream with a topn suffix caps each snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_partial2").toString
    graft.Tables.load(spark, graft.TestSpark.sf, "events")
      .repartition(16).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val cat = Catalog.forTestData(spark, graft.TestSpark.sf)
    cat.register("ev_top", spark.read.parquet(dir))
    cat.registerStream("ev_top",
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir))
    val srv = QueryServer.start(spark, cat)
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query": "ev_top | summarize n=count() by event_type | top 2 by n desc",
              | "partial_stream": true, "debounce_ms": 50}""".stripMargin))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      val body = r.body()
      assert(body.split("\n").exists(_.startsWith("event: partial")),
        s"expected partial frames:\n$body")
      // every partial snapshot is already top-2
      for (line <- body.linesIterator if line.startsWith("data: [")) {
        val rows = """\{[^}]*\}""".r.findAllIn(line).length
        assert(rows <= 2, s"partial snapshot must be capped at 2: $line")
      }
      // final rows equal the batch top-2
      val finalRows = body.split("\n").filter(_.startsWith("data: {")).toSeq
      assert(finalRows.length == 2, s"final rows:\n${finalRows.mkString("\n")}")
    } finally srv.stop()
  }

  test("partial_stream on an ineligible query falls back to batch") {
    // no blocking aggregate -> not eligible, runs the batch path
    val r = post("/query",
      """{"query": "events | where value > 1 | limit 3", "partial_stream": true}""")
    assert(r.statusCode() == 200)
    assert(!r.body().contains("event: partial"))
    assert(r.body().contains("event: done"))
    assert(r.body().split("\n").count(_.startsWith("data: {")) == 3)
  }

  test("partial_stream with dcount falls back to batch (not streamable)") {
    val r = post("/query",
      """{"query": "events | summarize d=dcount(event_type)", "partial_stream": true}""")
    assert(r.statusCode() == 200)
    assert(!r.body().contains("event: partial"))
    assert(r.body().contains("\"d\":5"))
  }

  test("GET /metrics exposes per-step row counters after a query") {
    val srv = QueryServer.start(spark, Catalog.forTestData(spark, graft.TestSpark.sf))
    try {
      val r0 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            "events | where value > 0 | summarize n=count() by event_type")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r0.statusCode() == 200)
      // QueryExecutionListener delivery is async — poll briefly
      def metrics(): String = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}/metrics"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val t0 = System.currentTimeMillis()
      var body = metrics()
      while (!body.contains("graft_step_rows") && System.currentTimeMillis() - t0 < 10000) {
        Thread.sleep(100); body = metrics()
      }
      assert(body.contains("""graft_queries_total{outcome="success"} """))
      assert(body.contains("graft_step_rows{step="), body)
      assert("""graft_step_rows\{step="[^"]*HashAggregate""".r.findFirstIn(body).isDefined ||
        body.contains("HashAggregate"), body)
    } finally srv.stop()
  }

  test("rows nulled by try_* lowerings increment the /metrics error counter") {
    // poisoned-row fixture: event_type strings are never numeric, so every
    // toint(event_type) over a non-null input nulls — each one is a row
    // error the reference counts in Prometheus (filter.rs:36-45)
    val srv = QueryServer.start(spark, Catalog.forTestData(spark, graft.TestSpark.sf))
    try {
      def nulled(): Long = {
        val body = client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}/metrics"))
            .GET().build(),
          HttpResponse.BodyHandlers.ofString()).body()
        """graft_rows_nulled_total (\d+)""".r.findFirstMatchIn(body)
          .map(_.group(1).toLong).getOrElse(-1L)
      }
      val before = nulled()
      assert(before >= 0L, "counter must be exposed before any error")
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            "events | extend n = toint(event_type) | where isnull(n) | count")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      assert(nulled() > before, "poisoned rows must increment the counter")
    } finally srv.stop()
  }

  /** Sends `kql` over a raw socket, waits until its jobs run, closes the
    * socket and asserts that every job and every task ends soon after.
    * With a `statusDir`, the request's status record must end `canceled`
    * with an end time. */
  private def assertDisconnectCancels(kql: String, statusDir: Option[String] = None): Unit = {
    val cat = Catalog.forTestData(spark, graft.TestSpark.sf)
    // a query that takes several seconds on 4 local cores: full scan of a
    // wide synthetic range with a hash per row
    cat.register("slow",
      spark.range(0L, 12000000000L, 1L, 8)
        .selectExpr("hash(id) AS h"))
    val srv = QueryServer.start(spark, cat, statusDir = statusDir)
    // task ids, so an end whose start reached the bus before this
    // listener joined cannot make the count negative
    val running = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    // a server job over all 8 `slow` partitions has started: the status
    // record's own upserts are server jobs too, but small ones
    val scanning = new java.util.concurrent.atomic.AtomicBoolean(false)
    val tasks = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith("graft-query-")) && e.stageInfos.exists(_.numTasks == 8))
          scanning.set(true)
      override def onTaskStart(e: SparkListenerTaskStart): Unit = running.add(e.taskInfo.taskId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = running.remove(e.taskInfo.taskId)
    }
    spark.sparkContext.addSparkListener(tasks)
    try {
      val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
      val req = s"POST /query HTTP/1.1\r\nHost: localhost\r\nContent-Length: ${kql.length}\r\n" +
        s"Content-Type: text/plain\r\n\r\n$kql"
      sock.getOutputStream.write(req.getBytes("UTF-8"))
      sock.getOutputStream.flush()
      // wait until the job is actually running, then vanish
      val tracker = spark.sparkContext.statusTracker
      val t0 = System.currentTimeMillis()
      while (!scanning.get() && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
      assert(scanning.get(), "slow query never started")
      sock.close()
      // the keepalive probe should hit the broken pipe and cancel the group;
      // a cancelled job is inactive at once, so also wait for its tasks:
      // a task that never checks for its kill keeps the cores busy
      val t1 = System.currentTimeMillis()
      while ((tracker.getActiveJobIds().nonEmpty || !running.isEmpty) &&
        System.currentTimeMillis() - t1 < 15000)
        Thread.sleep(100)
      val lingering = tracker.getActiveJobIds()
      assert(lingering.isEmpty,
        s"jobs still active ${System.currentTimeMillis() - t1}ms after disconnect: ${lingering.mkString(",")}")
      assert(running.isEmpty,
        s"${running.size} tasks still running ${System.currentTimeMillis() - t1}ms after disconnect")
      statusDir.foreach { dir =>
        // the handler closes the record after its cancelled jobs end
        def record = graft.sources.Sinks.readUpserted(spark, dir)
          .where(s"${QueryStatus.StatusField} != 'running'").collect()
        val t2 = System.currentTimeMillis()
        while (record.isEmpty && System.currentTimeMillis() - t2 < 10000) Thread.sleep(100)
        val rows = record
        assert(rows.length == 1, "the status record never closed")
        assert(rows.head.getAs[String](QueryStatus.StatusField) == "canceled")
        assert(rows.head.getAs[java.sql.Timestamp](QueryStatus.EndTimeField) != null)
      }
    } finally {
      spark.sparkContext.removeSparkListener(tasks)
      srv.stop()
    }
  }

  test("client disconnect cancels the query's Spark jobs") {
    assertDisconnectCancels("slow | summarize s=sum(h)")
  }

  test("client disconnect cancels the jobs of a sorted result") {
    // the sorted path holds the whole result before its first row, so
    // only the keepalive probe can notice the client has gone
    assertDisconnectCancels("slow | summarize s = sum(h) by b = h % 7 | sort by b")
  }

  test("a disconnected sorted query's status record ends canceled") {
    // the cancel also refuses the group's later jobs: the record's closing
    // upsert must not run in that group
    val dir = java.nio.file.Files.createTempDirectory("graft_status").resolve("s").toString
    assertDisconnectCancels("slow | summarize s = sum(h) by b = h % 7 | sort by b", Some(dir))
  }

  test("stop() terminates the handler pool's threads") {
    val srv = QueryServer.start(spark, Catalog.forTestData(spark, TestSpark.sf))
    val prefix = s"graft-query-server-${srv.boundPort}-handler-"
    def handlers: Set[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.toSet
        .filter(t => t.getName.startsWith(prefix) && t.isAlive)
    }
    val r = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://localhost:${srv.boundPort}/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    val before = handlers
    assert(before.nonEmpty, "a served request must run on a named handler")
    srv.stop()
    before.foreach(_.join(10000))
    assert(before.forall(!_.isAlive),
      s"handler threads alive after stop(): ${handlers.map(_.getName)}")
  }

  // ───────── sorted results: one job, partition runs merged on the driver ─────────

  /** 400 rows in 4 range partitions (no shuffle): `k` is a permutation of
    * 0..399, `g` splits it 4 ways, `kn` is `k` with one null. */
  private def split4(s: SparkSession) = s.range(0L, 400L, 1L, 4).selectExpr(
    "id", "(id * 7919) % 400 AS k", "id % 4 AS g",
    "CASE WHEN id = 13 THEN NULL ELSE (id * 7919) % 400 END AS kn",
    "CAST((id * 7919) % 400 AS STRING) AS ks")

  /** A server over `split4` in a fresh session with adaptive execution
    * on or off; the session keeps the server's query listener to itself. */
  private def withSplitServer[T](aqe: Boolean)(f: (String, SparkSession, Catalog) => T): T = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    val cat = new Catalog(s)
    cat.register("split4", split4(s))
    val srv = QueryServer.start(s, cat)
    try f(s"http://localhost:${srv.boundPort}", s, cat) finally srv.stop()
  }

  private def postTo(url: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def rowsOf(r: HttpResponse[String]): Seq[String] = {
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("event: done"), r.body())
    r.body().split("\n").toSeq.filter(_.startsWith("data: {")).map(_.stripPrefix("data: "))
  }

  /** Jobs per server job group started while `body` runs. */
  private def serverJobs(body: => Unit): Map[String, Int] = {
    import java.util.concurrent.ConcurrentHashMap
    import scala.jdk.CollectionConverters._
    val started = new ConcurrentHashMap[Int, String]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("graft-query-")).foreach(started.put(e.jobId, _))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener delivery is asynchronous: wait for every started job's end
      val t0 = System.currentTimeMillis()
      def settled = !started.isEmpty && started.keySet.asScala.forall(ended.contains)
      while (!settled && System.currentTimeMillis() - t0 < 10000) Thread.sleep(50)
      Thread.sleep(300)
    } finally spark.sparkContext.removeSparkListener(listener)
    started.asScala.toSeq.groupBy(_._2).map { case (g, js) => g -> js.size }
  }

  test("sorted results stream in the batch order over a table split 4 ways") {
    val sorts = Seq("k asc", "k desc", "g asc, k desc", "ks asc",
      "kn asc nulls first", "kn asc nulls last", "kn desc nulls first", "kn desc nulls last")
    for (aqe <- Seq(false, true)) withSplitServer(aqe) { (base, s, cat) =>
      for (by <- sorts) withClue(s"aqe=$aqe, sort by $by: ") {
        val kql = s"split4 | sort by $by"
        val got = rowsOf(postTo(s"$base/query", kql))
        assert(got.length == 400)
        assert(got == Kql.run(s, cat, kql).toJSON.collect().toSeq)
      }
    }
  }

  test("a where | sort request runs exactly one job") {
    for (aqe <- Seq(false, true)) withSplitServer(aqe) { (base, s, cat) =>
      val kql = "split4 | where g != 2 | project k, kn | sort by k desc"
      var got = Seq.empty[String]
      val jobs = serverJobs { got = rowsOf(postTo(s"$base/query", kql)) }
      withClue(s"aqe=$aqe: ") {
        assert(jobs.size == 1 && jobs.values.head == 1, jobs)
        assert(got.length == 300)
        assert(got == Kql.run(s, cat, kql).toJSON.collect().toSeq)
      }
    }
  }

  test("each sorted request counts once in graft_queries_total") {
    withSplitServer(aqe = true) { (base, _, _) =>
      def ok(): Long = """graft_queries_total\{outcome="success"\} (\d+)""".r
        .findFirstMatchIn(client.send(
          HttpRequest.newBuilder(URI.create(s"$base/metrics")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body())
        .map(_.group(1).toLong).getOrElse(-1L)
      val before = ok()
      val texts = Seq("split4 | sort by k", "split4 | where g == 1 | sort by kn desc",
        "split4 | summarize n = count() by g | sort by g")
      texts.foreach(t => assert(rowsOf(postTo(s"$base/query", t)).nonEmpty))
      // QueryExecutionListener delivery is async — poll, then give a late
      // second count time to show
      val t0 = System.currentTimeMillis()
      while (ok() < before + texts.size && System.currentTimeMillis() - t0 < 10000) Thread.sleep(100)
      Thread.sleep(500)
      assert(ok() == before + texts.size)
    }
  }

  test("a sorted result over the merge cap is left to the streamed global sort") {
    for (aqe <- Seq(false, true)) withSplitServer(aqe) { (_, s, cat) =>
      withClue(s"aqe=$aqe: ") {
        val df = Kql.run(s, cat, "split4 | sort by k desc")
        val want = df.toJSON.collect().toSeq
        assert(GraftSortedCollect.sortedJson(df).map(_.toSeq).contains(want))
        // 400 rows of 5 columns pass a 1 kB cap: the caller streams df
        assert(GraftSortedCollect.sortedJson(df, maxBytes = 1024).isEmpty)
        // a root that is not a sort is never merged
        assert(GraftSortedCollect.sortedJson(Kql.run(s, cat, "split4 | take 3")).isEmpty)
      }
    }
  }

  test("POST /explain of a root sort shows the partition-local sort the server runs") {
    val r = post("/explain", """{"query": "events | where value > 1 | sort by event_id asc"}""")
    assert(r.statusCode() == 200)
    assert(r.body().contains("sorted runs merged on the driver"), r.body())
    assert(!r.body().toLowerCase.contains("rangepartitioning"), r.body())
    assert(r.body().contains("Sort [event_id"), r.body())
    // any other root keeps the plain optimized plan
    assert(!post("/explain", "events | count").body().contains("merged on the driver"))
  }
}
