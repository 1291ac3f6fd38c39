package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.kql.Catalog

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

  test("client disconnect cancels the query's Spark jobs") {
    val cat = Catalog.forTestData(spark, graft.TestSpark.sf)
    // a query that takes several seconds on 4 local cores: full scan of a
    // wide synthetic range with a hash per row
    cat.register("slow",
      spark.range(0L, 12000000000L, 1L, 8)
        .selectExpr("hash(id) AS h"))
    val srv = QueryServer.start(spark, cat)
    try {
      val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
      val kql = "slow | summarize s=sum(h)"
      val req = s"POST /query HTTP/1.1\r\nHost: localhost\r\nContent-Length: ${kql.length}\r\n" +
        s"Content-Type: text/plain\r\n\r\n$kql"
      sock.getOutputStream.write(req.getBytes("UTF-8"))
      sock.getOutputStream.flush()
      // wait until the job is actually running, then vanish
      val tracker = spark.sparkContext.statusTracker
      val t0 = System.currentTimeMillis()
      while (tracker.getActiveJobIds().isEmpty && System.currentTimeMillis() - t0 < 10000)
        Thread.sleep(50)
      assert(tracker.getActiveJobIds().nonEmpty, "slow query never started")
      sock.close()
      // the keepalive probe should hit the broken pipe and cancel the group
      val t1 = System.currentTimeMillis()
      while (tracker.getActiveJobIds().nonEmpty && System.currentTimeMillis() - t1 < 15000)
        Thread.sleep(100)
      val lingering = tracker.getActiveJobIds()
      assert(lingering.isEmpty,
        s"jobs still active ${System.currentTimeMillis() - t1}ms after disconnect: ${lingering.mkString(",")}")
    } finally srv.stop()
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
}
