package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Packing, TextAnalysis}
import graft.kql.{Catalog, Compiler, Kql, Lexer}

/** Seeded synthetic logs and documents, written to many parquet files
  * during set-up, then a pass of bench-owned KQL queries, the curation ops
  * and a write phase. It is the only workload whose scans span many
  * partitions, so execution, shuffle, skew and sinks do the work here and
  * core count matters; frontend and planning cost is small. */
final class WideLogs extends Workload {
  import WideLogs._

  private var dir: Path = _
  private var catalog: Catalog = _
  private var passes = 0
  private val opTimes = mutable.ArrayBuffer.empty[(String, Double)]
  private val passWallMs = mutable.ArrayBuffer.empty[Double]
  private val results = mutable.LinkedHashMap.empty[String, String]
  private var lastSinkDir: Path = _

  /** Generates the seeded inputs once: logs and documents in
    * [[FilesPerCore]] files per core, and the small user dimension. */
  override def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    dir = ctx.work.resolve("wide")
    val files = FilesPerCore * ctx.cores
    events(spark, ctx.seed, EventRows).repartition(files)
      .write.mode("overwrite").parquet(dir.resolve("logs").toString)
    docs(spark, ctx.seed, DocRows).repartition(files)
      .write.mode("overwrite").parquet(dir.resolve("docs").toString)
    users(spark, ctx.seed).coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("users").toString)
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val cat = new Catalog(spark)
    cat.register("logs", spark.read.parquet(dir.resolve("logs").toString))
    cat.register("users", spark.read.parquet(dir.resolve("users").toString))
    catalog = cat
    Kql.run(spark, cat, "logs | summarize n = count() by level").collect()
  }

  private def docsDf(spark: SparkSession) = spark.read.parquet(dir.resolve("docs").toString)

  private def kql(ctx: Ctx, tr: Tracer, text: String): DataFrame = {
    tr.span("kql.lex", text)(Lexer.lex(text))
    val parsed = tr.span("kql.parse", text)(Kql.parse(text))
    val compiler = new Compiler(ctx.spark, catalog, parsed.lets, materializedLets = parsed.materialized)
    val df = tr.span("kql.compile", text)(compiler.compile(parsed.query))
    tr.span("sinks.write", text)(compiler.runWrites())
    df
  }

  private def render(rows: Seq[Row]): String =
    rows.map(r => r.toSeq.map {
      case null => "null"
      case d: Double => Fmt.num(d)
      case s: String => Fmt.str(s)
      case t: java.sql.Timestamp => (t.getTime * 1000 + (t.getNanos / 1000) % 1000).toString
      case v => v.toString
    }.mkString("[", ",", "]")).mkString("[", ",", "]")

  def pass(ctx: Ctx, tr: Tracer, rec: Option[SparkRecorder], out: Outcomes): Double = {
    val spark = ctx.spark
    val p0 = System.nanoTime()
    val sinkDir = dir.resolve(s"sinks-$passes")
    catalog.registerSink("errors_sink", sinkDir.resolve("errors").toString)
    catalog.registerUpsertSink("user_stats", sinkDir.resolve("user_stats").toString, "user_id")
    def op(name: String)(body: => String): Unit = {
      val t0 = System.nanoTime()
      out.attempt(name)(tr.span("op", name)(body)).foreach { r =>
        opTimes += name -> (System.nanoTime() - t0) / 1e6
        results(name) = r
      }
    }
    def q(name: String, text: String): Unit =
      op(name)(render(tr.span("queries.exec", name)(kql(ctx, tr, text).collect().toSeq)))
    Queries.foreach { case (n, t) => q(n, t) }

    val d = docsDf(spark)
    op("exact_dups") {
      render(Dedup.exactDupGroups(d, "doc_id", "text").filter(col("n_copies") > 1)
        .agg(count(lit(1)), sum("n_copies")).collect().toSeq)
    }
    op("minhash_pairs") {
      val pairs = Dedup.minhashDupPairs(d.filter(col("doc_id") < MinhashDocs), "doc_id", "text")
      pairs.select("id_a", "id_b").coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(s"pairs-$passes").toString)
      Fmt.str("written")
    }
    op("quality") {
      render(d.select(TextAnalysis.qualityFeatures(col("text")).as("q"))
        .agg(sum("q.n_chars"), sum("q.n_tokens")).collect().toSeq)
    }
    op("packing") {
      val sized = d.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      render(Packing.packSequences(sized, "doc_id", "n_tokens", budget = PackBudget)
        .agg(count(lit(1)), max(col("tok_offset") + col("n_tokens")), max("seq_last")).collect().toSeq)
    }
    Writes.foreach { case (n, t) => q(n, t) }
    results("sink_dir") = Fmt.str(sinkDir.toString)
    results("pairs_dir") = Fmt.str(dir.resolve(s"pairs-$passes").toString)
    lastSinkDir = sinkDir
    passes += 1
    passWallMs += (System.nanoTime() - p0) / 1e6
    passWallMs.last
  }

  def resetPasses(): Unit = { opTimes.clear(); passWallMs.clear() }

  def endToEnd(ctx: Ctx): Seq[Metric] = {
    val t = opTimes.map(_._2).toSeq
    val wallS = Stats.median(passWallMs.toSeq) / 1000.0
    // rows each operation reads: every query and write scans the logs,
    // three curation ops read all documents, MinHash reads a prefix
    val inputRows = (Queries ++ Writes).size * EventRows + 3 * DocRows + MinhashDocs
    Metric.latency(t) ++ Seq(
      Metric("wall_s", wallS, "s", passWallMs.size),
      Metric("rows_per_s", inputRows / wallS, "rows/s")) ++
      opTimes.groupBy(_._1).toSeq.sortBy(_._1).map { case (op, ts) =>
        Metric(s"op.${op}_ms", Stats.median(ts.map(_._2).toSeq), "ms", ts.size)
      }
  }

  def layers(ctx: Ctx, tr: Tracer, rec: SparkRecorder, wallMs: Double): Seq[Metric] = {
    val spans = tr.spans
    def med(name: String) = Trace.medianMs(spans, name)
    val sinkSpans = spans.filter(_.name == "sinks.write")
    val opSpans = spans.filter(_.name == "op")
    val jobs = rec.jobList
    val gap = opSpans.map { s =>
      s.durMs - Trace.covered(jobs.map(j => (j.startMs, if (j.endMs.isNaN) s.endMs else j.endMs)), s.startMs, s.endMs)
    }.sum
    val sinkFiles = Files.walk(lastSinkDir).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
    Seq(med("kql.lex"), med("kql.parse"), med("kql.compile"),
      Metric("sinks.write_ms", sinkSpans.map(_.durMs).sum, "ms", sinkSpans.size),
      Metric("sinks.sink_files", sinkFiles.toDouble, "count"),
      Metric("driver.gap_ms", gap, "ms")) ++
      ExecLayer.all(rec, wallMs, ctx.cores)
  }

  /** Results of the last pass for the DuckDB check, plus the upsert sink
    * read back through the engine. */
  def check(ctx: Ctx, out: Outcomes, all: Boolean): Seq[Metric] = {
    val upserted = out.attempt("user_stats read-back") {
      graft.sources.Sinks.readUpserted(ctx.spark, lastSinkDir.resolve("user_stats").toString).count()
    }.getOrElse(-1L)
    results("user_stats_rows") = upserted.toString
    results("data_dir") = Fmt.str(dir.toString)
    def size(sub: String) = Files.walk(dir.resolve(sub)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    def files(sub: String) = Files.walk(dir.resolve(sub)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    Files.writeString(ctx.work.resolve("wide_results.json"),
      Fmt.obj(results.toSeq.map { case (k, v) => k -> v }) + "\n")
    Seq(
      Metric("data.events_rows", EventRows.toDouble, "rows"),
      Metric("data.events_bytes", size("logs").toDouble, "bytes"),
      Metric("data.events_files", files("logs").toDouble, "count"),
      Metric("data.docs_rows", DocRows.toDouble, "rows"),
      Metric("data.docs_bytes", size("docs").toDouble, "bytes"),
      Metric("data.docs_files", files("docs").toDouble, "count"))
  }

}

object WideLogs {
  val EventRows = 250000L
  val DocRows = 25000L
  val MinhashDocs = 6000L
  val FilesPerCore = 8
  val PackBudget = 2048L

  val Queries: Seq[(String, String)] = Seq(
    "filter_count" -> "logs | where level == 'error' and value > 2500.0 | count",
    "dcount" -> "logs | summarize users = dcount(user_id) by event_type | sort by event_type asc",
    "top" -> "logs | where level != 'info' | top 20 by value desc, event_id asc | project event_id, value",
    "join_dim" -> ("logs | where level == 'error' | join kind=inner (users) on $left.user_id == $right.user_id " +
      "| summarize n = count() by region | sort by region asc"),
    "double_sum" -> ("logs | summarize s = sum(value), a = avg(value), n = count() by event_type " +
      "| sort by event_type asc"),
    "row_number" -> ("logs | where level == 'fatal' | sort by ts asc, event_id asc " +
      "| extend rn = row_number() | where rn % 25 == 1 | project event_id, rn"),
    "by_day" -> "logs | summarize n = count() by d = bin(ts, 1d), level | sort by d asc, level asc")

  val Writes: Seq[(String, String)] = Seq(
    "write_append" -> "logs | where level == 'error' | project event_id, user_id, ts, value | write errors_sink",
    "write_upsert" -> ("logs | where level != 'info' | summarize n = count(), mx = max(value) by user_id " +
      "| write user_stats"))

  private def h(seed: Long, salt: Int) = xxhash64(lit(seed), col("id"), lit(salt))

  /** `logs`: ids, 10k users, 30 days of timestamps, 8 event types, a
    * skewed level and a two-decimal value. */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val lv = pmod(h(seed, 3), lit(1000L))
    spark.range(n).select(
      col("id").as("event_id"),
      pmod(h(seed, 1), lit(10000L)).as("user_id"),
      timestamp_seconds(lit(1700000000L) + pmod(h(seed, 2), lit(86400L * 30))).as("ts"),
      concat(lit("t"), pmod(h(seed, 4), lit(8L)).cast("string")).as("event_type"),
      when(lv < 900, "info").when(lv < 980, "warn").when(lv < 999, "error").otherwise("fatal").as("level"),
      (pmod(h(seed, 5), lit(1000000L)) / 100.0).as("value"))
  }

  /** `docs`: 40-token texts over a 5000-word vocabulary; every 50th
    * document repeats the text of an earlier one, so dedup finds groups. */
  def docs(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val src = when(col("id") % 50 === 49, col("id") - 17).otherwise(col("id"))
    spark.range(n).select(col("id").as("doc_id"), src.as("src")).select(
      col("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(40)),
        i => concat(lit("w"), pmod(xxhash64(lit(seed), col("src"), i), lit(5000L)).cast("string"))))
        .as("text"))
  }

  def users(spark: SparkSession, seed: Long): DataFrame =
    spark.range(10000L).select(
      col("id").as("user_id"),
      concat(lit("r"), pmod(h(seed, 6), lit(8L)).cast("string")).as("region"))
}
