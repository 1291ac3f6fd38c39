package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** A reported figure; `n` is its sample count (0 for counts and totals). */
final case class Metric(name: String, value: Double, unit: String, n: Int = 0)

object Metric {
  /** The end-to-end timing figures of a workload's unit of work: mean,
    * median, and the highest ladder percentile the sample count allows. */
  def latency(samples: Seq[Double]): Seq[Metric] = {
    val n = samples.size
    Seq(Metric("latency_mean_ms", samples.sum / n, "ms", n),
      Metric("latency_p50_ms", Stats.median(samples), "ms", n)) ++
      Stats.tailPercentile(n).map(p => Metric(s"latency_p${p}_ms", Stats.percentile(samples, p), "ms", n))
  }
}

/** Run context shared by the workloads. */
final case class Ctx(
    spark: SparkSession, seed: Long, seconds: Int, work: Path, data: Path,
    cores: Int)

/** Outcome bookkeeping of one run: operations attempted and failed, and the
  * messages of the failures. */
final class Outcomes {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  def ok(): Unit = attempted += 1
  def fail(what: String, msg: String): Unit = {
    attempted += 1; failed += 1
    if (errors.size < 50) errors += s"$what: ${msg.replace('\n', ' ').take(300)}"
  }
  def attempt[T](what: String)(body: => T): Option[T] =
    try { val r = body; ok(); Some(r) }
    catch { case e: Throwable => fail(what, Option(e.getMessage).getOrElse(e.toString)); None }
}

trait Workload {
  /** One-time input generation, timed once as part of set-up. */
  def prepare(ctx: Ctx): Unit = ()
  /** The set-up before the timed pass: sessions, catalog, warm-up, server. */
  def setup(ctx: Ctx): Unit
  /** One timed pass. Returns its cost in ms (wall time, or median request
    * latency for an open loop), which compares a traced pass with an
    * untraced one. */
  def pass(ctx: Ctx, tr: Tracer, rec: Option[SparkRecorder], out: Outcomes): Double
  /** An untraced pass whose cost compares with the traced pass's; the
    * default is a whole pass. */
  def referencePass(ctx: Ctx, out: Outcomes): Double = pass(ctx, new Tracer(false), None, out)
  /** End-to-end metrics of the untraced pass. */
  def endToEnd(ctx: Ctx): Seq[Metric]
  /** Per-layer metrics of the traced pass. */
  def layers(ctx: Ctx, tr: Tracer, rec: SparkRecorder, wallMs: Double): Seq[Metric]
  /** Output checks, outside the timed passes; `all` in a traced run. */
  def check(ctx: Ctx, out: Outcomes, all: Boolean): Seq[Metric]
  /** Clears per-pass bookkeeping before the traced pass. */
  def resetPasses(): Unit
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --data DIR --work DIR`. Writes `result.json` (and `trace.json` when
  * traced) under the work directory; `run.py` adds the DuckDB checks and
  * prints the summary. */
object Main {
  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String): Workload = name match {
    case "gates" => new Gates
    case "serve_mixed" => new ServeMixed
    case "wide_logs" => new WideLogs
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def jvmMetrics(): Seq[Metric] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
    Seq(Metric("jvm.heap_peak_mb", heapPeak / 1048576.0, "MB"),
      Metric("jvm.gc_ms", gc.toDouble, "ms"))
  }

  def metricsJson(ms: Seq[Metric]): String =
    Fmt.obj(ms.map(m => m.name -> Fmt.obj(Seq(
      "value" -> Fmt.num(m.value), "unit" -> Fmt.str(m.unit), "n" -> m.n.toString))))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = workload(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = 4

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(work, cores)
    val contextS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = Ctx(spark, seed, seconds, work, Paths.get(opt("data")).toAbsolutePath, cores)

    def log(msg: String) = System.err.println(s"[perfbench] $msg")
    val prep0 = System.nanoTime()
    wl.prepare(ctx)
    val prepareS = (System.nanoTime() - prep0) / 1e9
    wl.setup(ctx)
    // one cold set-up, from process start to the first timed operation
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    log(s"setup: ${Fmt.fixed(setupS, 3)} s")

    // exactly one untraced pass, so what a run measures does not change
    // with the program's speed
    val out = new Outcomes
    val off = new Tracer(false)
    val cost = wl.pass(ctx, off, None, out)
    log(s"pass: cost ${Fmt.fixed(cost, 1)} ms")
    val e2e = Metric("setup_s", setupS, "s", 1) +: wl.endToEnd(ctx)

    val layers = mutable.ArrayBuffer.empty[Metric]
    if (traced) {
      // the overhead compares the traced pass with the mean of untraced
      // passes just before and just after it, so that the JIT warming up
      // over the run does not count as tracing cost; these three passes use
      // half-length windows to keep a traced run short
      val half = ctx.copy(seconds = math.max(1, seconds / 2))
      def reference(): Double = { log("untraced reference pass"); wl.referencePass(half, out) }
      wl.resetPasses()
      val before = reference()
      wl.resetPasses()
      log("traced pass")
      val tr = new Tracer(true)
      val rec = SparkRecorder.attach(spark)
      val p0 = System.nanoTime()
      val tracedCost = wl.pass(half, tr, Some(rec), out)
      val wallMs = (System.nanoTime() - p0) / 1e6
      SparkRecorder.drain(spark, rec)
      layers ++= wl.layers(half, tr, rec, wallMs)
      SparkRecorder.detach(spark, rec)
      Files.writeString(work.resolve("trace.json"), Trace.json(tr.spans))
      // no reset: the output checks read the traced pass
      val after = reference()
      layers += Metric("bench.trace_overhead_ratio",
        tracedCost / ((before + after) / 2) - 1.0, "ratio")
    }
    log("checks")
    val checks = wl.check(ctx, out, traced)
    layers ++= jvmMetrics()

    val result = Fmt.obj(Seq(
      "workload" -> Fmt.str(opt("workload")),
      "seed" -> seed.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "errors" -> out.errors.map(Fmt.str).mkString("[", ",", "]"),
      "context_s" -> Fmt.num(contextS),
      "prepare_s" -> Fmt.num(prepareS),
      "end_to_end" -> metricsJson(e2e),
      "per_layer" -> metricsJson(layers.toSeq ++ checks)))
    Files.writeString(work.resolve("result.json"), result + "\n")
    spark.stop()
    // QueryServer.stop leaves its handler pool's threads alive, which would
    // keep the JVM from exiting
    sys.exit(0)
  }
}
