package perfbench

import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.queries.Q

/** The registered gates at sf0.1, closed loop, one client, noop sink.
  *
  * Session model: `q_*` and `kql_*` gates share one long-lived session, as
  * a server's users do; each `pl_*` gate runs in its own fresh session, as a
  * batch curation job does, so no gate can reuse another's training.
  *
  * A full pass (350 gates, ~280 s on 4 cores) does not fit one run, so a
  * pass times a fixed, named sample from every family, the same on every
  * commit and every seed. The seed sets the order the sample runs in.
  */
final class Gates extends Workload {
  import Gates._

  private var shared: SparkSession = _
  private val samples = mutable.ArrayBuffer.empty[GateRun]
  private var passWallMs = Double.NaN

  private def sfDir(ctx: Ctx): String = ctx.data.resolve("sf0.1").toString

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark.newSession()
    val dir = sfDir(ctx)
    graft.Tables.names.foreach(t => graft.Tables.load(s, dir, t).schema)
    graft.Tables.load(s, dir, "lineitem").limit(1).collect()
    shared = s
    // one unsampled gate per family, each in its session model, so that the
    // JVM's first-query costs do not fall on whichever gate the seed puts
    // first
    lookup(WarmUpNames).foreach { q =>
      val ws = if (family(q.name) == "pl") ctx.spark.newSession() else s
      q.fn(ws, dir).write.format("noop").mode("overwrite").save()
    }
  }

  private def order(ctx: Ctx): Seq[Q] =
    new scala.util.Random(ctx.seed).shuffle(sample)

  def pass(ctx: Ctx, tr: Tracer, rec: Option[SparkRecorder], out: Outcomes): Double = {
    val dir = sfDir(ctx)
    val sc = ctx.spark.sparkContext
    val p0 = System.nanoTime()
    order(ctx).foreach { q =>
      val fam = family(q.name)
      val group = s"gate-${q.name}"
      sc.setJobGroup(group, q.name)
      try {
        tr.span("gate", q.name) {
          val g0 = System.nanoTime()
          val s =
            if (fam == "pl") { val f = ctx.spark.newSession(); rec.foreach(f.listenerManager.register); f }
            else shared
          val df = tr.span("queries.build", q.name)(q.fn(s, dir))
          val g1 = System.nanoTime()
          tr.span("queries.exec", q.name)(df.write.format("noop").mode("overwrite").save())
          val g2 = System.nanoTime()
          if (tr.enabled) rec.foreach(_.plans.add(SparkRecorder.planRec(df.queryExecution)))
          samples += GateRun(q.name, fam, group, (g1 - g0) / 1e6, (g2 - g1) / 1e6)
          out.ok()
        }
      } catch {
        case e: Throwable => out.fail(q.name, Option(e.getMessage).getOrElse(e.toString))
      } finally sc.clearJobGroup()
    }
    passWallMs = (System.nanoTime() - p0) / 1e6
    passWallMs
  }

  def resetPasses(): Unit = { samples.clear(); passWallMs = Double.NaN }

  private def perGate(fam: String): Seq[Double] =
    samples.toSeq.filter(_.family == fam).map(_.totalMs)

  def endToEnd(ctx: Ctx): Seq[Metric] = {
    def med(fam: String) = { val v = perGate(fam); Metric(s"${fam}_p50_ms", Stats.median(v), "ms", v.size) }
    Metric.latency(Seq("q", "kql", "pl").flatMap(perGate)) ++ Seq(
      Metric("wall_s", passWallMs / 1000.0, "s", 1),
      med("q"), med("kql"), med("pl"))
  }

  def layers(ctx: Ctx, tr: Tracer, rec: SparkRecorder, wallMs: Double): Seq[Metric] = {
    val jobs = rec.jobList
    val spans = tr.spans
    val execStart = spans.filter(_.name == "queries.exec").map(s => s.qid -> s.startMs).toMap
    val gateSpans = spans.filter(_.name == "gate")
    val byGroup = jobs.groupBy(_.group)
    val rows = samples.toSeq.map { g =>
      val js = byGroup.getOrElse(g.group, Nil)
      val span = gateSpans.find(_.qid == g.name)
      val gap = span.map(s => s.durMs - Trace.covered(
        js.map(j => (j.startMs, if (j.endMs.isNaN) s.endMs else j.endMs)), s.startMs, s.endMs))
        .getOrElse(0.0)
      val buildJobs = js.count(j => j.startMs < execStart.getOrElse(g.name, Double.MaxValue))
      (g, js, gap, buildJobs)
    }
    writeProfile(ctx, rows, gateSpans)
    def fam(f: String) = rows.filter(_._1.family == f)
    val famMetrics = Seq("q", "kql", "pl").flatMap { f =>
      val r = fam(f)
      Seq(
        Metric(s"queries.build_ms.$f", Stats.median(r.map(_._1.buildMs)), "ms", r.size),
        Metric(s"queries.exec_ms.$f", Stats.median(r.map(_._1.execMs)), "ms", r.size),
        Metric(s"queries.build_jobs.$f", r.map(_._4).sum.toDouble, "count"))
    }
    famMetrics ++ Seq(Metric("driver.gap_ms", rows.map(_._3).sum, "ms")) ++
      ExecLayer.all(rec, wallMs, ctx.cores)
  }

  /** Per-gate build/exec split and job list, in the forms of the repo's
    * `Profile` and `JobProfile` tools. */
  private def writeProfile(
      ctx: Ctx, rows: Seq[(GateRun, Seq[JobRec], Double, Int)], gates: Seq[Span]): Unit = {
    val b = new StringBuilder
    rows.foreach { case (g, js, gap, buildJobs) =>
      b ++= s"=== ${g.name} ===\n"
      b ++= String.format(java.util.Locale.ROOT, "%-26s rep1 compile=%.3fs exec=%.3fs build_jobs=%d driver_gap=%.3fs\n",
        g.name, Double.box(g.buildMs / 1000), Double.box(g.execMs / 1000), Int.box(buildJobs), Double.box(gap / 1000))
      val start = gates.find(_.qid == g.name).map(_.startMs).getOrElse(0.0)
      var lastEnd = start
      js.sortBy(_.startMs).foreach { j =>
        val end = if (j.endMs.isNaN) j.startMs else j.endMs
        b ++= String.format(java.util.Locale.ROOT, "[job] %4d at=%7.3f gap=%7.3f %8.3fs %s\n",
          Int.box(j.id), Double.box((j.startMs - start) / 1000), Double.box((j.startMs - lastEnd) / 1000),
          Double.box((end - j.startMs) / 1000), j.callSite)
        lastEnd = math.max(lastEnd, end)
      }
      val sites = js.groupBy(j => ExecLayer.callSiteFile(j.callSite)).map { case (f, l) => s"$f=${l.size}" }
      b ++= s"[sites] ${sites.toSeq.sorted.mkString(" ")}\n"
    }
    Files.writeString(ctx.work.resolve("profile.txt"), b.result())
  }

  /** Gate outputs for the DuckDB oracle check, written as `graft.Verify`
    * writes them, each gate in its session model. A traced run checks the
    * whole sample; an untraced run checks a seeded third of it, so ten
    * seeds cover the sampled gates while a run stays short. */
  def check(ctx: Ctx, out: Outcomes, all: Boolean): Seq[Metric] = {
    val dir = sfDir(ctx)
    val outDir = ctx.work.resolve("gates_out")
    Files.createDirectories(outDir)
    val checked = if (all) sample else order(ctx).zipWithIndex.collect { case (q, i) if i % 3 == 0 => q }
    checked.foreach { q =>
      val s = if (family(q.name) == "pl") ctx.spark.newSession() else shared
      out.attempt(s"${q.name} output") {
        q.fn(s, dir).coalesce(1).write.mode("overwrite").parquet(outDir.resolve(q.name).toString)
      }
    }
    val oracles = checked.flatMap(q => q.oracle.map(o => Fmt.str(q.name) + ":" + Fmt.str(o)))
    Files.writeString(outDir.resolve("oracle_sql.json"), oracles.mkString("{", ",", "}"))
    Seq(Metric("check.gates_written", checked.size.toDouble, "count"))
  }
}

final case class GateRun(name: String, family: String, group: String, buildMs: Double, execMs: Double) {
  def totalMs: Double = buildMs + execMs
}

object Gates {
  /** The timed sample: 2 `q_*`, 7 `kql_*` and 3 `pl_*` gates, named so that
    * adding, removing or renaming other gates cannot change it. (It was
    * drawn once as the first names of each family in SHA-256 order, leaving
    * out `kql_v2_pushdown` and `kql_v2_topn`, which seed an embedded Derby
    * store that logs to a fixed path outside the checkout.) */
  val SampleNames: Seq[String] = Seq(
    "q_distinct", "q_extract",
    "kql_render_set", "kql_specialfns", "kql_graph_match", "kql_rowsession",
    "kql_new_activity", "kql_tophitters", "kql_geometrics",
    "pl_multimodal_frames", "pl_multimodal_resize", "pl_kmeans_batch")

  /** Gates run once, untimed, during set-up. */
  val WarmUpNames: Seq[String] = Seq("q_filter", "kql_bin_time", "pl_quality")

  def family(name: String): String = name.takeWhile(_ != '_')

  /** The named gates; fails the run when one is not registered. */
  def lookup(names: Seq[String]): Seq[Q] = {
    val reg = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val missing = names.filterNot(reg.contains)
    require(missing.isEmpty, s"gates not registered: ${missing.mkString(", ")}")
    names.map(reg)
  }

  lazy val sample: Seq[Q] = lookup(SampleNames)
}
