package graft.kql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public facade: KQL text → DataFrame (the whole engine in one call).
  *
  * ```scala
  * val cat = Catalog.forTestData(spark, "/root/testdata/sf0.01")
  * val df  = Kql.run(spark, cat, "events | where event_type == 'error' | count")
  * ```
  */
object Kql {

  def parse(kql: String): Parsed = Parser.parse(kql)

  def parse(kql: String, nowMicros: Long): Parsed = Parser.parse(kql, nowMicros)

  /** Compile and return the query's DataFrame. NOTE: a `materialize()`
    * let persists lazily and the cache entry lives until the session ends
    * (the returned frame is lazy, so run() cannot release it) — a
    * long-running host that executes many distinct materialize queries
    * should compile via [[Compiler]] directly and call
    * `releaseMaterialized()` after consuming results, as QueryServer
    * does. MEMORY_AND_DISK storage evicts under pressure either way. */
  def run(spark: SparkSession, catalog: Catalog, kql: String): DataFrame =
    run(spark, catalog, kql, System.currentTimeMillis() * 1000L)

  def run(spark: SparkSession, catalog: Catalog, kql: String, nowMicros: Long): DataFrame = {
    val parsed = parse(kql, nowMicros)
    val compiler = new Compiler(spark, catalog, parsed.lets,
      materializedLets = parsed.materialized)
    val df = compiler.compile(parsed.query)
    compiler.runWrites() // write/tee sinks flush on run, never on explain
    df
  }

  /** Step-list printer, the analog of the reference's `POST /explain`
    * (`http_server.rs:407-422`): our pipeline IR plus Spark's optimized plan.
    */
  def explain(spark: SparkSession, catalog: Catalog, kql: String): String = {
    val parsed = parse(kql)
    val steps = renderSteps(parsed)
    val compiler = new Compiler(spark, catalog, parsed.lets,
      materializedLets = parsed.materialized)
    val df = compiler.compile(parsed.query)
    val plan = df.queryExecution.optimizedPlan.toString
    // the plan string is captured — release the materialize() cache
    // entries immediately so repeated /explain calls can't pin storage
    compiler.releaseMaterialized()
    steps + "\n--- spark optimized plan ---\n" + plan
  }

  def renderSteps(parsed: Parsed): String = {
    def renderQuery(q: Query, indent: String): String =
      q.steps.map(s => indent + renderStep(s, indent)).mkString("\n")
    def renderStep(s: QueryStep, indent: String): String = s match {
      case QueryStep.Scan(src) => s"scan $src"
      case QueryStep.RawScan(sql) => s"""raw("$sql")"""
      case QueryStep.RangeScan(n, lo, hi, st) =>
        s"range $n from ${Render.expr(lo)} to ${Render.expr(hi)} step ${Render.expr(st)}"
      case QueryStep.DataTable(cols, vs) =>
        s"datatable (${cols.map { case (n, t) => s"$n: $t" }.mkString(", ")}) " +
          s"[${vs.map(Render.expr).mkString(", ")}]"
      case QueryStep.ExternalData(cols, uris, opts) =>
        s"externaldata (${cols.map { case (n, t) => s"$n: $t" }.mkString(", ")}) " +
          s"[${uris.map(u => s"'$u'").mkString(", ")}]" +
          (if (opts.isEmpty) "" else
            s" with(${opts.map { case (k, v) => s"$k='$v'" }.mkString(", ")})")
      case QueryStep.TopNested(levels) =>
        levels.map(l =>
          s"top-nested ${l.n} of ${l.of.render} by ${l.agg.name} = ${Render.agg(l.agg.agg)}")
          .mkString(", ")
      case QueryStep.Filter(e) => s"where ${Render.expr(e)}"
      case QueryStep.Project(fs) =>
        s"project ${fs.map { case (e, n) => s"$n = ${Render.expr(e)}" }.mkString(", ")}"
      case QueryStep.Extend(fs) =>
        s"extend ${fs.map { case (e, n) => s"$n = ${Render.expr(e)}" }.mkString(", ")}"
      case QueryStep.Rename(ps) =>
        s"project-rename ${ps.map { case (t, f) => s"$t = ${f.render}" }.mkString(", ")}"
      case QueryStep.ProjectAway(fs) => s"project-away ${fs.map(_.render).mkString(", ")}"
      case QueryStep.ProjectKeep(fs) => s"project-keep ${fs.map(_.render).mkString(", ")}"
      case QueryStep.Expand(fs, k, ix, _, lim) =>
        s"mv-expand kind=$k" + ix.map(n => s" with_itemindex=$n").getOrElse("") +
          s" ${fs.map(_.render).mkString(", ")}" +
          lim.map(n => s" limit $n").getOrElse("")
      case QueryStep.MvApply(n, src, sub, _, _) =>
        s"mv-apply $n = ${src.render} on (\n" +
          renderQuery(Query(sub), indent + "  ") + s"\n$indent)"
      case QueryStep.Limit(n) => s"limit $n"
      case QueryStep.Sort(ks) => s"sort by ${ks.map(Render.sortKey).mkString(", ")}"
      case QueryStep.TopN(ks, n) => s"top $n by ${ks.map(Render.sortKey).mkString(", ")}"
      case QueryStep.Summarize(aggs, by) =>
        s"summarize ${aggs.map(a => s"${a.name} = ${Render.agg(a.agg)}").mkString(", ")}" +
          (if (by.nonEmpty)
            s" by ${by.map(b => s"${b.name} = ${Render.expr(b.expr)}").mkString(", ")}"
          else "")
      case QueryStep.Distinct(fs) => s"distinct ${fs.map(_.render).mkString(", ")}"
      case QueryStep.Union(sub, ws, fuzzy, _) =>
        val w = ws.map(c => s"withsource=$c ").getOrElse("") +
          (if (fuzzy) "isfuzzy=true " else "")
        s"union $w(\n${renderQuery(sub, indent + "  ")}\n$indent)"
      case QueryStep.Join(k, sub, keys, lookup, strategy) =>
        val cond = keys.map { case (lk, rk) =>
          s"$$left.${lk.render} == $$right.${rk.render}"
        }.mkString(", ")
        val step = if (lookup) "lookup" else "join"
        val hint = strategy.map(s => s"hint.strategy=$s ").getOrElse("")
        s"$step kind=${k.toString.toLowerCase} $hint(\n${renderQuery(sub, indent + "  ")}\n$indent) on $cond"
      case QueryStep.CountStep => "count"
      case QueryStep.Consume => "consume"
      case QueryStep.GetSchema => "getschema"
      case QueryStep.Write(t) => s"write $t"
      case QueryStep.Tee(t) => s"tee $t"
      case QueryStep.Search(term, cs) =>
        // StrLit rendering escapes embedded quotes/backslashes, keeping
        // the explain output re-parseable
        s"search ${if (cs) "kind=case_sensitive " else ""}" +
          Render.expr(Expr.StrLit(term))
      case QueryStep.Parse(src, segs, strict, _, _) =>
        val body = segs.map {
          case ParseSeg(Some(l), _) => Render.expr(Expr.StrLit(l))
          case ParseSeg(_, Some((n, "string"))) => n
          case ParseSeg(_, Some((n, k))) => s"$n:$k"
          case _ => ""
        }.mkString(" ")
        s"${if (strict) "parse-where" else "parse"} ${src.render} with $body"
      case QueryStep.Pivot(c, agg, vs) =>
        s"evaluate pivot(${c.render}, ${Render.agg(agg.agg)}, " +
          s"${vs.map(Render.expr).mkString(", ")})"
      case QueryStep.Serialize => "serialize"
      case QueryStep.TopHitters(n, of, by) =>
        s"top-hitters $n of ${of.render}" +
          by.map(b => s" by ${b.render}").getOrElse("")
      case QueryStep.SampleDistinct(n, of) =>
        s"sample-distinct $n of ${of.render}"
      case QueryStep.Sample(n) => s"sample $n"
      case QueryStep.Reorder(specs) =>
        s"project-reorder ${specs.map { case (pat, o) =>
          pat + o.map(a => if (a) " asc" else " desc").getOrElse("")
        }.mkString(", ")}"
      case QueryStep.ParseKv(src, keys, pd, kd, q) =>
        s"parse-kv ${Render.expr(src)} as (" +
          keys.map { case (k, t) => s"$k: $t" }.mkString(", ") +
          s") with (pair_delimiter=${Render.expr(Expr.StrLit(pd))}, " +
          s"kv_delimiter=${Render.expr(Expr.StrLit(kd))}" +
          q.map(v => s", quote=${Render.expr(Expr.StrLit(v))}").getOrElse("") + ")"
      case QueryStep.ReduceBy(e) => s"reduce by ${Render.expr(e)}"
      case QueryStep.Facet(cols) =>
        s"facet by ${cols.map(_.render).mkString(", ")}"
      case QueryStep.Fork(branches) =>
        "fork " + branches.map { case (nm, steps) =>
          s"$nm = (\n${renderQuery(Query(steps), indent + "  ")}\n$indent)"
        }.mkString(" ")
      case QueryStep.BagUnpack(c, pfx) =>
        s"evaluate bag_unpack(${c.render}" +
          pfx.map(p => s", ${Render.expr(Expr.StrLit(p))}").getOrElse("") + ")"
      case QueryStep.Print(cols) =>
        "print " + cols.map { case (n, e) =>
          n.map(_ + " = ").getOrElse("") + Render.expr(e)
        }.mkString(", ")
      case QueryStep.Partition(by, sub) =>
        s"partition by ${by.render} (\n" +
          renderQuery(Query(sub), indent + "  ") + s"\n$indent)"
      case QueryStep.MakeSeries(aggs, axis, lo, hi, step, by) =>
        val aggTxt = aggs.map { case (a, d) =>
          s"${a.name} = ${Render.agg(a.agg)} default = ${Render.expr(d)}"
        }.mkString(", ")
        val range = (lo, hi) match {
          case (Some(l), Some(h)) =>
            s" from ${Render.expr(l)} to ${Render.expr(h)}"
          case _ => ""
        }
        val byTxt = if (by.isEmpty) "" else
          s" by ${by.map(b => s"${b.name} = ${Render.expr(b.expr)}").mkString(", ")}"
        s"make-series $aggTxt on ${axis.render}$range step ${Render.expr(step)}$byTxt"
      case QueryStep.ScanMatch(mid, steps, declares, assigns) =>
        val m = mid.map(n => s"with_match_id=$n ").getOrElse("")
        val d = if (declares.isEmpty) "" else
          declares.map(v => s"${v.name}: ${v.typ} = ${v.default}")
            .mkString("declare (", ", ", ") ")
        val stepTxt = steps.zipWithIndex.map { case ((n, c), i) =>
          val as = assigns.lift(i).getOrElse(Nil)
          val aTxt = if (as.isEmpty) "" else as.map(a =>
            s"${a.varName} ${a.op} ${Render.expr(a.expr)}")
            .mkString(" => ", ", ", "")
          s"step $n: ${Render.expr(c)}$aTxt"
        }
        s"scan $m${d}with (" + stepTxt.mkString("; ") + ")"
      case QueryStep.Invoke(n, sub) =>
        s"invoke $n (\n" + renderQuery(Query(sub), indent + "  ") + s"\n$indent)"
      case QueryStep.RenderHint(kind) => s"render $kind"
      case QueryStep.Basket(th) => s"evaluate basket($th)"
      case QueryStep.AutoCluster(th, r) => s"evaluate autocluster($th, $r)"
      case QueryStep.DiffPatterns(th, sp, va, vb) =>
        s"evaluate diffpatterns($th, ${sp.render}, " +
          s"${Render.expr(va)}, ${Render.expr(vb)})"
      case QueryStep.SequenceDetect(tl, w, d, fs, k) =>
        s"evaluate sequence_detect(${tl.render}, ${w}us, ${d}us, " +
          s"${fs.map(_.render).mkString(", ")}, ${k.render})"
    }
    (parsed.lets.map { case (n, q) =>
      val open = if (parsed.materialized(n)) "materialize(" else "("
      s"let $n = $open\n${renderQuery(q, "  ")}\n);"
    } ++
      Seq(renderQuery(parsed.query, ""))).mkString("\n")
  }
}
