package graft.tools

/** Ad-hoc profiling main: for each named registry query, splits wall time
  * into compile (DataFrame construction, incl. KQL parse + catalog) and
  * execute (noop-sink write), over N repeats. Usage:
  *   Profile <sfDir> <repeats> <query...>      — time split
  *   Profile <sfDir> explain <query>           — formatted physical plan
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.LocalSpark.session()
    val registry = graft.SparkEntry.queries
    if (args(1) == "explain") {
      // one JVM, many plans: `explain q1 q2 …` writes each query's
      // formatted physical plan to plans/<out>/<q>_<suffix>.txt (suffix
      // via SPARK_GRAFT_PLAN_SUFFIX, dir via SPARK_GRAFT_PLAN_DIR) —
      // the round-16 before/after plan evidence workflow
      val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
      val outDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
      args.drop(2).foreach { q =>
        val df = registry(q)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        outDir match {
          case Some(dir) =>
            java.nio.file.Files.createDirectories(
              java.nio.file.Paths.get(dir))
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$dir/${q}_$suffix.txt"), plan)
            println(s"[plan] wrote $dir/${q}_$suffix.txt")
          case None =>
            println(s"=== $q ==="); println(plan)
        }
      }
      return
    }
    val repeats = args(1).toInt
    val names = args.drop(2)
    names.foreach { name =>
      val fn = registry(name)
      for (i <- 1 to repeats) {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        println(f"$name%-26s rep$i compile=${(t1 - t0) / 1e9}%.3fs exec=${(t2 - t1) / 1e9}%.3fs")
      }
    }
    spark.stop()
  }
}
