package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement aid (guide §1): runs ONE registry query through the noop
  * sink with a SparkListener attached and prints every Spark job's wall
  * time, task count, and the call site that launched it — the per-verb
  * breakdown the lifecycle gates need (a gate is a CHAIN of jobs: saves,
  * loads, collects, rewrites; bench totals alone cannot say which verb
  * costs what). Usage: JobProfile <sfDir> <query> [repeats]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val repeats = if (args.length > 2) args(2).toInt else 1
    val spark = graft.LocalSpark.session()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    var tasksByJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val stageToJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    // wall-clock bookkeeping so the report shows DRIVER GAPS (time between
    // one job's end and the next job's start — planning, file listing,
    // commit protocol) alongside in-job time; lifecycle gates spend a
    // large fraction there and bench totals alone cannot show it
    @volatile var repStart = System.currentTimeMillis()
    @volatile var lastEnd = 0L
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs.put(js.jobId, (js.time, site, js.stageInfos.map(_.numTasks).sum))
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val j = stageToJob.getOrElse(sc.stageInfo.stageId, -1)
        tasksByJob.updateWith(j) {
          case Some(n) => Some(n + sc.stageInfo.numTasks)
          case None    => Some(sc.stageInfo.numTasks)
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, site, tasks) =>
          val gap = (t0 - math.max(lastEnd, repStart)) / 1e3
          lastEnd = je.time
          println(f"[job] ${je.jobId}%4d at=${(t0 - repStart) / 1e3}%7.3f " +
            f"gap=$gap%7.3f ${(je.time - t0) / 1e3}%8.3fs " +
            f"tasks=${tasksByJob.getOrElse(je.jobId, tasks)}%-5d $site")
        }
      }
    }
    val fn = graft.SparkEntry.queries(name)
    // untimed warmup, like Bench
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark.sparkContext.addSparkListener(listener)
    for (i <- 1 to repeats) {
      println(s"=== $name rep $i ===")
      repStart = System.currentTimeMillis()
      lastEnd = 0L
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // small grace period so async listener events drain before the total
      Thread.sleep(300)
      println(f"=== total ${(System.nanoTime() - t0) / 1e9}%.3f s ===")
    }
    spark.stop()
  }
}
