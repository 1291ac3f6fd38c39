package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every `main` in this repo runs on: one
  * executor thread per core — `SPARK_GRAFT_CPUS` if set, else every core
  * the JVM sees — as many shuffle partitions as cores, UTC session time,
  * no UI, and WARN logging. */
object LocalSpark {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
