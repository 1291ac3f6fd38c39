package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Micro-benchmarks mirroring the reference's Criterion shapes
  * (`benches/sort.rs`, `benches/join.rs` — sort by key type × size, join by
  * kind × build:probe ratio, plus aggregation by group cardinality), run on
  * deterministic synthetic data. Prints one JSON line per case; paste the
  * table into BASELINE.md as our measured baseline.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session()
    import spark.implicits._

    def time(f: => Unit): Double = {
      f // warm once
      val runs = 3
      val t0 = System.nanoTime()
      (1 to runs).foreach(_ => f)
      (System.nanoTime() - t0) / 1e9 / runs
    }
    // the noop sink consumes every row, so Catalyst cannot eliminate the
    // sort the way it does under a bare count()
    def exhaust(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def report(group: String, name: String, rows: Long, sec: Double): Unit =
      println(f"""{"bench":"$group/$name","rows":$rows,"sec":$sec%.4f}""")

    // deterministic value columns (hash-derived, no RNG state)
    def base(n: Long): DataFrame = spark.range(n).select(
      col("id"),
      (xxhash64(col("id")) % 1000000L).as("k_long"),
      (xxhash64(col("id"), lit(1)).cast("double") / 1e12).as("k_double"),
      concat(lit("s_"), (xxhash64(col("id"), lit(2)) % 100000L).cast("string")).as("k_string"),
      timestamp_micros(lit(1700000000000000L) + pmod(xxhash64(col("id"), lit(3)), lit(86400000000L))).as("k_ts"),
      when(pmod(col("id"), lit(10)) === 0, lit(null).cast("long"))
        .otherwise(xxhash64(col("id"), lit(4)) % 1000L).as("k_nullable"))

    for (n <- Seq(100000L, 1000000L)) {
      val df = base(n).cache(); df.count()
      for (key <- Seq("k_long", "k_double", "k_string", "k_ts"))
        report("sort", s"$key/$n", n, time(exhaust(df.orderBy(col(key)))))
      report("sort", s"multikey/$n", n,
        time(exhaust(df.orderBy(col("k_long"), col("k_string").desc))))
      report("sort", s"nulls/$n", n,
        time(exhaust(df.orderBy(col("k_nullable").asc_nulls_first))))
      report("topn", s"k_double/$n", n,
        time(exhaust(df.orderBy(col("k_double").desc).limit(10))))
      for (groups <- Seq(10L, 10000L, n / 2))
        report("summarize", s"card_$groups/$n", n,
          time(df.groupBy(pmod(col("k_long"), lit(groups)))
            .agg(count(lit(1)), sum("k_double"), min("k_ts")).count()))
      df.unpersist()
    }

    for (ratio <- Seq(1, 5, 10); kind <- Seq("inner", "left", "right", "full_outer")) {
      val probeN = 1000000L
      val buildN = probeN / ratio
      val probe = base(probeN).select(col("k_long").as("pk"), col("id").as("pv"))
      val build = base(buildN).select(col("k_long").as("bk"), col("id").as("bv"))
      report("join", s"$kind/1:$ratio", probeN,
        time(probe.join(build, col("pk") === col("bk"), kind).count()))
    }

    spark.stop()
  }
}
