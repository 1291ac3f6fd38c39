package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Gate-output TYPE GUARD (round 16): the driver's value hasher
    * normalizes DECIMAL columns asymmetrically, so a decimal-typed
    * output column hash-mismatches even when the values are bit-equal —
    * the failure mode that cost a gate in r13 (`pl_modularity`) and two
    * in r15 (`pl_nb_filter`, `pl_kmeans_objective`). Engine internals
    * keep DECIMAL(38,0) where 100 TB sums demand it; every gate must
    * narrow to BIGINT at its output projection. Checked per query here
    * AND in SparkEntrySpec, so a decimal-output gate fails at test time
    * before it can cost a driver round. */
  def assertDecimalFree(name: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    def hasDec(dt: DataType): Boolean = dt match {
      case _: DecimalType => true
      case s: StructType  => s.fields.exists(f => hasDec(f.dataType))
      case a: ArrayType   => hasDec(a.elementType)
      case m: MapType     => hasDec(m.keyType) || hasDec(m.valueType)
      case _              => false
    }
    val bad = schema.fields.filter(f => hasDec(f.dataType)).map(_.name)
    require(bad.isEmpty,
      s"gate '$name' outputs DECIMAL column(s) [${bad.mkString(", ")}] — " +
        "the driver's value hasher normalizes decimals asymmetrically; " +
        "cast to BIGINT at the gate output boundary")
  }

  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, rest @ _*) = args.toSeq
    val only = rest.toSet // optional: run just the named queries
    val spark = LocalSpark.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        assertDecimalFree(name, df.schema)
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query seconds to stderr: the r9 round was zeroed by GATE
        // WALL TIME (not correctness), so the dump logs where its budget
        // goes — a future slow query shows up here before it costs a round
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt > 5) System.err.println(f"[verify] $name slow: $dt%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
