package org.apache.spark.sql

import java.io.CharArrayWriter
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{RowOrdering, UnsafeRow}
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.SQLExecution

/** A result whose analyzed root is a global sort, served in one Spark job:
  * each partition sorts its own rows (`Sort(global = false)`: no range
  * sample job, no sort exchange), and the driver merges the sorted runs.
  * The collected rows arrive as runs in partition order, so TimSort merges
  * them in O(n log k) for k runs. Like miso's in-memory `sort`, the whole
  * result is held on the driver before its first row is sent, and like it
  * the held rows are capped at [[MaxBytes]].
  */
object GraftSortedCollect {
  /** Row bytes a merged result may hold on the driver: miso's sort limit
    * (`miso-workflow/src/sort.rs`). */
  val MaxBytes: Long = 500L * 1024 * 1024

  private def rootSort(df: Dataset[Row]): Option[Sort] = df.queryExecution.analyzed match {
    // the driver evaluates the keys again, so they must be deterministic
    case s: Sort if s.global && s.order.forall(_.deterministic) => Some(s)
    case _ => None
  }

  private def ofRows(df: Dataset[Row], s: Sort): classic.Dataset[Row] =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      s.copy(global = false))

  /** The partition-local sort run in place of `df`, when its root is a
    * global sort with deterministic keys. */
  def localSort(df: Dataset[Row]): Option[Dataset[Row]] = rootSort(df).map(ofRows(df, _))

  /** `df.toJSON` rows in `df`'s order, from one collect action (so query
    * listeners and the job group see it as any action). None when the root
    * is not such a sort, or when the collected rows pass `maxBytes`: the
    * caller then streams `df` itself, whose global sort bounds each
    * fetched partition instead of the whole result. */
  def sortedJson(df: Dataset[Row], maxBytes: Long = MaxBytes): Option[Iterator[String]] =
    rootSort(df).flatMap { s =>
      val local = ofRows(df, s)
      val qe = local.queryExecution
      // the job ships compressed row blocks; decode them against the cap
      val (_, decoded) = SQLExecution.withNewExecutionId(qe, Some("collect"))(
        qe.executedPlan.executeCollectIterator())
      val held = new ArrayBuffer[InternalRow]
      var bytes = 0L
      while (bytes <= maxBytes && decoded.hasNext) {
        val r = decoded.next()
        bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes
        held += r
      }
      if (bytes > maxBytes) None
      else {
        val rows = held.toArray
        // the root keeps the sort's output columns in place, so the keys
        // bind to the collected rows positionally
        java.util.Arrays.sort(rows, RowOrdering.create(s.order, s.output))
        // the generator and options Dataset.toJSON uses, so the text is the same
        val writer = new CharArrayWriter()
        val gen = new JacksonGenerator(local.schema, writer,
          new JSONOptions(Map.empty[String, String], qe.sparkSession.sessionState.conf.sessionLocalTimeZone))
        Some(rows.iterator.map { r =>
          writer.reset()
          gen.write(r)
          gen.flush()
          writer.toString
        })
      }
    }
}
