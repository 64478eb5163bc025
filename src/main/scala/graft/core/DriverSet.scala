package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.SQLExecution

/** The one size rule for a set the driver holds: rows it collects to
  * compute on, and frames it hints as the broadcast side of a join.
  * Both are bounded by the session's own
  * `spark.sql.autoBroadcastJoinThreshold` (≤ 0 turns every driver-side
  * set off), so a set that Spark itself would not broadcast is never
  * pulled to the driver either: above the ceiling the caller falls back
  * to plain joins and AQE, which degrade instead of exhausting the
  * driver. A collected set counts its rows' real bytes; a hinted frame
  * and a file count use Spark's own estimates. */
object DriverSet {

  private def ceilingBytes(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  def rowBytes(df: DataFrame): Long =
    EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output).toLong

  /** `df`'s rows on the driver when they fit under the ceiling, in ONE
    * job, counted at their real (UnsafeRow) bytes: each partition ships
    * rows until it passes the ceiling, and the handler drops everything
    * once the running total passes it, so the driver holds about twice
    * the ceiling at worst. The job runs as its own SQL execution, so
    * listeners see its plan and phase times. None = over the ceiling:
    * the caller computes with joins instead. */
  def collect(df: DataFrame): Option[Array[Row]] =
    collectRows(df).map { rows =>
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      rows.map(r => toRow(r).asInstanceOf[Row])
    }

  /** [[collect]] in Catalyst's row form, for a caller that computes over
    * the rows with Catalyst's own expressions (an ordering). */
  def collectRows(df: DataFrame): Option[Array[InternalRow]] = {
    val c = ceilingBytes(df.sparkSession)
    if (c <= 0) return None
    val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var bytes = 0L
    // the frame's own planned query (`df.rdd` would analyze, optimize
    // and plan a second, deserializing one); a physical plan's rows are
    // UnsafeRows, as Spark's own collect assumes
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      df.sparkSession.sparkContext.runJob(qe.toRdd,
        (it: Iterator[InternalRow]) => {
          val part = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
          var n = 0L
          while (n <= c && it.hasNext) {
            val r = it.next().asInstanceOf[UnsafeRow].copy()
            n += r.getSizeInBytes
            part += r
          }
          part.toArray
        },
        (_: Int, part: Array[UnsafeRow]) =>
          if (bytes <= c) {
            bytes += part.iterator.map(_.getSizeInBytes.toLong).sum
            if (bytes > c) buf.clear() else buf ++= part
          })
    }
    if (bytes > c) None else Some(buf.toArray)
  }

  /** `df` hinted as the broadcast side when `bytes` fit under the
    * ceiling; otherwise left to the planner and AQE. */
  def broadcastIfFits(df: DataFrame, bytes: BigInt): DataFrame = {
    val c = ceilingBytes(df.sparkSession)
    if (c > 0 && bytes <= c) org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** A frame's size by its plan statistics — the estimate for a batch
    * side whose row count the driver does not hold. An input whose size
    * Spark cannot bound (an RDD-backed frame) estimates over any
    * ceiling. */
  def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Output files for `rows` rows of `rowBytes` each: one per
    * `spark.sql.files.maxPartitionBytes`, the size a later read splits
    * at, instead of one per task of the writing stage. */
  def files(spark: SparkSession, rows: Long, rowBytes: Long): Int = {
    val target = math.max(spark.sessionState.conf.filesMaxPartitionBytes, 1L)
    ((BigInt(rows) * rowBytes + target - 1) / target)
      .max(1).min(Int.MaxValue).toInt
  }
}
