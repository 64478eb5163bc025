package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils

/** The one size rule for a set the driver holds: rows it collects to
  * compute on, and frames it hints as the broadcast side of a join.
  * Both are bounded by the session's own
  * `spark.sql.autoBroadcastJoinThreshold` (≤ 0 turns every driver-side
  * set off), so a set that Spark itself would not broadcast is never
  * pulled to the driver either: above the ceiling the caller falls back
  * to plain joins and AQE, which degrade instead of exhausting the
  * driver. Row sizes are Spark's own per-row estimate for the schema. */
object DriverSet {

  private def ceilingBytes(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  def rowBytes(df: DataFrame): Long =
    EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output).toLong

  /** `df`'s rows on the driver when they fit under the ceiling, in ONE
    * job (each partition ships at most ceiling+1 rows; the handler
    * drops everything once the running total passes the ceiling, so
    * the driver holds about twice the ceiling at worst). None = over
    * the ceiling: the caller computes with joins instead. */
  def collect(df: DataFrame): Option[Array[Row]] = {
    val spark = df.sparkSession
    val c = ceilingBytes(spark)
    if (c <= 0) return None
    val cap = math.min(c / math.max(rowBytes(df), 1L), Int.MaxValue - 1L).toInt
    val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var over = false
    // the frame's own planned query (`df.rdd` would analyze, optimize
    // and plan a second, deserializing one); rows convert on the driver
    spark.sparkContext.runJob(df.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => it.take(cap + 1).map(_.copy()).toArray,
      (_: Int, part: Array[InternalRow]) =>
        if (!over) {
          if (buf.length.toLong + part.length > cap) { over = true; buf.clear() }
          else buf ++= part
        })
    if (over) None
    else {
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      Some(buf.iterator.map(r => toRow(r).asInstanceOf[Row]).toArray)
    }
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
