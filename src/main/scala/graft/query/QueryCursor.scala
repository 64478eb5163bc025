package graft.query

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets

/** Resumable paged query cursor — the CheckpointableQueryLogic /
  * `next(queryId)` analog (ShardQueryLogic.java:2797, RunningQuery):
  * a query id maps to a durable page offset, so paging survives process
  * restarts and can be handed to another driver.
  *
  * The result frame must be given a total order (`orderCols`) — the
  * reference streams in (shard, datatype, uid) key order; an explicit
  * order is what makes OFFSET/LIMIT pages deterministic and resumable.
  * State is one tiny file per queryId under `stateDir` (the "query
  * storage cache" of the reference's microservices). [[next]] computes
  * each page from the frame (pass a cached one to avoid re-planning its
  * scans); from its second page on, [[RunningQuery.nextPageJson]]
  * instead slices one sorted collect of the whole result when it fits
  * the driver, advancing the same offset.
  */
final class QueryCursor(stateDir: String) {

  private def stateFile(queryId: String): Path = {
    require(queryId.matches("[A-Za-z0-9_-]+"), s"unsafe queryId '$queryId'")
    Paths.get(stateDir, s"$queryId.offset")
  }

  def currentOffset(queryId: String): Long = {
    val f = stateFile(queryId)
    if (Files.exists(f))
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  private def saveOffset(queryId: String, offset: Long): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    Files.write(stateFile(queryId), offset.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Next page for `queryId`; advances the durable offset. */
  def next(queryId: String, df: DataFrame, orderCols: Seq[String],
           pageSize: Int): DataFrame = {
    val off = currentOffset(queryId)
    val page = df.orderBy(orderCols.map(RunningQuery.orderColumn): _*)
      .offset(off.toInt).limit(pageSize)
    saveOffset(queryId, off + pageSize)
    page
  }

  /** Advance the durable offset WITHOUT serving a page frame, returning
    * where the page starts — the batched ledger drain
    * ([[RunningQuery.run]]) and the held pages of
    * [[RunningQuery.nextPageJson]] keep cursor state byte-identical to a
    * per-page drain. */
  def advance(queryId: String, pageSize: Int): Long = {
    val off = currentOffset(queryId)
    saveOffset(queryId, off + pageSize)
    off
  }

  /** Drop cursor state (query close). */
  def close(queryId: String): Unit = {
    val f = stateFile(queryId)
    if (Files.exists(f)) Files.delete(f)
  }
}
