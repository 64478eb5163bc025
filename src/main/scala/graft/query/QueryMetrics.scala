package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Query metrics capture + query logic (QueryMetricQueryLogic,
  * warehouse/metrics-core analog): every executed query appends a metric
  * event; the metrics themselves are queryable as a DataFrame — the
  * reference ingests query metrics back into the shard schema and queries
  * them with the standard stack.
  */
final case class QueryMetric(
    queryId: String,
    query: String,
    syntax: String,
    beginMillis: Long,
    elapsedMillis: Long,
    resultRows: Long,
    error: Boolean = false,
    selectors: Long = 1,
    user: String = "anonymous",
    logicName: String = "")

/** Per-page metric (QueryMetric.PageMetric analog — the reference emits
  * one per `next()` call with pagesize/returnTime, RunningQuery:331). */
final case class PageMetric(
    queryId: String,
    pageNum: Long,
    rows: Long,
    elapsedMillis: Long,
    status: String, // COMPLETE | PARTIAL | TIMEOUT
    // run ordinal: a /query/reset starts attempt n+1, so two runs'
    // page numbers never collide in an append-only durable ledger
    attempt: Long = 0L)

object QueryMetrics {
  private val buf = ArrayBuffer.empty[QueryMetric]
  private val pageBuf = ArrayBuffer.empty[PageMetric]

  def record(m: QueryMetric): Unit = synchronized { buf += m }
  /** The recorded per-query metrics (driver-resident; the history a
    * [[Predict.HistoryPredictor]] predicts from). */
  def all: Seq[QueryMetric] = synchronized { buf.toList }
  def recordPage(m: PageMetric): Unit = synchronized { pageBuf += m }
  def clear(): Unit = synchronized { buf.clear(); pageBuf.clear() }

  /** Drop one query's page ledger (a `/query/reset` starts a fresh run —
    * two runs' pages must not collide under the same page numbers). */
  def clearPages(queryId: String): Unit =
    synchronized { pageBuf.filterInPlace(_.queryId != queryId) }

  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    synchronized { buf.toList }.toDF()
  }

  def pagesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    synchronized { pageBuf.toList }.toDF()
  }

  /** Driver-side page metrics for one query (the HTTP metrics surface). */
  def pages(queryId: String): Seq[PageMetric] =
    synchronized { pageBuf.filter(_.queryId == queryId).toList }

  /** Run a query through a logic while capturing a metric event (the
    * QueryMetricsBean per-page emission collapsed to per-query). A
    * failing query records an error metric before rethrowing. */
  def instrumented(logic: ShardQueryLogic, queryId: String,
                   events: DataFrame, q: String,
                   params: QueryParams = QueryParams(),
                   selectors: Long = 1,
                   logicName: String = ""): DataFrame = {
    val t0 = System.currentTimeMillis()
    try {
      val out = logic.query(events, q, params)
      val n = out.count()
      record(QueryMetric(queryId, q, params.syntax, t0,
        System.currentTimeMillis() - t0, n, error = false, selectors,
        logicName = logicName))
      out
    } catch {
      case e: Throwable =>
        record(QueryMetric(queryId, q, params.syntax, t0,
          System.currentTimeMillis() - t0, 0, error = true, selectors,
          logicName = logicName))
        throw e
    }
  }

  /** Time-bucketed metrics summary — the reference's `/Query/Metrics
    * /summary/all` + `/summary/user` (QueryMetricsBean.java:224-336,
    * BaseQueryMetricHandler.binSummary:66-96): each query metric joins
    * its page ledger, then lands in EVERY window bucket its create time
    * falls inside (a query within the last hour counts in hour1 AND
    * hour6 AND … AND all), accumulating query count, page count, and
    * page result totals per bucket. `user` narrows to one caller's
    * queries (the `/summary/user` variant). All nine buckets are always
    * present (zeros when empty), like the reference's response shape.
    * The metric store is driver-resident; the whole summary is a
    * tiny-frame aggregate. */
  def summary(spark: SparkSession, endMillis: Long,
              forUser: Option[String] = None): DataFrame =
    summaryFrom(toDF(spark), pagesDF(spark), endMillis, forUser)

  /** The binning core over EXPLICIT metric/page frames — the same
    * summary served from the driver-resident ledgers (above) or from a
    * [[MetricsStore]]'s lake tables (the restart-surviving path the
    * QueryServer endpoint uses). */
  def summaryFrom(metricsIn: DataFrame, pagesIn: DataFrame,
                  endMillis: Long,
                  forUser: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = metricsIn.sparkSession
    import spark.implicits._
    val H = 3600000L
    val D = 24L * H
    val windows = Seq(
      ("hour1", 1, H), ("hour6", 2, 6 * H), ("hour12", 3, 12 * H),
      ("day1", 4, D), ("day7", 5, 7 * D), ("day30", 6, 30 * D),
      ("day60", 7, 60 * D), ("day90", 8, 90 * D),
      ("all", 9, Long.MaxValue))
    val buckets = windows.toDF("bucket", "ord", "window")
    val pages = pagesIn.groupBy("queryId")
      .agg(count(lit(1)).as("pages"), sum("rows").as("pageRows"))
    val metrics0 = metricsIn.join(pages, Seq("queryId"), "left")
    val metrics = forUser.fold(metrics0)(u =>
      metrics0.filter(col("user") === u))
    val binned = metrics.crossJoin(broadcast(buckets))
      .filter(col("beginMillis") > lit(endMillis) - col("window"))
      .groupBy("bucket", "ord")
      .agg(count(lit(1)).as("queryCount"),
        coalesce(sum("pages"), lit(0L)).as("pageCount"),
        coalesce(sum("pageRows"), lit(0L)).as("pageRows"))
    buckets.join(binned, Seq("bucket", "ord"), "left")
      .select(col("bucket"), col("ord"),
        coalesce(col("queryCount"), lit(0L)).as("queryCount"),
        coalesce(col("pageCount"), lit(0L)).as("pageCount"),
        coalesce(col("pageRows"), lit(0L)).as("pageRows"))
  }

  /** DashboardQueryLogic (core/query dashboard/DashboardSummary.java:15-80,
    * DashboardQueryLogic.java:46-57): aggregate a range of query-metric
    * events into ONE bucketed summary row — latency buckets (<3s, <10s,
    * <60s, ≥60s) and result-count buckets (0, <10K, <1M, ≥1M) counted only
    * for non-error queries (addQuery:43-67), selector-count buckets (≤1,
    * <16, <100, <1000, ≥1000) counted for all, plus running totals. The
    * metrics frame is driver-tiny; the agg is one pass, no shuffle. */
  def dashboardSummary(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    def bucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val ok = !col("error")
    val ms = col("elapsedMillis")
    val rr = col("resultRows")
    val sel = col("selectors")
    toDF(spark).agg(
      count(lit(1)).as("queryCount"),
      coalesce(sum(rr), lit(0L)).as("resultCount"),
      coalesce(sum(sel), lit(0L)).as("selectorCount"),
      bucket(col("error")).as("errorCount"),
      bucket(ok && ms < 3000).as("upTo3Sec"),
      bucket(ok && ms >= 3000 && ms < 10000).as("upTo10Sec"),
      bucket(ok && ms >= 10000 && ms < 60000).as("upTo60Sec"),
      bucket(ok && ms >= 60000).as("moreThan60Sec"),
      bucket(ok && rr === 0).as("zeroResults"),
      bucket(ok && rr > 0 && rr < 10000).as("upTo10KResults"),
      bucket(ok && rr >= 10000 && rr < 1000000).as("upTo1MResults"),
      bucket(ok && rr >= 1000000).as("upToINFResults"),
      bucket(sel <= 1).as("oneTerm"),
      bucket(sel > 1 && sel < 16).as("upTo16Terms"),
      bucket(sel >= 16 && sel < 100).as("upTo100Terms"),
      bucket(sel >= 100 && sel < 1000).as("upTo1000Terms"),
      bucket(sel >= 1000).as("upToInfTerms"))
  }
}

/** Paged query execution with per-page metrics and the long-running-query
  * short-circuit (RunningQuery + query.execution.page.timeout,
  * default.properties:250-258): each `nextPage()` emits a PageMetric; a
  * page slower than `pageTimeoutMillis` marks the run TIMEOUT and stops
  * issuing further pages (the reference returns the partial page it
  * assembled by the deadline — page granularity is the unit of progress
  * in both).
  */
final class RunningQuery(
    cursor: QueryCursor,
    queryId: String,
    df: DataFrame,
    orderCols: Seq[String],
    pageSize: Int,
    pageTimeoutMillis: Long = Long.MaxValue,
    startPage: Long = 0L,
    // where page metrics land: the JVM-wide ledger by default; the
    // QueryServer routes its pages into a lake-backed MetricsStore so
    // the ledger survives the process
    sink: PageMetric => Unit = QueryMetrics.recordPage,
    // run ordinal stamped on every recorded page (see PageMetric)
    val attempt: Long = 0L) {

  RunningQuery.checkOrder(df, orderCols)

  // startPage seeds the 1-based numbering when a restarted server
  // resumes a durable cursor mid-query: the next served page keeps its
  // true ordinal instead of restarting at 1
  private var pageNum = startPage

  /** Pages served so far (the `/query/list` position). */
  def pagesServed: Long = pageNum
  private var timedOut = false

  def isTimedOut: Boolean = timedOut

  /** Next page, or None when exhausted or short-circuited. */
  def nextPage(): Option[DataFrame] = {
    if (timedOut) return None
    val t0 = System.currentTimeMillis()
    val page = cursor.next(queryId, df, orderCols, pageSize)
    val rows = page.count()
    if (record(rows, t0) == 0) None else Some(page)
  }

  /** Next page COLLECTED to the driver as JSON rows, with the 1-based
    * page number — the serving path (QueryServer /query/next). One job
    * per page: returning the DataFrame would make the caller's collect
    * re-run the sorted offset/limit query a second time. */
  def nextPageJson(): Option[(Array[String], Long)] = {
    if (timedOut) return None
    val t0 = System.currentTimeMillis()
    val rows = cursor.next(queryId, df, orderCols, pageSize)
      .toJSON.collect() // bounded by pageSize
    if (record(rows.length, t0) == 0) None else Some((rows, pageNum))
  }

  /** Shared page bookkeeping: metric + timeout latch; returns `rows`.
    * The exhaustion probe (zero rows) is not a served page — it records
    * no metric and does not advance the page counter (so `pagesServed`
    * reports what was actually served), but it still arms the timeout
    * latch. */
  private def record(rows: Long, t0: Long): Long = {
    val dt = System.currentTimeMillis() - t0
    val status =
      if (dt > pageTimeoutMillis) { timedOut = true; "TIMEOUT" }
      else if (rows < pageSize) "PARTIAL"
      else "COMPLETE"
    if (rows > 0) {
      pageNum += 1
      sink(PageMetric(queryId, pageNum, rows, dt, status, attempt))
    }
    rows
  }

  /** Drive to completion (or short-circuit), returning pages served.
    *
    * Without timeout semantics this runs ONE counting job instead of a
    * sorted offset/limit job per page (the r13 verdict's service-tier
    * item; guide §1.2 — query_pages spent 57 driver-sequenced jobs on a
    * 5-page ledger): a page's `count()` over sort+offset+limit is exactly
    * `min(pageSize, remaining)` — the order decides WHICH rows are on a
    * page, never HOW MANY — so the per-page metric rows, statuses,
    * pagesServed and the durable cursor offsets (including the final
    * exhaustion probe's advance) are identical to the per-page drain,
    * pinned by RunningQuerySpec. A finite pageTimeoutMillis falls back to
    * the per-page drain: a mid-run short-circuit can only be observed by
    * timing real page jobs. Each page is timed from the end of the one
    * before it (the first carries the counting job), so the pages' times
    * add up to the run's. */
  def run(maxPages: Int = Int.MaxValue): Long = {
    if (pageTimeoutMillis != Long.MaxValue) return runPerPage(maxPages)
    var t0 = System.currentTimeMillis()
    var remaining = math.max(0L, df.count() - cursor.currentOffset(queryId))
    var served = 0L
    var continue = true
    while (continue && served < maxPages) {
      val rows = math.min(pageSize.toLong, remaining)
      cursor.advance(queryId, pageSize) // same durable state as cursor.next
      remaining -= rows
      if (record(rows, t0) == 0) continue = false else served += 1
      t0 = System.currentTimeMillis()
    }
    served
  }

  /** The per-page drain (one sorted offset/limit job per page) — the
    * timeout path, and the reference behavior [[run]] is pinned against. */
  private[query] def runPerPage(maxPages: Int = Int.MaxValue): Long = {
    var served = 0L
    var continue = true
    while (continue && served < maxPages) {
      nextPage() match {
        case Some(_) => served += 1
        case None => continue = false
      }
    }
    served
  }
}

object RunningQuery {
  /** Refuse order columns `df` does not have (case-insensitively), as an
    * IllegalArgumentException — before any page runs, and before a
    * caller caches the frame it is about to page. */
  def checkOrder(df: DataFrame, orderCols: Seq[String]): Unit = {
    val missing = orderCols.filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"unknown orderBy column(s): ${missing.mkString(", ")}")
  }
}
