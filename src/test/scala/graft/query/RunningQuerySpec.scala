package graft.query

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Per-page metrics + page-timeout short-circuit (RunningQuery,
  * QueryMetric.PageMetric, query.execution.page.timeout —
  * default.properties:250-258). */
class RunningQuerySpec extends SparkSpec {
  import spark.implicits._

  private def freshCursor() = new QueryCursor(
    java.nio.file.Files.createTempDirectory("rq").toString)

  test("run() pages to exhaustion with per-page metrics") {
    QueryMetrics.clear()
    val df = (1 to 25).toDF("n")
    val rq = new RunningQuery(freshCursor(), "rq1", df, Seq("n"), pageSize = 10)
    assert(rq.run() == 3)
    val pages = QueryMetrics.pagesDF(spark)
      .orderBy("pageNum")
      .select("pageNum", "rows", "status")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(pages.toSeq == Seq((1L, 10L, "COMPLETE"), (2L, 10L, "COMPLETE"),
      (3L, 5L, "PARTIAL")))
  }

  test("kill-and-resume at every page boundary reproduces the uninterrupted run") {
    // RebuildingScannerTestHelper analog for the one durable-state
    // component: tear the cursor instance down at EVERY page boundary,
    // resume from a brand-new instance over the same state dir, and the
    // concatenated pages must be byte-identical to an uninterrupted run.
    val df = (1 to 57).toDF("n").withColumn("v", col("n") * 2)
    val refDir = java.nio.file.Files.createTempDirectory("rq-ref").toString
    val ref = new QueryCursor(refDir)
    val unbroken = (1 to 6).flatMap(_ =>
      ref.next("q", df, Seq("n"), 10).collect().map(_.toSeq)).toList
    val chaosDir = java.nio.file.Files.createTempDirectory("rq-chaos").toString
    val resumed = (1 to 6).flatMap { _ =>
      val cursor = new QueryCursor(chaosDir) // prior instance discarded
      cursor.next("q", df, Seq("n"), 10).collect().map(_.toSeq)
    }.toList
    assert(resumed == unbroken)
    assert(resumed.size == 57) // every row exactly once — no loss, no dup
  }

  test("RunningQuery killed mid-pagination resumes to the same page set") {
    QueryMetrics.clear()
    val df = (1 to 34).toDF("n")
    val dir = java.nio.file.Files.createTempDirectory("rq-kill").toString
    val pages = scala.collection.mutable.ListBuffer[Seq[Int]]()
    def rows(p: Option[org.apache.spark.sql.DataFrame]): Seq[Int] =
      p.map(_.collect().map(_.getInt(0)).toSeq).getOrElse(Seq.empty)
    val first = new RunningQuery(new QueryCursor(dir), "rqk", df, Seq("n"),
      pageSize = 10)
    pages += rows(first.nextPage())
    pages += rows(first.nextPage())
    // "kill" the query: drop the RunningQuery AND its cursor instance;
    // only the durable offset file survives
    val second = new RunningQuery(new QueryCursor(dir), "rqk", df, Seq("n"),
      pageSize = 10)
    var page = second.nextPage()
    while (page.nonEmpty) { pages += rows(page); page = second.nextPage() }
    assert(pages.flatten.toList == (1 to 34).toList)
  }

  test("page timeout short-circuits further pages") {
    QueryMetrics.clear()
    val df = (1 to 100).toDF("n")
    // timeout of 0 ms: the first page always exceeds it
    val rq = new RunningQuery(freshCursor(), "rq2", df, Seq("n"),
      pageSize = 10, pageTimeoutMillis = 0)
    val first = rq.nextPage()
    assert(first.nonEmpty) // the partial page assembled by the deadline IS returned
    assert(rq.isTimedOut)
    assert(rq.nextPage().isEmpty) // short-circuit: no further pages
    val statuses = QueryMetrics.pagesDF(spark)
      .filter(col("queryId") === "rq2")
      .select("status").collect().map(_.getString(0))
    assert(statuses.toSeq == Seq("TIMEOUT"))
  }

  test("dashboard summary buckets latency, results, selectors; errors excluded") {
    QueryMetrics.clear()
    // (elapsed, rows, error, selectors): one per latency bucket, an error
    // that must leave latency/result buckets untouched, a zero-result hit
    Seq(
      QueryMetric("a", "q", "JEXL", 0, 100, 5, error = false, selectors = 1),
      QueryMetric("b", "q", "JEXL", 0, 5000, 20000, error = false, selectors = 2),
      QueryMetric("c", "q", "JEXL", 0, 30000, 2000000, error = false, selectors = 20),
      QueryMetric("d", "q", "JEXL", 0, 90000, 0, error = false, selectors = 200),
      QueryMetric("e", "q", "JEXL", 0, 50, 7, error = true, selectors = 2000))
      .foreach(QueryMetrics.record)
    val r = QueryMetrics.dashboardSummary(spark).collect()(0)
    def g(n: String): Long = r.getAs[Long](n)
    assert(g("queryCount") == 5 && g("errorCount") == 1)
    assert(g("upTo3Sec") == 1 && g("upTo10Sec") == 1 &&
      g("upTo60Sec") == 1 && g("moreThan60Sec") == 1)
    assert(g("zeroResults") == 1 && g("upTo10KResults") == 1 &&
      g("upTo1MResults") == 1 && g("upToINFResults") == 1)
    // selector buckets count error rows too (addQuery tail)
    assert(g("oneTerm") == 1 && g("upTo16Terms") == 1 && g("upTo100Terms") == 1 &&
      g("upTo1000Terms") == 1 && g("upToInfTerms") == 1)
    assert(g("resultCount") == 2020012 && g("selectorCount") == 2223)
    QueryMetrics.clear()
  }

  test("batched run() reproduces the per-page drain: metrics, pagesServed, cursor state") {
    QueryMetrics.clear()
    val df = (1 to 25).toDF("n")
    val dirA = java.nio.file.Files.createTempDirectory("rq-batched").toString
    val dirB = java.nio.file.Files.createTempDirectory("rq-paged").toString
    val ca = new QueryCursor(dirA)
    val cb = new QueryCursor(dirB)
    val servedA = new RunningQuery(ca, "rqA", df, Seq("n"), pageSize = 10).run()
    val servedB = new RunningQuery(cb, "rqB", df, Seq("n"), pageSize = 10)
      .runPerPage()
    assert(servedA == servedB)
    // identical durable offsets, INCLUDING the final exhaustion probe's
    // advance (a resumed cursor must behave the same either way)
    assert(ca.currentOffset("rqA") == cb.currentOffset("rqB"))
    def ledger(id: String) = QueryMetrics.pagesDF(spark)
      .filter(col("queryId") === id).orderBy("pageNum")
      .select("pageNum", "rows", "status")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(ledger("rqA") == ledger("rqB"))
    // maxPages cut-off parity: stop BEFORE exhaustion, no probe advance
    val ca2 = new QueryCursor(
      java.nio.file.Files.createTempDirectory("rq-batched2").toString)
    val cb2 = new QueryCursor(
      java.nio.file.Files.createTempDirectory("rq-paged2").toString)
    assert(new RunningQuery(ca2, "rqA2", df, Seq("n"), pageSize = 10).run(2) ==
      new RunningQuery(cb2, "rqB2", df, Seq("n"), pageSize = 10).runPerPage(2))
    assert(ca2.currentOffset("rqA2") == cb2.currentOffset("rqB2"))
    // a resumed cursor mid-query drains the remainder identically
    assert(new RunningQuery(ca2, "rqA2", df, Seq("n"), pageSize = 10,
      startPage = 2).run() ==
      new RunningQuery(cb2, "rqB2", df, Seq("n"), pageSize = 10,
        startPage = 2).runPerPage())
    assert(ca2.currentOffset("rqA2") == cb2.currentOffset("rqB2"))
    // each page is timed from the end of the one before it, so a
    // drain's page times add up to no more than the run's wall time
    val t0 = System.currentTimeMillis()
    assert(new RunningQuery(freshCursor(), "rqT", df, Seq("n"),
      pageSize = 10).run() == 3)
    val wall = System.currentTimeMillis() - t0
    val paged = QueryMetrics.pagesDF(spark).filter(col("queryId") === "rqT")
      .select("elapsedMillis").collect().map(_.getLong(0)).toSeq
    assert(paged.size == 3 && paged.sum <= wall, s"pages $paged, run $wall ms")
    QueryMetrics.clear()
  }

  test("zero-row exhaustion probe emits no page metric") {
    QueryMetrics.clear()
    val df = (1 to 10).toDF("n")
    val rq = new RunningQuery(freshCursor(), "rq3", df, Seq("n"), pageSize = 10)
    assert(rq.run() == 1)
    val pages = QueryMetrics.pagesDF(spark)
      .filter(col("queryId") === "rq3").collect()
    assert(pages.length == 1) // the full page only, not the empty probe
  }
}
