package graft.query

import graft.SparkSpec
import org.apache.spark.graftshim.Jobs
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

  /** `body` with DriverSet's ceiling set to `bytes`. */
  private def ceiling[A](bytes: String)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes)
    try body finally spark.conf.set(key, prev)
  }

  /** `body` with DriverSet's ceiling as the session sets it (held pages)
    * or turned off (one sorted offset/limit job per page). */
  private def paging[A](held: Boolean)(body: => A): A =
    if (held) body else ceiling("-1")(body)

  test("after a short page the exhaustion probe runs no job; offsets match the per-page drain") {
    // Held: the first call runs its page's job, the second the one
    // collect, every later call none; the held rows go with exhaustion.
    // Ceiling off, 25 rows: the third page is short, so the fourth call
    // is answered without a job; 30 rows: every page is full, so the
    // probe job runs.
    // (RDD-backed like a served, cached frame: Spark cannot bound its
    // row count, so it plans every offset page as a sorted top-k instead
    // of folding a page past a local frame's end into an empty one)
    for (held <- Seq(true, false);
         (n, pages, probeRuns) <- Seq((25, Seq(10, 10, 5), false),
                                      (30, Seq(10, 10, 10), true))) {
      val df = spark.sparkContext.parallelize(1 to n, 4).toDF("n")
      val paged = freshCursor()
      val rq = new RunningQuery(paged, "rqS", df, Seq("n"), pageSize = 10)
      // every page, the exhaustion probe, and one call past it
      val calls = paging(held)(Seq.fill(5) {
        val (page, jobs) = Jobs.count(spark.sparkContext)(rq.nextPageJson())
        (page, jobs, rq.holding)
      })
      assert(calls.map(_._1.fold(0)(_._1.length)) == pages ++ Seq(0, 0))
      val jobs = calls.map(_._2)
      val holding = calls.map(_._3)
      if (held) {
        assert(jobs == Seq(1, 1, 0, 0, 0), s"$n rows held: jobs per call $jobs")
        assert(holding == Seq(false, true, n == 30, false, false),
          s"$n rows: holding per call $holding")
      } else {
        assert(!holding.contains(true), s"$n rows: holding per call $holding")
        assert(jobs.take(3).forall(_ > 0), s"$n rows: jobs per call $jobs")
        assert((jobs(3) > 0) == probeRuns, s"$n rows: jobs per call $jobs")
        assert(jobs(4) == 0, s"$n rows: jobs per call $jobs")
      }
      // each call advanced the durable offset as the per-page drain does
      val ref = freshCursor()
      val refRq = new RunningQuery(ref, "rqS", df, Seq("n"), pageSize = 10)
      assert(refRq.runPerPage() == 3)
      assert(refRq.nextPage().isEmpty)
      assert(paged.currentOffset("rqS") == ref.currentOffset("rqS"))
      assert(paged.currentOffset("rqS") == 50L)
    }
  }

  /** Rows a hand comparator would misorder, in four partitions: nulls,
    * NaN, -0.0 and 0.0 in the first order columns, and strings whose
    * UTF-8 byte order is not Java's `String.compareTo` order (U+FFFD
    * sorts after the emoji's first UTF-16 char, before its UTF-8
    * bytes). `id` is unique, so each order has one right answer; the
    * JSON carries a date, an array, a map and a dotted column name. */
  private def awkward = {
    val names = Seq(None, Some("\uFFFD"), Some("\uD83D\uDE00"), Some("a"),
      Some("B"), Some("\u00E9"), None, Some("\uFFFD"), Some("a"), Some(""))
    val scores = Seq(Some(0.0), None, Some(-0.0), Some(Double.NaN), Some(1.5),
      Some(0.0), Some(-0.0), None, Some(Double.NaN), Some(Double.NegativeInfinity))
    (0 until 23).map { i =>
      (names(i % names.size), 100 - i * 7 % 23, scores((i * 3) % scores.size),
        java.sql.Date.valueOf(s"2026-0${1 + i % 9}-1${i % 10}"),
        Seq.tabulate(i % 3)(_ * i), Map(s"k$i" -> i), s"dot$i")
    }.toDF("name", "id", "score", "day", "arr", "m", "a.b").repartition(4)
  }

  /** Every page of `df` in `order` to exhaustion: per page its JSON rows,
    * number, status and the durable offset after it, and the jobs each
    * call ran. */
  private def drain(df: org.apache.spark.sql.DataFrame, order: Seq[String],
                    held: Boolean) = paging(held) {
    val cursor = freshCursor()
    val statuses = scala.collection.mutable.ArrayBuffer[String]()
    val rq = new RunningQuery(cursor, "par", df, order, pageSize = 3,
      sink = statuses += _.status)
    val calls = Iterator.continually(
      Jobs.count(spark.sparkContext)(rq.nextPageJson()) match {
        case (page, jobs) => (page.map { case (rows, n) =>
          (rows.toSeq, n, cursor.currentOffset("par")) }, jobs)
      }).takeWhile(_._1.nonEmpty).toList
    (calls.flatMap(_._1).zip(statuses).map { case ((r, n, o), st) => (r, n, st, o) },
      calls.map(_._2), cursor.currentOffset("par"))
  }

  test("held pages equal the per-page offset pages: order, JSON, numbers, statuses, offsets") {
    val df = awkward.persist()
    try for (order <- Seq(Seq("NAME", "Id"), Seq("SCORE", "ID"), Seq("A.B", "id"))) {
      val (held, heldJobs, heldEnd) = drain(df, order, held = true)
      val (paged, pagedJobs, pagedEnd) = drain(df, order, held = false)
      assert(heldJobs.drop(2).forall(_ == 0) && pagedJobs.forall(_ > 0),
        s"$order: held $heldJobs, per page $pagedJobs")
      assert(held.size == 8 && held.flatMap(_._1).size == 23, held.mkString("\n"))
      assert(held == paged, s"$order\nheld:\n${held.mkString("\n")}\nper page:\n${paged.mkString("\n")}")
      assert(heldEnd == pagedEnd)
      // both are the order Spark's own orderBy gives the frame
      val want = df.orderBy(order.map(c => col(s"`$c`")): _*).toJSON.collect().toSeq
      assert(held.flatMap(_._1) == want, s"$order: ${held.flatMap(_._1)}")
    } finally df.unpersist()
  }

  test("a result whose real bytes pass the ceiling pages per job, though its schema estimate fits") {
    // 40 rows of 4 KB text: ~160 KB of JSON, against a 40 KB ceiling
    // that Spark's per-row schema estimate (a string at 20 bytes) fits
    val df = spark.sparkContext.parallelize(1 to 40, 4)
      .map(i => (i, "x" * 4096 + i)).toDF("id", "text")
    assert(graft.core.DriverSet.rowBytes(df) * 40 * 2 < 40000)
    val (pages, jobs, _) = ceiling("40000")(drain(df, Seq("id"), held = true))
    // the second page's collect gives up over the ceiling, once
    assert(jobs == 1 +: 2 +: Seq.fill(12)(1), s"jobs per page $jobs")
    assert(pages.flatMap(_._1) == df.orderBy("id").toJSON.collect().toSeq)
  }

  test("over the ceiling a page is one top-k collect with no exchange, equal to the toJSON page") {
    import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = awkward.persist()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    df.count() // fill the cache outside the recorded pages
    spark.listenerManager.register(ql)
    // drain's job counting empties the listener bus that delivers plans
    val (pages, _, _) = try drain(df, Seq("name", "id"), held = false)
      finally spark.listenerManager.unregister(ql)
    import scala.jdk.CollectionConverters._
    def root(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => root(a.executedPlan)
      case s: QueryStageExec => root(s.plan) // the final result stage
      case p => p
    }
    val run = plans.asScala.toSeq.map(root)
    // one execution per page; the probe after the short last page runs none
    assert(run.size == pages.size, run.mkString("\n"))
    run.foreach { p =>
      assert(p.isInstanceOf[TakeOrderedAndProjectExec], p.treeString)
      assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty, p.treeString)
    }
    // the pages as the server used to serve them: toJSON over the offset page
    val ref = freshCursor()
    val want = Iterator.continually(
      ref.next("ref", df, Seq("name", "id"), 3).toJSON.collect().toSeq)
      .takeWhile(_.nonEmpty).toList
    assert(pages.map(_._1) == want)
    df.unpersist()
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
