package graft.query

import graft.SparkSpec
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** Concurrency: parallel sessions over one live server — create,
  * duplicate, drain, close interleaving across threads. Pins the
  * share-lock contract (closing the ORIGINAL while its duplicate is
  * still draining must never corrupt the duplicate's pages — worst case
  * it de-caches them) and per-session isolation of cursor state and
  * page ledgers. The server runs its handlers on a worker pool, so these
  * requests really overlap; the later cases pin that, the per-session
  * paging monitor, and that stop() ends the pool. */
class ServerConcurrencySpec extends SparkSpec {
  import spark.implicits._

  test("six concurrent create/duplicate/drain/close lifecycles stay isolated and exact") {
    val df = (1 to 500).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "grp")
    val srv = new QueryServer(tables = Map("t" -> df))
    val port = srv.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val svc = new RemoteQueryService(s"http://127.0.0.1:$port")
      def drain(qid: String): Seq[Long] = {
        val out = Seq.newBuilder[Long]
        var page = svc.nextPage(qid)
        while (page.nonEmpty) {
          out ++= page.get.flatMap(r =>
            "\"id\":(\\d+)".r.findFirstMatchIn(r).map(_.group(1).toLong))
          page = svc.nextPage(qid)
        }
        out.result()
      }
      val tasks = (0 until 6).map { g =>
        pool.submit(new java.util.concurrent.Callable[(Int, Seq[Long], Seq[Long])] {
          override def call(): (Int, Seq[Long], Seq[Long]) = {
            val id = svc.createQuery("t", s"GRP == $g", pageSize = 37,
              orderBy = Seq("id"))
            val dup = svc.duplicate(id)
            val orig = drain(id)
            // close the ORIGINAL while the duplicate still has every
            // page ahead of it — the shared frame must stay usable
            svc.close(id)
            val dupRows = drain(dup)
            svc.close(dup)
            (g, orig, dupRows)
          }
        })
      }
      tasks.foreach { t =>
        val (g, orig, dupRows) = t.get()
        val expected = (1L to 500L).filter(_ % 7 == g)
        assert(orig == expected, s"grp $g original drain")
        assert(dupRows == expected, s"grp $g duplicate drain after source close")
      }
    } finally { pool.shutdownNow(); srv.stop() }
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private val idRe = "\"id\":(\\d+)".r
  private def pageOf(body: String): Long =
    "\"page\": (\\d+)".r.findFirstMatchIn(body).get.group(1).toLong

  /** `f(i)` on `n` threads at once; the results in thread order. */
  private def onThreads[A](n: Int)(f: Int => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    try (0 until n).map(i => pool.submit(new Callable[A] { def call(): A = f(i) }))
      .map(_.get(60, TimeUnit.SECONDS))
    finally pool.shutdownNow()
  }

  private def workerThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-http-") && t.isAlive).toSet

  test("two creates run their handlers at the same time") {
    val df = (1 to 20).map(i => (i.toLong, (i % 2).toLong)).toDF("id", "grp")
    // each audit waits for the other: on one dispatcher thread the first
    // create's audit times out, and an audit failure fails the create
    val met = new CountDownLatch(2)
    val auditor = new Audit.Auditor {
      def audit(rec: Audit.AuditRecord): Unit = {
        met.countDown()
        if (!met.await(10, TimeUnit.SECONDS))
          throw new IllegalStateException("the other create never reached its handler")
      }
    }
    val srv = new QueryServer(tables = Map("t" -> df), auditor = auditor,
      auditType = Audit.Active, metricsFlush = false)
    val svc = new RemoteQueryService(s"http://127.0.0.1:${srv.start()}")
    try onThreads(2)(_ => svc.httpStatus("POST",
        s"/query/create?table=t&query=${enc("GRP == 1")}"))
      .foreach { case (st, body) => assert(st == 200, body) }
    finally srv.stop()
  }

  test("four threads paging one session serve each page exactly once") {
    val df = (1 to 500).map(i => (i.toLong, (i % 3).toLong)).toDF("id", "grp")
    val srv = new QueryServer(tables = Map("t" -> df), metricsFlush = false)
    val svc = new RemoteQueryService(s"http://127.0.0.1:${srv.start()}")
    try {
      val id = svc.createQuery("t", "GRP == 1", pageSize = 17, orderBy = Seq("id"))
      val served = onThreads(4) { _ =>
        val out = Seq.newBuilder[(Long, Seq[Long])]
        var st = 200
        while (st == 200) {
          val (s, body) = svc.httpStatus("GET", s"/query/next?id=$id")
          st = s
          if (s == 200)
            out += pageOf(body) -> idRe.findAllMatchIn(body).map(_.group(1).toLong).toSeq
          else assert(s == 204, body)
        }
        out.result()
      }.flatten
      val expected = (1L to 500L).filter(_ % 3 == 1)
      assert(served.map(_._1).sorted == (1L to (expected.size + 16) / 17))
      assert(served.flatMap(_._2).sorted == expected)
      svc.close(id)
    } finally srv.stop()
  }

  test("a close racing a stream of nexts leaves no cursor or definition behind") {
    val df = (1 to 400).map(i => (i.toLong, (i % 3).toLong)).toDF("id", "grp")
    val stateDir = java.nio.file.Files.createTempDirectory("graft-close-race")
    val srv = new QueryServer(tables = Map("t" -> df),
      stateDir = stateDir.toString, metricsFlush = false)
    val svc = new RemoteQueryService(s"http://127.0.0.1:${srv.start()}")
    // a page's offset read and write are a few milliseconds apart, so
    // one race rarely lands a close between them: run several
    try (1 to 12).foreach { round =>
      val id = svc.createQuery("t", "GRP == 1", pageSize = 1, orderBy = Seq("id"))
      val paging = new CountDownLatch(3)
      val statuses = onThreads(4) {
        case 0 =>
          // close while pages are flowing, so that one is likely in flight
          paging.await(30, TimeUnit.SECONDS)
          Thread.sleep(round * 5L)
          Seq(svc.httpStatus("POST", s"/query/close?id=$id")._1)
        case _ =>
          val out = Seq.newBuilder[Int]
          var st = 200
          while (st == 200) {
            st = svc.httpStatus("GET", s"/query/next?id=$id")._1
            out += st
            paging.countDown()
          }
          out.result()
      }
      assert(statuses.head == Seq(200), s"close, round $round")
      assert(statuses.tail.flatten.forall(Set(200, 204, 404)), statuses)
      assert(!java.nio.file.Files.exists(stateDir.resolve(s"$id.offset")),
        s"a page wrote its offset after the close, round $round")
      assert(!java.nio.file.Files.exists(
        stateDir.resolve("sessions").resolve(s"$id.properties")))
      assert(svc.httpStatus("GET", s"/query/next?id=$id")._1 == 404)
    } finally srv.stop()
  }

  test("an update or reset racing a close leaves no definition behind") {
    val df = (1 to 200).map(i => (i.toLong, (i % 3).toLong)).toDF("id", "grp")
    val stateDir = java.nio.file.Files.createTempDirectory("graft-replace-race")
    val srv = new QueryServer(tables = Map("t" -> df),
      stateDir = stateDir.toString, metricsFlush = false)
    val svc = new RemoteQueryService(s"http://127.0.0.1:${srv.start()}")
    // a replacement registers the new session and then writes its
    // definition; a close landing between the two must not leave the
    // file behind for a later /query/next to resume
    try (1 to 12).foreach { round =>
      val id = svc.createQuery("t", "GRP == 1", pageSize = 5, orderBy = Seq("id"))
      val replacing = new CountDownLatch(3)
      val statuses = onThreads(4) {
        case 0 =>
          replacing.await(30, TimeUnit.SECONDS)
          Thread.sleep(round * 3L)
          Seq(svc.httpStatus("POST", s"/query/close?id=$id")._1)
        case t =>
          val out = Seq.newBuilder[Int]
          var (st, n) = (200, 0)
          // bounded: a close that did not take would keep these at 200
          while (st == 200 && n < 300) {
            st = svc.httpStatus("POST",
              if ((t + n) % 2 == 0) s"/query/reset?id=$id"
              else s"/query/update?id=$id&query=${enc(s"GRP == ${n % 3}")}")._1
            out += st
            n += 1
            replacing.countDown()
          }
          out.result()
      }
      assert(statuses.head == Seq(200), s"close, round $round")
      // a replacement never fails half-way: it applies, or finds no query
      assert(statuses.tail.flatten.forall(Set(200, 404)), statuses)
      assert(!java.nio.file.Files.exists(
        stateDir.resolve("sessions").resolve(s"$id.properties")),
        s"a replacement rewrote the definition after the close, round $round")
      assert(svc.httpStatus("GET", s"/query/next?id=$id")._1 == 404)
    } finally srv.stop()
  }

  test("closing a query that exported an alias keeps its sibling's frame cached") {
    val df = (1 to 60).map(i => (i.toLong, (i % 3).toLong)).toDF("id", "grp")
    val srv = new QueryServer(tables = Map("t" -> df), metricsFlush = false)
    val svc = new RemoteQueryService(s"http://127.0.0.1:${srv.start()}")
    def cachedRdds = spark.sparkContext.getPersistentRDDs.size
    try {
      val before = cachedRdds
      // one query twice: the two frames share one cache entry
      val a = svc.createQuery("t", "GRP == 1", pageSize = 5, orderBy = Seq("id"))
      val b = svc.createQuery("t", "GRP == 1", pageSize = 5, orderBy = Seq("id"))
      assert(svc.httpStatus("GET", s"/query/next?id=$b")._1 == 200)
      val cached = cachedRdds
      assert(cached > before)
      assert(svc.httpStatus("POST", s"/cachedresults/load?id=$a&alias=sib_a")._1 == 200)
      // the close drops a's alias view; b still pages the shared entry
      assert(svc.httpStatus("POST", s"/query/close?id=$a")._1 == 200)
      assert(cachedRdds == cached, "closing a de-cached its sibling's frame")
      svc.close(b)
      assert(cachedRdds == before)
    } finally srv.stop()
  }

  test("two sessions of one query under one registry user cache one frame") {
    val df = (1 to 60).map(i => (i.toLong, (i % 3).toLong, Seq("A", "A|B", "B")(i % 3)))
      .toDF("id", "grp", "visibility").repartition(2)
    val srv = new QueryServer(tables = Map("t" -> df),
      users = Map("alice" -> Set("A")), metricsFlush = false)
    val svc = new RemoteQueryService(s"http://127.0.0.1:${srv.start()}")
    def cachedRdds = spark.sparkContext.getPersistentRDDs.size
    def create(): String = {
      val (st, body) = svc.httpStatus("POST",
        s"/query/create?table=t&query=${enc("ID > 0")}&pageSize=7&orderBy=id&user=alice")
      assert(st == 200, body)
      "\"queryId\": \"([^\"]+)\"".r.findFirstMatchIn(body).get.group(1)
    }
    try {
      val before = cachedRdds
      val a = create()
      val b = create()
      // a frame's cached RDD materializes with its first page
      Seq(a, b).foreach(id =>
        assert(svc.httpStatus("GET", s"/query/next?id=$id&user=alice")._1 == 200))
      assert(cachedRdds == before + 1, "two sessions of one query cached two frames")
      Seq(a, b).foreach(svc.close(_, "alice"))
      assert(cachedRdds == before)
    } finally srv.stop()
  }

  test("stop() ends the worker threads of every server") {
    val df = (1 to 20).map(i => (i.toLong, (i % 2).toLong)).toDF("id", "grp")
    val baseline = workerThreads()
    val srvs = Seq.fill(2)(new QueryServer(tables = Map("t" -> df), metricsFlush = false))
    srvs.foreach { srv =>
      val svc = new RemoteQueryService(s"http://127.0.0.1:${srv.start()}")
      onThreads(2)(_ => svc.httpStatus("GET", "/query/list")._1)
        .foreach(st => assert(st == 200))
    }
    val mine = workerThreads() -- baseline
    assert(mine.nonEmpty)
    srvs.foreach(_.stop())
    val deadline = System.currentTimeMillis() + 10000
    while (mine.exists(_.isAlive) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(!mine.exists(_.isAlive), mine.filter(_.isAlive).map(_.getName))
    assert(workerThreads().size == baseline.size)
  }
}
