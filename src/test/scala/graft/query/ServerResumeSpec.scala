package graft.query

import graft.SparkSpec
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Server-restart durability: a query's DEFINITION (properties beside
  * the cursor state) and its cursor OFFSET both live in stateDir, so a
  * brand-new server over the same stateDir resumes paging exactly where
  * the dead one stopped — the reference's query-storage-service story.
  * Close on the new server drops the durable state for good. */
class ServerResumeSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()
  private def get(url: String): HttpResponse[String] = client.send(
    HttpRequest.newBuilder(URI.create(url)).GET().build(),
    HttpResponse.BodyHandlers.ofString())
  private def post(url: String): HttpResponse[String] = client.send(
    HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.noBody()).build(),
    HttpResponse.BodyHandlers.ofString())

  test("a new server over the same stateDir resumes paging where the dead one stopped") {
    val stateDir =
      java.nio.file.Files.createTempDirectory("graft-resume").toString
    val df = (1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val tables = Map("t" -> df)

    val srv1 = new QueryServer(tables, stateDir = stateDir)
    val p1 = srv1.start()
    val created = post(s"http://127.0.0.1:$p1/query/create?table=t&query=" +
      java.net.URLEncoder.encode("ID >= 1", "UTF-8") + "&pageSize=10&orderBy=id")
    assert(created.statusCode() == 200, created.body())
    val id = "\"queryId\": \"([0-9a-f]+)\"".r
      .findFirstMatchIn(created.body()).get.group(1)
    val page1 = get(s"http://127.0.0.1:$p1/query/next?id=$id")
    assert("\"id\":(\\d+)".r.findAllMatchIn(page1.body())
      .map(_.group(1).toInt).toSeq == (1 to 10), page1.body().take(400))
    srv1.stop() // the process dies mid-query; sessions map is gone

    val srv2 = new QueryServer(tables, stateDir = stateDir)
    val p2 = srv2.start()
    try {
      // pages already served STAY served: the resumed cursor continues
      val page2 = get(s"http://127.0.0.1:$p2/query/next?id=$id")
      assert(page2.statusCode() == 200, page2.body())
      assert("\"id\":(\\d+)".r.findAllMatchIn(page2.body())
        .map(_.group(1).toInt).toSeq == (11 to 20), page2.body().take(400))
      // the resumed page keeps its TRUE ordinal (page 2), not page 1
      assert(page2.body().contains("\"page\": 2"), page2.body().take(200))
      // close drops the durable definition: a third server knows nothing
      assert(post(s"http://127.0.0.1:$p2/query/close?id=$id").statusCode() == 200)
      val srv3 = new QueryServer(tables, stateDir = stateDir)
      val p3 = srv3.start()
      try assert(get(s"http://127.0.0.1:$p3/query/next?id=$id").statusCode() == 404)
      finally srv3.stop()
      // lookup-style ids never persist: unknown ids still 404
      assert(get(s"http://127.0.0.1:$p2/query/next?id=deadbeef").statusCode() == 404)
    } finally srv2.stop()
  }

  test("a definition file in the original format resumes: owner, auths and paging position") {
    val stateDir =
      java.nio.file.Files.createTempDirectory("graft-resume-fmt").toString
    val df = (1 to 30).map(i => (i.toLong, if (i % 2 == 0) "A" else "B", "A"))
      .toDF("id", "grp", "visibility")
    val id = "0123456789abcdef0123456789abcdef"
    // exactly what the definition writer has always stored (keys in
    // Properties hash order, `=` escaped): one page of 5 served
    val props = Seq("#Sat Oct 17 21:06:20 UTC 2026", "owner=alice", "auths=A",
      "query=GRP \\=\\= 'A'", "offsetBase=5", "syntax=JEXL", "pageSize=5",
      "orderBy=id", "model=", "pagesServedBase=1", "attempt=0", "table=t")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateDir, "sessions"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stateDir, "sessions", s"$id.properties"),
      props.mkString("", "\n", "\n").getBytes("ISO-8859-1"))
    java.nio.file.Files.write(java.nio.file.Paths.get(stateDir, s"$id.offset"),
      "5".getBytes("UTF-8"))
    val srv = new QueryServer(Map("t" -> df), stateDir = stateDir,
      users = Map("alice" -> Set("A"), "bob" -> Set("A")))
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port/query"
      val got = get(s"$base/get?id=$id&user=alice")
      assert(got.statusCode() == 200 &&
        got.body().contains("\"query\": \"GRP == 'A'\"") &&
        got.body().contains("\"pagesServed\": 1"), got.body())
      // the stored owner still gates the query
      assert(get(s"$base/next?id=$id&user=bob").statusCode() == 401)
      val p2 = get(s"$base/next?id=$id&user=alice")
      assert(p2.statusCode() == 200, p2.body())
      assert("\"id\":(\\d+)".r.findAllMatchIn(p2.body())
        .map(_.group(1).toInt).toSeq == Seq(12, 14, 16, 18, 20),
        p2.body().take(400))
      assert(p2.body().contains("\"page\": 2"), p2.body().take(200))
    } finally {
      srv.stop()
      graft.core.Fs.deleteRecursively(stateDir)
    }
  }

  test("update: pageSize applies to subsequent pages; query text audits, re-plans, keeps position") {
    val df = (1 to 40).map(i => (i.toLong, if (i % 2 == 0) "A" else "B"))
      .toDF("id", "grp")
    val auditor = new Audit.CollectingAuditor
    val srv = new QueryServer(tables = Map("t" -> df),
      auditor = auditor, auditType = Audit.Active)
    val port = srv.start()
    try {
      def ids(body: String): Seq[Int] =
        "\"id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toInt).toSeq
      val created = post(s"http://127.0.0.1:$port/query/create?table=t&query=" +
        java.net.URLEncoder.encode("ID >= 1", "UTF-8") + "&pageSize=10&orderBy=id")
      val id = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(created.body()).get.group(1)
      assert(ids(get(s"http://127.0.0.1:$port/query/next?id=$id").body()) == (1 to 10))
      // pageSize shrinks for SUBSEQUENT pages, position kept, ordinal kept
      assert(post(s"http://127.0.0.1:$port/query/update?id=$id&pageSize=5")
        .statusCode() == 200)
      val p2 = get(s"http://127.0.0.1:$port/query/next?id=$id")
      assert(ids(p2.body()) == (11 to 15), p2.body().take(300))
      assert(p2.body().contains("\"page\": 2"), p2.body().take(200))
      // a query-TEXT change audits (new record) and re-plans; the durable
      // offset survives the swap (next page = offset 15 of the new result)
      val before = auditor.records.size
      assert(post(s"http://127.0.0.1:$port/query/update?id=$id&query=" +
        java.net.URLEncoder.encode("GRP == 'A'", "UTF-8")).statusCode() == 200)
      assert(auditor.records.size == before + 1 &&
        auditor.records.last.logicName == "update" &&
        auditor.records.last.selectors == Seq("A"))
      val p3 = get(s"http://127.0.0.1:$port/query/next?id=$id")
      // even ids 2..40 sorted = 20 rows; offset 15 -> rows 32,34,36,38,40
      assert(ids(p3.body()) == Seq(32, 34, 36, 38, 40), p3.body().take(300))
      // bad orderBy refuses without disturbing the session
      assert(post(s"http://127.0.0.1:$port/query/update?id=$id&orderBy=nope")
        .statusCode() == 400)
      assert(get(s"http://127.0.0.1:$port/query/next?id=$id").statusCode() == 204)
    } finally srv.stop()
  }

  test("service-verb hardening: SELECT-only cached SQL, id injection refused, translate truncation flagged") {
    val df = (1 to 30).map(i => (i.toLong, (i % 3).toLong)).toDF("id", "grp")
    val srv = new QueryServer(tables = Map("t" -> df),
      uuidTypes = Seq(LookupUUID.UuidType("GRP", logic = "t")))
    val port = srv.start()
    try {
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      // cached SQL: only SELECT/WITH, single statement
      val created = post(s"http://127.0.0.1:$port/query/create?table=t&query=" +
        enc("ID >= 1"))
      val id = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(created.body()).get.group(1)
      assert(post(s"http://127.0.0.1:$port/cachedresults/load?id=$id&alias=h1")
        .statusCode() == 200)
      assert(get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("SELECT count(*) AS c FROM h1")).statusCode() == 200)
      assert(get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("DROP VIEW h1")).statusCode() == 400)
      assert(get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("SELECT 1; SELECT 2")).statusCode() == 400)
      // WITH-prefixed DML parses in Spark's grammar — the plan gate
      // (not a head-keyword check) must refuse it
      val dml = get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("WITH x AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY " +
          "'/tmp/graft-pwn' USING parquet SELECT * FROM x"))
      assert(dml.statusCode() == 400 &&
        dml.body().contains("only SELECT"), dml.body())
      assert(get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("SET spark.sql.shuffle.partitions=1")).statusCode() == 400)
      // semicolons INSIDE string literals are legitimate
      assert(get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("SELECT count(*) AS c FROM h1 WHERE 'a;b' <> ''"))
        .statusCode() == 200)
      // a quote inside an id cannot break out of the LUCENE phrase
      val inj = get(s"http://127.0.0.1:$port/translateIDs?ids=" +
        enc("""1" OR GRP:"2"""))
      assert(inj.statusCode() == 400 &&
        inj.body().contains("invalid characters"), inj.body())
      // truncation is explicit, never silent: grp 1 has 10 rows
      val t1 = get(s"http://127.0.0.1:$port/translateIDs?ids=1&pageSize=4")
      assert(t1.body().contains("\"partial\": true") &&
        "\"id\":(\\d+)".r.findAllIn(t1.body()).size == 4, t1.body().take(300))
      val t2 = get(s"http://127.0.0.1:$port/translateIDs?ids=1&pageSize=50")
      assert(t2.body().contains("\"partial\": false"), t2.body().take(300))
    } finally srv.stop()
  }

  test("close of a durable-only session deletes the stored definition (no resurrect)") {
    val stateDir =
      java.nio.file.Files.createTempDirectory("graft-resume2").toString
    val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val tables = Map("t" -> df)
    val srv1 = new QueryServer(tables, stateDir = stateDir)
    val p1 = srv1.start()
    val created = post(s"http://127.0.0.1:$p1/query/create?table=t&query=" +
      java.net.URLEncoder.encode("ID >= 1", "UTF-8") + "&pageSize=5&orderBy=id")
    val id = "\"queryId\": \"([0-9a-f]+)\"".r
      .findFirstMatchIn(created.body()).get.group(1)
    srv1.stop() // restart BEFORE any page on the new server
    val srv2 = new QueryServer(tables, stateDir = stateDir)
    val p2 = srv2.start()
    try {
      // close with NO in-memory session must still find and delete the
      // durable definition (reference storage-service delete-on-close) —
      // not 404 — and nothing may resurrect the query afterwards
      assert(post(s"http://127.0.0.1:$p2/query/close?id=$id").statusCode() == 200)
      assert(get(s"http://127.0.0.1:$p2/query/next?id=$id").statusCode() == 404)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(stateDir, "sessions", s"$id.properties")))
      // a second close reports unknown
      assert(post(s"http://127.0.0.1:$p2/query/close?id=$id").statusCode() == 404)
    } finally srv2.stop()
  }

  test("cached SQL: only loaded aliases resolve; aliases are owned and drop on close") {
    val df = (1 to 20).map(i => (i.toLong, (i % 4).toLong)).toDF("id", "grp")
    val srv = new QueryServer(tables = Map("t" -> df))
    val port = srv.start()
    try {
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      def createQ(): String = {
        val c = post(s"http://127.0.0.1:$port/query/create?table=t&query=" +
          enc("ID >= 1"))
        "\"queryId\": \"([0-9a-f]+)\"".r.findFirstMatchIn(c.body()).get.group(1)
      }
      val id1 = createQ()
      assert(post(s"http://127.0.0.1:$port/cachedresults/load?id=$id1&alias=cr1")
        .statusCode() == 200)
      assert(get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("SELECT count(*) AS c FROM cr1")).statusCode() == 200)
      // a file-source relation is NOT a loaded alias: the server must not
      // become a window onto its own filesystem (runSQLOnFiles)
      val fs = get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("SELECT * FROM text.`/etc/hosts`"))
      assert(fs.statusCode() == 400 && fs.body().contains("unknown relation"),
        fs.body())
      // a temp view registered by some OTHER caller is equally invisible
      df.sparkSession.range(3).toDF("x").createOrReplaceTempView("foreign_view")
      val fv = get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("SELECT * FROM foreign_view"))
      assert(fv.statusCode() == 400 && fv.body().contains("unknown relation"),
        fv.body())
      // CTE names local to the statement resolve fine
      assert(get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("WITH w AS (SELECT grp FROM cr1) SELECT count(*) AS c FROM w"))
        .statusCode() == 200)
      // alias ownership: a different query cannot rebind a live alias…
      val id2 = createQ()
      assert(post(s"http://127.0.0.1:$port/cachedresults/load?id=$id2&alias=cr1")
        .statusCode() == 409)
      // …nor hijack it through the update verb without naming the
      // current owner (the CAS the load guard would otherwise lack)
      assert(post(s"http://127.0.0.1:$port/cachedresults/update?id=$id2&alias=cr1")
        .statusCode() == 409)
      assert(post(s"http://127.0.0.1:$port/cachedresults/update?id=$id2&alias=cr1" +
        s"&from=deadbeef").statusCode() == 409)
      // …but an explicit owner-naming update re-points it
      assert(post(s"http://127.0.0.1:$port/cachedresults/update?id=$id2&alias=cr1" +
        s"&from=$id1").statusCode() == 200)
      // getRows: 1-based inclusive slices over the view's stable order
      // partition the result (CachedResultsBean getRows)
      def slice(b: Int, e: Int): Seq[Int] = {
        val r = get(s"http://127.0.0.1:$port/cachedresults/getRows" +
          s"?alias=cr1&rowBegin=$b&rowEnd=$e")
        assert(r.statusCode() == 200, r.body())
        "\"id\":(\\d+)".r.findAllMatchIn(r.body()).map(_.group(1).toInt).toSeq
      }
      assert(slice(1, 8) == (1 to 8) && slice(9, 20) == (9 to 20))
      assert(slice(21, 30).isEmpty) // past the end: empty page, not error
      assert(get(s"http://127.0.0.1:$port/cachedresults/getRows?alias=nope")
        .statusCode() == 404)
      assert(get(s"http://127.0.0.1:$port/cachedresults/getRows" +
        "?alias=cr1&rowBegin=5&rowEnd=4").statusCode() == 400)
      // the alias now survives id1's close (id2 owns it)…
      assert(post(s"http://127.0.0.1:$port/query/close?id=$id1").statusCode() == 200)
      assert(get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("SELECT count(*) AS c FROM cr1")).statusCode() == 200)
      // …and drops with its owner (alias-scoped teardown)
      assert(post(s"http://127.0.0.1:$port/query/close?id=$id2").statusCode() == 200)
      assert(get(s"http://127.0.0.1:$port/cachedresults/sql?sql=" +
        enc("SELECT count(*) AS c FROM cr1")).statusCode() == 400)
    } finally srv.stop()
  }
}
