package graft.query

import graft.SparkSpec
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Integration test: a paged query driven END-TO-END over HTTP —
  * create → plan → next…next (204) → close, the QueryExecutorBean
  * lifecycle against a real in-process server + Spark session. */
class QueryServerSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def post(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())

  test("query lifecycle over HTTP: create, plan, page to 204, close") {
    val df = (1 to 25).map(i => (i.toLong, s"name_$i", if (i % 2 == 0) "A" else "B"))
      .toDF("id", "name", "grp")
    val srv = new QueryServer(tables = Map("people" -> df))
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port/query"

      // create: eager planning, pageSize 10, ordered by id
      val created = post(s"$base/create?table=people&query=" +
        java.net.URLEncoder.encode("GRP == 'A'", "UTF-8") +
        "&pageSize=10&orderBy=id")
      assert(created.statusCode() == 200, created.body())
      val queryId = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(created.body()).get.group(1)

      // plan: the executed physical plan text is exposed
      val plan = get(s"$base/plan?id=$queryId")
      assert(plan.statusCode() == 200)
      assert(plan.body().contains("InMemory") || plan.body().contains("Scan"),
        plan.body().take(500))
      // the canonical JEXL rendering of the query leads the response
      assert(plan.body().startsWith("JEXL: "), plan.body().take(200))

      // page 1: 10 rows, page 2: the remaining 2 (12 even ids ≤ 25),
      // page 3: 204 exhausted
      val p1 = get(s"$base/next?id=$queryId")
      assert(p1.statusCode() == 200)
      assert("\"id\":".r.findAllIn(p1.body()).size == 10, p1.body().take(500))
      assert(p1.body().contains(""""id":2,"""), p1.body().take(300))
      val p2 = get(s"$base/next?id=$queryId")
      assert("\"id\":".r.findAllIn(p2.body()).size == 2, p2.body().take(500))
      val p3 = get(s"$base/next?id=$queryId")
      assert(p3.statusCode() == 204)

      // metrics: both served pages are visible with row counts
      val m = get(s"$base/metrics?id=$queryId")
      assert(m.statusCode() == 200)
      assert(m.body().contains(""""rows": 10""") &&
        m.body().contains(""""rows": 2"""), m.body().take(500))

      // close drops the session; further nexts are 404
      assert(post(s"$base/close?id=$queryId").statusCode() == 200)
      assert(get(s"$base/next?id=$queryId").statusCode() == 404)

      // bad query fails at CREATE (the reference's createQuery contract)
      val bad = post(s"$base/create?table=people&query=" +
        java.net.URLEncoder.encode("NO_SUCH_FIELD == 'x'", "UTF-8"))
      assert(bad.statusCode() == 400, bad.body())
      assert(post(s"$base/create?table=nope&query=x").statusCode() == 404)

      // a malformed query string is a 400 on every kind of handler; raw
      // request lines, as a client-side URI parser refuses the escape
      def status(target: String): String = {
        val sock = new java.net.Socket("127.0.0.1", port)
        try {
          sock.getOutputStream.write((s"GET $target HTTP/1.1\r\n" +
            "Host: localhost\r\nConnection: close\r\n\r\n").getBytes("UTF-8"))
          new java.io.BufferedReader(new java.io.InputStreamReader(
            sock.getInputStream, "UTF-8")).readLine()
        } finally sock.close()
      }
      assert(status("/query/next?id=%zz").contains(" 400 "))
      assert(status("/query/execute?table=people&query=%zz").contains(" 400 "))
      assert(status("/mapreduce/getFile?jobId=%zz&fileName=x").contains(" 400 "))
    } finally srv.stop()
  }

  test("createAndNext: first page rides the create; empty result auto-closes with 204") {
    val df = (1 to 25).map(i => (i.toLong, s"name_$i", if (i % 2 == 0) "A" else "B"))
      .toDF("id", "name", "grp")
    val srv = new QueryServer(tables = Map("people" -> df))
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port/query"
      // hit path: queryId AND page 1 in one response; next continues
      val r = post(s"$base/createAndNext?table=people&query=" +
        java.net.URLEncoder.encode("GRP == 'A'", "UTF-8") +
        "&pageSize=10&orderBy=id")
      assert(r.statusCode() == 200, r.body())
      assert("\"id\":".r.findAllIn(r.body()).size == 10, r.body().take(500))
      val id = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(r.body()).get.group(1)
      val p2 = get(s"$base/next?id=$id")
      assert("\"id\":".r.findAllIn(p2.body()).size == 2, p2.body().take(500))
      assert(post(s"$base/close?id=$id").statusCode() == 200)
      // no-results path: 204, and the query is GONE — no session to
      // page or close (the reference's NoResultsQueryException → close)
      val none = post(s"$base/createAndNext?table=people&query=" +
        java.net.URLEncoder.encode("GRP == 'Z'", "UTF-8"))
      assert(none.statusCode() == 204, none.body())
      assert(get(s"$base/list").body() == "[]")
      // validation still fails like create does
      assert(post(s"$base/createAndNext?table=people&query=" +
        java.net.URLEncoder.encode("NO_SUCH_FIELD == 'x'", "UTF-8"))
        .statusCode() == 400)
    } finally srv.stop()
  }

  test("plan without create: validate + optimize, no session left behind") {
    val df = (1 to 5).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val srv = new QueryServer(tables = Map("people" -> df))
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port/query"
      val p = get(s"$base/plan?table=people&query=" +
        java.net.URLEncoder.encode("ID >= 3", "UTF-8"))
      assert(p.statusCode() == 200, p.body().take(300))
      assert(p.body().startsWith("JEXL: "), p.body().take(200))
      // planning is not creating: no session appears
      assert(get(s"$base/list").body() == "[]")
      // a bad query fails the plan call like it fails create
      assert(get(s"$base/plan?table=people&query=" +
        java.net.URLEncoder.encode("NOPE == 1", "UTF-8")).statusCode() == 400)
      assert(get(s"$base/plan?table=absent&query=x").statusCode() == 404)
      assert(get(s"$base/plan").statusCode() == 400)
      // model= resolves a stored model's aliases, as create does
      val who = java.net.URLEncoder.encode("WHO == 'n3'", "UTF-8")
      assert(post(s"http://127.0.0.1:$port/model/import?name=M3&mappings=" +
        java.net.URLEncoder.encode("WHO:NAME:FORWARD", "UTF-8"))
        .statusCode() == 200)
      assert(get(s"$base/plan?table=people&query=$who").statusCode() == 400)
      val pm = get(s"$base/plan?table=people&model=M3&query=$who")
      assert(pm.statusCode() == 200 && pm.body().startsWith("JEXL: "),
        pm.body().take(300))
      assert(get(s"$base/list").body() == "[]")
    } finally srv.stop()
  }

  test("define/execute/get/predictions/remove round out the executor verbs") {
    val df = (1 to 25).map(i => (i.toLong, s"name_$i", if (i % 2 == 0) "A" else "B"))
      .toDF("id", "name", "grp")
    val srv = new QueryServer(tables = Map("people" -> df))
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port/query"
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      // define: definition persists, NO session exists yet
      val defd = post(s"$base/define?table=people&query=${enc("GRP == 'A'")}" +
        "&pageSize=10&orderBy=id")
      assert(defd.statusCode() == 200, defd.body())
      val id = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(defd.body()).get.group(1)
      assert(get(s"$base/list").body() == "[]")
      // a bad define fails validation eagerly
      assert(post(s"$base/define?table=people&query=${enc("NOPE == 1")}")
        .statusCode() == 400)
      // get: the stored definition is readable before any execution
      val gd = get(s"$base/get?id=$id")
      assert(gd.statusCode() == 200 && gd.body().contains("GRP =="),
        gd.body())
      // first next resumes the defined query and pages from row 1
      val p1 = get(s"$base/next?id=$id")
      assert(p1.statusCode() == 200)
      assert("\"id\":".r.findAllIn(p1.body()).size == 10, p1.body().take(400))
      assert(p1.body().contains(""""id":2,"""), p1.body().take(300))
      // predictions for the created query answer (plan-stats predictor)
      val pr = get(s"$base/predictions?id=$id")
      assert(pr.statusCode() == 200 && pr.body().contains("hasResults"),
        pr.body().take(300))
      // remove: close + definition gone — next is 404, get is 404
      assert(post(s"$base/remove?id=$id").statusCode() == 200)
      assert(get(s"$base/next?id=$id").statusCode() == 404)
      assert(get(s"$base/get?id=$id").statusCode() == 404)
      // execute: one streamed response with ALL rows, nothing left over
      val exe = post(s"$base/execute?table=people&query=${enc("GRP == 'A'")}" +
        "&orderBy=id")
      assert(exe.statusCode() == 200, exe.body().take(300))
      assert("\"id\":".r.findAllIn(exe.body()).size == 12, exe.body().take(600))
      assert(get(s"$base/list").body() == "[]")
      assert(post(s"$base/execute?table=people&query=${enc("NOPE == 1")}")
        .statusCode() == 400)
    } finally srv.stop()
  }

  test("model CRUD verbs: import/get/clone/insert/delete with the " +
      "reference's status codes, and model= resolves stored models") {
    val df = Seq((1L, "alice", "EAST", 100L), (2L, "bob", "WEST", 200L),
      (3L, "carol", "EAST", 300L)).toDF("id", "name", "region", "bal")
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft-model-spec").toString
    val srv = new QueryServer(tables = Map("people" -> df),
      stateDir = stateDir)
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port"
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      // empty store lists empty
      assert(get(s"$base/model/list").body() == """{"names": []}""")
      // import M1: AREA→REGION forward, display→BAL reverse
      val maps = enc("AREA:REGION:FORWARD;display_bal:BAL:REVERSE")
      assert(post(s"$base/model/import?name=M1&mappings=$maps")
        .statusCode() == 200)
      // re-import → 412 precondition failed (exists; delete first)
      assert(post(s"$base/model/import?name=M1&mappings=$maps")
        .statusCode() == 412)
      // reserved record-kind name → 400
      assert(post(s"$base/model/import?name=edge&mappings=$maps")
        .statusCode() == 400)
      // get: mappings round-trip; unknown → 404
      val got = get(s"$base/model/get?name=M1")
      assert(got.statusCode() == 200 &&
        got.body().contains("\"alias\": \"AREA\"") &&
        got.body().contains("\"direction\": \"REVERSE\""), got.body())
      assert(get(s"$base/model/get?name=NOPE").statusCode() == 404)
      // clone → M2, insert an extra alias into M2 only
      assert(post(s"$base/model/clone?name=M1&newName=M2")
        .statusCode() == 200)
      assert(post(s"$base/model/insert?name=M2&mappings=" +
        enc("WHO:NAME:FORWARD")).statusCode() == 200)
      // delete M1 (404 on a second delete)
      assert(post(s"$base/model/delete?name=M1").statusCode() == 200)
      assert(post(s"$base/model/delete?name=M1").statusCode() == 404)
      assert(get(s"$base/model/list").body() == """{"names": ["M2"]}""")
      // a query under the stored model: aliases resolve, reverse renames
      val exe = post(s"$base/query/execute?table=people&model=M2" +
        s"&query=${enc("AREA == 'EAST' && WHO =~ '.*a.*'")}&orderBy=id")
      assert(exe.statusCode() == 200, exe.body().take(300))
      assert(exe.body().contains("\"display_bal\":100") &&
        exe.body().contains("\"display_bal\":300") &&
        !exe.body().contains("bob"), exe.body().take(500))
      // M1 is gone → the model param refuses the query
      assert(post(s"$base/query/execute?table=people&model=M1" +
        s"&query=${enc("AREA == 'EAST'")}").statusCode() == 400)
      // a query-TEXT update re-plans under the session's model
      val made = post(s"$base/query/create?table=people&model=M2" +
        s"&query=${enc("AREA == 'EAST'")}&pageSize=10&orderBy=id")
      assert(made.statusCode() == 200, made.body())
      val madeId = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(made.body()).get.group(1)
      val upd = post(s"$base/query/update?id=$madeId" +
        s"&query=${enc("AREA == 'WEST'")}")
      assert(upd.statusCode() == 200, upd.body())
      val west = get(s"$base/query/next?id=$madeId")
      assert(west.statusCode() == 200 &&
        west.body().contains("\"display_bal\":200"), west.body().take(300))
      // a model-bound definition survives a server RESTART: the model
      // store and the definition are both durable under stateDir
      val defd = post(s"$base/query/define?table=people&model=M2" +
        s"&query=${enc("AREA == 'WEST'")}&pageSize=10&orderBy=id")
      assert(defd.statusCode() == 200, defd.body())
      val defId = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(defd.body()).get.group(1)
      srv.stop()
      val srv2 = new QueryServer(tables = Map("people" -> df),
        stateDir = stateDir)
      val port2 = srv2.start()
      try {
        val p1 = get(s"http://127.0.0.1:$port2/query/next?id=$defId")
        assert(p1.statusCode() == 200, p1.body().take(300))
        assert(p1.body().contains("\"display_bal\":200"), p1.body().take(300))
        // the restarted server's store sees the same models
        assert(get(s"http://127.0.0.1:$port2/model/list").body()
          == """{"names": ["M2"]}""")
      } finally srv2.stop()
    } finally {
      try srv.stop() catch { case _: Exception => () }
      graft.core.Fs.deleteRecursively(stateDir)
    }
  }

  test("modification service: request-class, role and mutability checks " +
      "gate submit; reloadCache swaps the mutable-field list atomically") {
    val long = Seq(
      ("12", "event", java.sql.Date.valueOf("2024-01-05"), "", "event_type",
        "", "click"),
      ("12", "event", java.sql.Date.valueOf("2024-01-05"), "", "color",
        "", "red"))
      .toDF("uid", "datatype", "shard_date", "visibility", "field",
        "group", "value")
    @volatile var mutablePairs = Seq(("event", "event_type"))
    val cfg = ModificationRegistry.ServiceConfig(
      "MutableMetadataUpdateService", "edits with history",
      "DefaultModificationRequest", Seq("AuthorizedUser"))
    val purge = ModificationRegistry.ServiceConfig(
      "PurgeService", "history-free removal",
      "DefaultModificationRequest", Seq("Administrator"),
      insertHistory = false)
    val srv = new QueryServer(Map("ev" -> long),
      modificationServices = Seq(cfg, purge),
      mutableFields = () => mutablePairs)
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port/modification"
      val ok = "service=MutableMetadataUpdateService" +
        "&requestClass=DefaultModificationRequest&roles=AuthorizedUser" +
        "&table=ev&mode=DELETE&uid=12&datatype=event&field=event_type"
      // the four refusals, in the reference's order of checks
      assert(post(s"$base/submit?${ok.replace("MutableMetadataUpdateService",
        "NopeService")}").statusCode() == 404)
      assert(post(s"$base/submit?${ok.replace("DefaultModificationRequest",
        "WrongRequest")}").statusCode() == 400)
      assert(post(s"$base/submit?${ok.replace("AuthorizedUser",
        "SomeOtherRole")}").statusCode() == 401)
      assert(post(s"$base/submit?${ok.replace("field=event_type",
        "field=color")}").statusCode() == 400) // not in the mutable list
      // a history-free service treats all fields as mutable
      // (MutableMetadataHandler.java:341-344) — same field succeeds
      assert(post(s"$base/submit?service=PurgeService" +
        "&requestClass=DefaultModificationRequest&roles=Administrator" +
        "&table=ev&mode=DELETE&uid=12&datatype=event&field=color")
        .statusCode() == 200)
      // the good submit lands and the SERVED table reflects it
      assert(post(s"$base/submit?$ok").statusCode() == 200)
      val exe = post(s"http://127.0.0.1:$port/query/execute?table=ev" +
        s"&query=${java.net.URLEncoder.encode("UID == '12'", "UTF-8")}")
      assert(!exe.body().contains("click") && !exe.body().contains("red"),
        exe.body().take(400))
      // reload: the swapped list takes effect for the NEXT submit
      mutablePairs = Seq(("event", "color"))
      assert(get(s"$base/getMutableFieldList").body()
        .contains("event_type"))
      val reloaded = get(s"$base/reloadCache")
      assert(reloaded.body().contains("color") &&
        !reloaded.body().contains("event_type"), reloaded.body())
    } finally srv.stop()
  }

  test("lookupUUID over HTTP: first page rides the create, next continues") {
    val df = (1 to 30).map(i => (i.toLong, s"u$i")).toDF("id", "uuid")
    val srv = new QueryServer(tables = Map("people" -> df),
      uuidTypes = Seq(LookupUUID.UuidType("UUID", logic = "people"),
        LookupUUID.UuidType("ID", logic = "people")))
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port"
      // batched two-term lookup, page size 1 → first page inline,
      // second page via the normal /query/next lifecycle
      val r = get(s"$base/lookupUUID?terms=UUID:u7,ID:9&pageSize=1")
      assert(r.statusCode() == 200, r.body())
      assert("\"id\":".r.findAllIn(r.body()).size == 1, r.body())
      val queryId = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(r.body()).get.group(1)
      val p2 = get(s"$base/query/next?id=$queryId")
      assert(p2.statusCode() == 200)
      assert("\"id\":".r.findAllIn(p2.body()).size == 1, p2.body())
      assert(get(s"$base/query/next?id=$queryId").statusCode() == 204)

      // unregistered type and malformed terms are 400s
      assert(get(s"$base/lookupUUID?terms=NOPE:1").statusCode() == 400)
      assert(get(s"$base/lookupUUID?terms=UUIDu7").statusCode() == 400)
      assert(get(s"$base/lookupUUID").statusCode() == 400)
    } finally srv.stop()
  }

  test("lifecycle management: list, duplicate, reset, cancel, listQueryLogic") {
    val df = (1 to 25).map(i => (i.toLong, if (i % 2 == 0) "A" else "B"))
      .toDF("id", "grp")
    val srv = new QueryServer(tables = Map("people" -> df))
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port/query"
      assert(get(s"$base/listQueryLogic").body() == "[\"people\"]")
      val created = post(s"$base/create?table=people&query=" +
        java.net.URLEncoder.encode("GRP == 'A'", "UTF-8") +
        "&pageSize=5&orderBy=id")
      val id = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(created.body()).get.group(1)
      get(s"$base/next?id=$id") // serve one page
      // list shows the session with its paging position
      val listed = get(s"$base/list").body()
      assert(listed.contains(id) && listed.contains("\"pagesServed\": 1"),
        listed)
      // duplicate: NEW id, page 1 equals the original's page 1
      val dup = post(s"$base/duplicate?id=$id")
      val dupId = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(dup.body()).get.group(1)
      assert(dupId != id)
      val origP1 = "\"id\":\\d+".r.findAllIn(
        get(s"$base/next?id=$dupId").body()).toSeq
      assert(origP1 == Seq("\"id\":2", "\"id\":4", "\"id\":6", "\"id\":8",
        "\"id\":10"), origP1)
      // reset: SAME id, next page is page 1 again, and the old run's
      // page ledger is gone (no colliding page numbers)
      assert(post(s"$base/reset?id=$id").statusCode() == 200)
      val resetP1 = "\"id\":\\d+".r.findAllIn(
        get(s"$base/next?id=$id").body()).toSeq
      assert(resetP1 == origP1, resetP1)
      val metricPages = "\"page\": \\d+".r.findAllIn(
        get(s"$base/metrics?id=$id").body()).toSeq
      assert(metricPages == Seq("\"page\": 1"), metricPages)
      // cancel releases the session; duplicate of a canceled id is a 404
      assert(post(s"$base/cancel?id=$id").statusCode() == 200)
      assert(get(s"$base/next?id=$id").statusCode() == 404)
      assert(post(s"$base/duplicate?id=$id").statusCode() == 404)
      // the duplicate session is unaffected
      assert(get(s"$base/next?id=$dupId").statusCode() == 200)
    } finally srv.stop()
  }

  test("lookupContentUUID chases hits into the stored-document fetch") {
    val docs = Seq((7L, "seven text"), (8L, "eight text")).toDF("doc_id", "text")
    val content = graft.content.ContentStore.contentTable(docs)
    val srv = new QueryServer(
      tables = Map("docs" -> docs, "content" -> content),
      uuidTypes = Seq(LookupUUID.UuidType("DOC_ID", logic = "docs")))
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port"
      val r = get(s"$base/lookupContentUUID?terms=DOC_ID:7&uidField=doc_id")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("seven text") && !r.body().contains("eight text"))
      assert(get(s"$base/lookupContentUUID?terms=NOPE:1").statusCode() == 400)
    } finally srv.stop()
  }

  test("lookupUID over HTTP fetches stored documents without an event query") {
    val docs = Seq((7L, "seven text"), (8L, "eight text"), (9L, "nine text"))
      .toDF("doc_id", "text")
    val content = graft.content.ContentStore.contentTable(docs)
    val srv = new QueryServer(tables = Map("content" -> content))
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port"
      val r = get(s"$base/lookupUID?uids=7,9&pageSize=10")
      assert(r.statusCode() == 200, r.body())
      assert("\"uid\":".r.findAllIn(r.body()).size == 2, r.body())
      assert(r.body().contains("seven text") && r.body().contains("nine text"))
      // missing uids param is a 400; no content table is a 404
      assert(get(s"$base/lookupUID").statusCode() == 400)
      val bare = new QueryServer(tables = Map.empty)
      val p2 = bare.start()
      try assert(get(s"http://127.0.0.1:$p2/lookupUID?uids=1").statusCode() == 404)
      finally bare.stop()
    } finally srv.stop()
  }

  test("remote query logic reproduces the direct result over HTTP") {
    val df = (1 to 37).map(i => (i.toLong, s"n_$i", if (i % 3 == 0) "X" else "Y"))
      .toDF("id", "name", "grp")
    val srv = new QueryServer(tables = Map("people" -> df))
    val port = srv.start()
    try {
      val svc = new RemoteQueryService(s"http://127.0.0.1:$port")
      // pageSize 5 forces multiple remote pages (12 X rows → 3 pages)
      val remote = RemoteQueryLogic.query(spark, svc, "people",
          "GRP == 'X'", pageSize = 5, orderBy = Seq("id"))
        .select("id", "name", "grp")
      val direct = df.filter($"grp" === "X").select("id", "name", "grp")
      assert(remote.exceptAll(direct).isEmpty && direct.exceptAll(remote).isEmpty)
      // a remote leg composes with Composite like a local one; the JSON
      // transport erases non-null guarantees, so the local leg aligns
      // nullability (the reference's composite likewise requires
      // delegates to agree on the response class)
      val localLeg = spark.createDataFrame(
        direct.select($"id").rdd, remote.select($"id").schema)
      val merged = Composite.union(Seq(
        "local" -> localLeg, "remote" -> remote.select($"id")))
      assert(merged.count() == 24)
    } finally srv.stop()
  }

  test("remote create failure surfaces as an exception, not an empty frame") {
    val srv = new QueryServer(tables = Map.empty)
    val port = srv.start()
    try {
      val svc = new RemoteQueryService(s"http://127.0.0.1:$port")
      val e = intercept[IllegalStateException] {
        RemoteQueryLogic.query(spark, svc, "nope", "A == 'b'")
      }
      assert(e.getMessage.contains("remote create failed"))
    } finally srv.stop()
  }

  test("splitTopLevel respects nested structures and brackets inside strings") {
    val svc = new RemoteQueryService("http://unused")
    val parts = svc.splitTopLevel(
      """[{"a": [1, 2], "b": {"c": "}]"}}, {"d": "\" , [", "e": 5}]""")
    assert(parts == Seq("""{"a": [1, 2], "b": {"c": "}]"}}""",
      """{"d": "\" , [", "e": 5}"""))
  }

  test("accepted modification submits survive a server restart over the same stateDir") {
    val mk = () => Seq(
      ("12", "event", java.sql.Date.valueOf("2024-01-05"), "", "event_type",
        "", "click"))
      .toDF("uid", "datatype", "shard_date", "visibility", "field",
        "group", "value")
    val cfg = ModificationRegistry.ServiceConfig(
      "MutableMetadataUpdateService", "edits with history",
      "DefaultModificationRequest", Seq("AuthorizedUser"))
    val stateDir =
      java.nio.file.Files.createTempDirectory("graft-modlog").toString
    def server() = new QueryServer(Map("ev" -> mk()), stateDir = stateDir,
      modificationServices = Seq(cfg),
      mutableFields = () => Seq(("event", "event_type")),
      metricsFlush = false)
    val srv1 = server()
    val port1 = srv1.start()
    try {
      assert(post(s"http://127.0.0.1:$port1/modification/submit?" +
        "service=MutableMetadataUpdateService" +
        "&requestClass=DefaultModificationRequest&roles=AuthorizedUser" +
        "&table=ev&mode=UPDATE&uid=12&datatype=event&field=event_type" +
        "&oldValue=click&newValue=corrected&shardDate=2024-01-05" +
        "&user=alice&ts=1700000000000").statusCode() == 200)
    } finally srv1.stop()
    // a NEW server over the same stateDir serves the EDITED table (the
    // reference writes through to the shard table; here the durable
    // edit log replays at construction)
    val srv2 = server()
    val port2 = srv2.start()
    try {
      val svc = new RemoteQueryService(s"http://127.0.0.1:$port2")
      val body = svc.http0("POST", "/query/execute?table=ev&query=" +
        java.net.URLEncoder.encode("FIELD == 'event_type'", "UTF-8"))
      assert(body.contains("corrected") && !body.contains("click"), body)
      // the HISTORY trail replayed too
      val hist = svc.http0("POST", "/query/execute?table=ev&query=" +
        java.net.URLEncoder.encode("FIELD == 'HISTORY_event_type'", "UTF-8"))
      assert(hist.contains("1700000000000:alice:click:delete"), hist)
    } finally srv2.stop()
  }

  test("/query/get and /query/predictions on a defined query leave NO session behind") {
    val df = (1 to 9).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val srv = new QueryServer(Map("t" -> df), metricsFlush = false)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port"
    try {
      val defBody = post(s"$base/query/define?table=t&query=" +
        java.net.URLEncoder.encode("ID > 3", "UTF-8")).body()
      val id = "\"queryId\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(defBody).get.group(1)
      val g = get(s"$base/query/get?id=$id")
      assert(g.statusCode() == 200 && g.body().contains("\"table\": \"t\""),
        g.body())
      val p = get(s"$base/query/predictions?id=$id")
      assert(p.statusCode() == 200, p.body())
      // the two READ verbs must not have resumed a session: the defined
      // query stays absent from the active list (define's contract)
      assert(!get(s"$base/query/list").body().contains(id))
    } finally srv.stop()
  }

  test("model names are one case-insensitive namespace (the loader matches case-insensitively)") {
    val df = Seq((1L, "a")).toDF("c_custkey", "c_name")
    val srv = new QueryServer(Map("customer" -> df), metricsFlush = false)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port/model"
    try {
      assert(post(s"$base/import?name=TPCH&mappings=KEY:C_CUSTKEY:FORWARD")
        .statusCode() == 200)
      // a lowercase respelling is the SAME model: import collides (412),
      // get resolves (200)
      assert(post(s"$base/import?name=tpch&mappings=X:Y:FORWARD")
        .statusCode() == 412)
      assert(get(s"$base/get?name=tpch").statusCode() == 200)
      // inserts under the respelling land under the stored spelling —
      // the loader can never see two half-models merge
      assert(post(s"$base/insert?name=tpch&mappings=NAME:C_NAME:FORWARD")
        .statusCode() == 200)
      val got = get(s"$base/get?name=TPCH").body()
      assert(got.contains("C_CUSTKEY") && got.contains("C_NAME"), got)
      assert(!got.contains("\"tpch\""), got)
      // delete by respelling removes the whole model
      assert(post(s"$base/delete?name=Tpch").statusCode() == 200)
      assert(get(s"$base/get?name=TPCH").statusCode() == 404)
    } finally srv.stop()
  }

  test("cachedresults async load + status + create-from-alias, with alias-scoped teardown") {
    val df = (1 to 40).map(i => (i.toLong, if (i % 2 == 0) "A" else "B"))
      .toDF("id", "grp")
    val srv = new QueryServer(Map("t" -> df), metricsFlush = false)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port"
    val enc = (v: String) => java.net.URLEncoder.encode(v, "UTF-8")
    try {
      val body = post(s"$base/query/create?table=t&query=" +
        enc("ID > 10") + "&orderBy=id").body()
      val id = "\"queryId\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(body).get.group(1)
      // unknown alias → 404 before anything loads
      assert(get(s"$base/cachedresults/status?alias=cr_async").statusCode() == 404)
      assert(post(s"$base/cachedresults/loadAsync?id=$id&alias=cr_async")
        .statusCode() == 200)
      // poll to LOADED (412 = the reference's "not yet loaded")
      var st = 412
      val deadline = System.currentTimeMillis() + 30000
      while (st != 200 && System.currentTimeMillis() < deadline) {
        st = get(s"$base/cachedresults/status?alias=cr_async").statusCode()
        assert(st == 200 || st == 412, st.toString)
        if (st != 200) Thread.sleep(100)
      }
      assert(st == 200)
      // the loaded view serves SQL like a synchronous load
      val rows = get(s"$base/cachedresults/sql?sql=" +
        enc("SELECT count(*) AS n FROM cr_async")).body()
      assert(rows.contains("\"n\":30"), rows)
      // create-from-alias: aggregates via fields+grouping; 412 when the
      // source alias is not loaded; derived views guard like sql
      assert(post(s"$base/cachedresults/create?alias=nope&view=v2")
        .statusCode() == 412)
      assert(post(s"$base/cachedresults/create?alias=cr_async&view=cr_agg" +
        s"&fields=${enc("grp, count(*) AS n")}&grouping=grp&order=grp")
        .statusCode() == 200)
      val agg = get(s"$base/cachedresults/sql?sql=" +
        enc("SELECT grp, n FROM cr_agg ORDER BY grp")).body()
      assert(agg.contains("\"grp\":\"A\"") && agg.contains("\"n\":15"), agg)
      // conditions cannot smuggle an unloaded relation or a mutation
      assert(post(s"$base/cachedresults/create?alias=cr_async&view=evil" +
        s"&conditions=${enc("id IN (SELECT id FROM some_other_view)")}")
        .statusCode() == 400)
      // the LOADING window: the alias is CAS-reserved but the temp view
      // is not yet registered — the data verbs must answer the status
      // verb's 412 precondition, not a raw resolution failure
      srv.loadedAliases.put("cr_midload", id)
      srv.asyncLoads.put("cr_midload", "LOADING")
      assert(get(s"$base/cachedresults/sql?sql=" +
        enc("SELECT * FROM cr_midload")).statusCode() == 412)
      assert(get(s"$base/cachedresults/getRows?alias=cr_midload")
        .statusCode() == 412)
      assert(post(s"$base/cachedresults/create?alias=cr_midload&view=v9")
        .statusCode() == 412)
      // a failed load (alias released, ERROR recorded) answers 500 with
      // the recorded error, until a retried synchronous load clears it
      srv.loadedAliases.remove("cr_midload")
      srv.asyncLoads.put("cr_midload", "ERROR:boom")
      val failed = get(s"$base/cachedresults/getRows?alias=cr_midload")
      assert(failed.statusCode() == 500 && failed.body().contains("boom"),
        failed.body())
      assert(post(s"$base/cachedresults/load?id=$id&alias=cr_midload")
        .statusCode() == 200)
      assert(get(s"$base/cachedresults/status?alias=cr_midload")
        .statusCode() == 200)
      assert(get(s"$base/cachedresults/getRows?alias=cr_midload&rowEnd=1")
        .statusCode() == 200)
      // closing the owning query drops BOTH views and the async state
      assert(post(s"$base/query/close?id=$id").statusCode() == 200)
      assert(get(s"$base/cachedresults/status?alias=cr_async").statusCode() == 404)
      assert(get(s"$base/cachedresults/sql?sql=" +
        enc("SELECT * FROM cr_agg")).statusCode() == 400)
    } finally srv.stop()
  }

  test("atom tier: categories, strictly-after cursor paging, entry, 204/404 contracts") {
    val atom = Seq(
      ("color", "red", java.sql.Date.valueOf("2024-01-05"), 3L),
      ("color", "blue", java.sql.Date.valueOf("2024-01-05"), 2L),
      ("color", "green", java.sql.Date.valueOf("2024-01-07"), 5L),
      ("shape", "round", java.sql.Date.valueOf("2024-01-02"), 1L))
      .toDF("category", "value", "latest_date", "occurrences")
    val srv = new QueryServer(tables = Map.empty, atomTable = Some(atom),
      metricsFlush = false)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port"
    try {
      // categories: distinct, sorted
      assert(get(s"$base/atom/categories").body()
        == """{"categories": ["color","shape"]}""")
      // page 1 of color at pagesize 2: newest-first (green first), then
      // ties on date break value-ascending (blue before red)
      val p1 = get(s"$base/atom/feed?category=color&pagesize=2").body()
      assert(p1.contains("\"title\": \"green\"") &&
        p1.contains("\"title\": \"blue\"") && !p1.contains("\"red\""), p1)
      assert(p1.indexOf("green") < p1.indexOf("blue"), p1)
      val next = "\"next\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(p1)
        .get.group(1)
      // page 2 resumes STRICTLY AFTER blue: only red remains
      val p2 = get(s"$base/atom/feed?category=color&pagesize=2" +
        s"&l=${java.net.URLEncoder.encode(next, "UTF-8")}").body()
      assert(p2.contains("\"title\": \"red\"") && !p2.contains("blue"), p2)
      val next2 = "\"next\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(p2)
        .get.group(1)
      // exhausted feed → 204 (the reference's NoResultsException)
      assert(get(s"$base/atom/feed?category=color&pagesize=2" +
        s"&l=${java.net.URLEncoder.encode(next2, "UTF-8")}")
        .statusCode() == 204)
      // unknown category → 204; entry by id; missing entry → 204
      assert(get(s"$base/atom/feed?category=nope").statusCode() == 204)
      val eid = graft.query.AtomFeed.encodeId("round")
      val e1 = get(s"$base/atom/entry?category=shape&id=$eid").body()
      assert(e1.contains("\"title\": \"round\"") &&
        e1.contains("\"occurrences\": 1"), e1)
      assert(get(s"$base/atom/entry?category=color&id=$eid")
        .statusCode() == 204)
    } finally srv.stop()
  }

  test("atom tier without a configured table answers 404 on every verb") {
    val srv = new QueryServer(tables = Map.empty, metricsFlush = false)
    val port = srv.start()
    try {
      assert(get(s"http://127.0.0.1:$port/atom/categories").statusCode() == 404)
      assert(get(s"http://127.0.0.1:$port/atom/feed?category=x").statusCode() == 404)
    } finally srv.stop()
  }

  test("/admin/listTables reports live bindings: names, row counts, schema") {
    val a = (1 to 7).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val b = (1 to 3).map(i => (i.toLong, i * 1.5)).toDF("k", "x")
    val srv = new QueryServer(Map("alpha" -> a, "beta" -> b),
      metricsFlush = false)
    val port = srv.start()
    try {
      val resp = get(s"http://127.0.0.1:$port/admin/listTables")
      assert(resp.statusCode() == 200, resp.body())
      val body = resp.body()
      // name-sorted, live row counts, per-column types
      val alphaIdx = body.indexOf("\"alpha\"")
      val betaIdx = body.indexOf("\"beta\"")
      assert(alphaIdx >= 0 && betaIdx > alphaIdx, body)
      assert(body.contains("\"rows\": 7") && body.contains("\"rows\": 3"), body)
      assert(body.contains("\"name\": \"id\"") &&
        body.contains("\"type\": \"bigint\""), body)
      assert(body.contains("\"name\": \"x\"") &&
        body.contains("\"type\": \"double\""), body)
    } finally srv.stop()
  }

  test("/admin/listTables honors the principal registry") {
    val df = Seq((1L, "a")).toDF("id", "v")
    val srv = new QueryServer(Map("t" -> df),
      users = Map("alice" -> Set("A")), metricsFlush = false)
    val port = srv.start()
    try {
      assert(get(s"http://127.0.0.1:$port/admin/listTables?user=mallory")
        .statusCode() == 401)
      assert(get(s"http://127.0.0.1:$port/admin/listTables?user=alice")
        .statusCode() == 200)
    } finally srv.stop()
  }

  test("principal registry: 401/403 fail-closed, server-resolved auths, resume keeps them") {
    val df = Seq(
      (1L, "click", "A"), (2L, "view", "A|B"),
      (3L, "purchase", "A&B"), (4L, "signup", "C"))
      .toDF("event_id", "event_type", "visibility")
    val stateDir =
      java.nio.file.Files.createTempDirectory("graft-reg").toString
    val users = Map("alice" -> Set("A"), "root" -> Set("A", "B", "C"))
    def mkServer() = new QueryServer(Map("t" -> df), stateDir = stateDir,
      users = users, metricsFlush = false)
    val srv = mkServer()
    val port = srv.start()
    val enc = (v: String) => java.net.URLEncoder.encode(v, "UTF-8")
    def ids(body: String): Seq[Long] =
      "\"event_id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
    try {
      val base = s"http://127.0.0.1:$port"
      val q = enc("EVENT_ID > 0")
      // unknown user fails closed at create, lookup, and mutation
      assert(post(s"$base/query/create?table=t&query=$q&user=mallory")
        .statusCode() == 401)
      assert(post(s"$base/modification/submit?service=x&table=t&user=mallory")
        .statusCode() == 401)
      // escalation beyond the grant is refused
      assert(post(s"$base/query/create?table=t&query=$q&user=alice&auths=A,B")
        .statusCode() == 403)
      // alice sees only {A}-readable rows — auths resolved SERVER-side,
      // none asserted by the call
      val created = post(
        s"$base/query/create?table=t&query=$q&user=alice&orderBy=event_id")
      assert(created.statusCode() == 200, created.body())
      val id = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(created.body()).get.group(1)
      assert(ids(post(s"$base/query/next?id=$id&user=alice").body()) == Seq(1L, 2L))
      // root downgrading to {B} sees only the view row (A|B)
      val down = post(s"$base/query/create?table=t&query=$q&user=root" +
        "&auths=B&orderBy=event_id")
      assert(down.statusCode() == 200, down.body())
      val dId = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(down.body()).get.group(1)
      assert(ids(post(s"$base/query/next?id=$dId&user=root").body()) == Seq(2L))
      // a query-TEXT update re-plans WITHOUT shedding the session's
      // resolved auths
      val upd = post(s"$base/query/create?table=t&query=$q&user=alice" +
        "&orderBy=event_id")
      val uId = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(upd.body()).get.group(1)
      assert(post(s"$base/query/update?id=$uId&user=alice&query=" +
        enc("EVENT_ID > 1")).statusCode() == 200)
      assert(ids(post(s"$base/query/next?id=$uId&user=alice").body()) == Seq(2L))
      // the resolved auths travel with the durable definition: a
      // restarted server resumes alice's query STILL enforcing {A}
      val resumeId = "\"queryId\": \"([0-9a-f]+)\"".r.findFirstMatchIn(
        post(s"$base/query/create?table=t&query=$q&user=alice" +
          "&orderBy=event_id&pageSize=1").body()).get.group(1)
      assert(ids(post(s"$base/query/next?id=$resumeId&user=alice").body()) == Seq(1L))
      srv.stop()
      val srv2 = mkServer()
      val port2 = srv2.start()
      try {
        val rest = post(s"http://127.0.0.1:$port2/query/next?id=$resumeId&user=alice")
        assert(ids(rest.body()) == Seq(2L), rest.body())
        assert(post(s"http://127.0.0.1:$port2/query/next?id=$resumeId&user=alice")
          .statusCode() == 204)
      } finally srv2.stop()
    } finally
      try srv.stop() catch { case _: Exception => () }
  }

  test("principal registry gates EVERY data-serving verb: execute, " +
      "translateId, lookupUUID, lookupUID, lookupContentUUID enforce rows") {
    // events with per-row visibility; content with per-document visibility
    val ev = Seq(
      (7L, "click", "A"), (8L, "view", "C"), (9L, "click", "A"))
      .toDF("event_id", "event_type", "visibility")
    import org.apache.spark.sql.functions.{col, when}
    val docsDf = Seq((7L, "seven text"), (8L, "eight text"), (9L, "nine text"))
      .toDF("doc_id", "text")
    val content = graft.content.ContentStore.contentTable(docsDf)
      .withColumn("visibility",
        when(col("uid") === "8", "C").otherwise("A"))
    val docs = docsDf.withColumn("visibility",
      when(col("doc_id") === 8L, "C").otherwise("A"))
    // two servers because translate probes every registered type
    // against ONE logic: events-backed verbs here, content-backed below
    val srv = new QueryServer(
      tables = Map("events" -> ev),
      uuidTypes = Seq(LookupUUID.UuidType("EVENT_ID", logic = "events")),
      users = Map("alice" -> Set("A")), metricsFlush = false)
    val srvC = new QueryServer(
      tables = Map("docs" -> docs, "content" -> content),
      uuidTypes = Seq(LookupUUID.UuidType("DOC_ID", logic = "docs")),
      users = Map("alice" -> Set("A")), metricsFlush = false)
    val port = srv.start()
    val portC = srvC.start()
    val enc = (v: String) => java.net.URLEncoder.encode(v, "UTF-8")
    try {
      val base = s"http://127.0.0.1:$port"
      val baseC = s"http://127.0.0.1:$portC"
      val q = enc("EVENT_ID > 0")
      // /query/execute: unknown caller 401; alice's stream carries only
      // {A}-visible rows (previously streamed unfiltered)
      assert(post(s"$base/query/execute?table=events&query=$q&user=mallory")
        .statusCode() == 401)
      val exe = post(s"$base/query/execute?table=events&query=$q&user=alice")
      assert(exe.statusCode() == 200, exe.body())
      assert(exe.body().contains("\"event_id\":7") &&
        exe.body().contains("\"event_id\":9") &&
        !exe.body().contains("\"event_id\":8"), exe.body())
      // /translateId: 401 unknown; resolved rows visibility-filtered —
      // the C-visible id 8 does not translate for alice
      assert(get(s"$base/translateId?id=8&user=mallory").statusCode() == 401)
      assert(get(s"$base/translateId?id=8&user=alice").statusCode() == 204)
      val tr = get(s"$base/translateIDs?ids=7,8&user=alice")
      assert(tr.body().contains("\"event_id\":7") &&
        !tr.body().contains("\"event_id\":8"), tr.body())
      // /lookupUUID: the served rows are filtered, not just the gate
      val lu = get(s"$base/lookupUUID?terms=EVENT_ID:8,EVENT_ID:9&user=alice" +
        "&pageSize=10")
      assert(lu.statusCode() == 200, lu.body())
      assert(lu.body().contains("\"event_id\":9") &&
        !lu.body().contains("\"event_id\":8"), lu.body())
      // /lookupUID (direct stored-document path — no event query runs):
      // the content fetch itself enforces visibility
      assert(get(s"$baseC/lookupUID?uids=7,8&user=mallory").statusCode() == 401)
      val ld = get(s"$baseC/lookupUID?uids=7,8&user=alice&pageSize=10")
      assert(ld.statusCode() == 200, ld.body())
      assert(ld.body().contains("seven text") &&
        !ld.body().contains("eight text"), ld.body())
      // /lookupContentUUID: gate + both legs (hit query AND content fetch)
      assert(get(s"$baseC/lookupContentUUID?terms=DOC_ID:8&uidField=doc_id" +
        "&user=mallory").statusCode() == 401)
      val lc = get(s"$baseC/lookupContentUUID?terms=DOC_ID:7,DOC_ID:8" +
        "&uidField=doc_id&user=alice")
      assert(lc.statusCode() == 200, lc.body())
      assert(lc.body().contains("seven text") &&
        !lc.body().contains("eight text"), lc.body())
    } finally { srv.stop(); srvC.stop() }
  }

  test("proxied-entity chain: effective auths are the chain-wide " +
      "intersection, unknown entity 401, durable resume keeps them") {
    val df = Seq(
      (1L, "click", "A"), (2L, "view", "A|B"),
      (3L, "purchase", "B"), (4L, "signup", "C"))
      .toDF("event_id", "event_type", "visibility")
    val stateDir =
      java.nio.file.Files.createTempDirectory("graft-chain").toString
    // root holds {A,B,C}; the proxying server holds {A,B}; alice {A}:
    // the chain-wide minimum is what any chained request may see
    // (WSAuthorizationsUtil.mergePrincipals semantics)
    val users = Map("root" -> Set("A", "B", "C"),
      "gateway" -> Set("A", "B"), "alice" -> Set("A"))
    def mkServer() = new QueryServer(Map("t" -> df), stateDir = stateDir,
      users = users, metricsFlush = false)
    val srv = mkServer()
    val port = srv.start()
    val enc = (v: String) => java.net.URLEncoder.encode(v, "UTF-8")
    def ids(body: String): Seq[Long] =
      "\"event_id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
    try {
      val base = s"http://127.0.0.1:$port"
      val q = enc("EVENT_ID > 0")
      // root proxied through gateway: {A,B,C} ∩ {A,B} = {A,B} → rows 1-3
      val viaGw = post(s"$base/query/create?table=t&query=$q&user=root" +
        "&proxiedEntities=gateway&orderBy=event_id")
      assert(viaGw.statusCode() == 200, viaGw.body())
      val gwId = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(viaGw.body()).get.group(1)
      assert(ids(post(s"$base/query/next?id=$gwId&user=root").body()) == Seq(1L, 2L, 3L))
      // root proxied through gateway AND alice: ∩ = {A} → rows 1-2
      val viaBoth = post(s"$base/query/create?table=t&query=$q&user=root" +
        "&proxiedEntities=gateway,alice&orderBy=event_id")
      val bothId = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(viaBoth.body()).get.group(1)
      assert(ids(post(s"$base/query/next?id=$bothId&user=root").body()) == Seq(1L, 2L))
      // explicit auths= may still only DOWNGRADE vs the intersection:
      // B is in root's and gateway's grants but not alice's → 403
      assert(post(s"$base/query/create?table=t&query=$q&user=root" +
        "&proxiedEntities=gateway,alice&auths=B").statusCode() == 403)
      // an unknown chain entity fails closed like an unknown user
      assert(post(s"$base/query/create?table=t&query=$q&user=root" +
        "&proxiedEntities=nosuch").statusCode() == 401)
      // chain gates the data-serving verbs uniformly
      val exe = post(s"$base/query/execute?table=t&query=$q&user=root" +
        "&proxiedEntities=gateway,alice")
      assert(!exe.body().contains("\"event_id\":3") &&
        !exe.body().contains("\"event_id\":4"), exe.body())
      // the durable definition resumes under the INTERSECTION after a
      // server restart, not under root's wider grant
      val resumeId = "\"queryId\": \"([0-9a-f]+)\"".r.findFirstMatchIn(
        post(s"$base/query/create?table=t&query=$q&user=root" +
          "&proxiedEntities=gateway,alice&orderBy=event_id&pageSize=1")
          .body()).get.group(1)
      assert(ids(post(s"$base/query/next?id=$resumeId&user=root").body()) == Seq(1L))
      srv.stop()
      val srv2 = mkServer()
      val port2 = srv2.start()
      try {
        val rest = post(s"http://127.0.0.1:$port2/query/next?id=$resumeId&user=root")
        assert(ids(rest.body()) == Seq(2L), rest.body())
        assert(post(s"http://127.0.0.1:$port2/query/next?id=$resumeId&user=root")
          .statusCode() == 204)
      } finally srv2.stop()
    } finally {
      try srv.stop() catch { case _: Exception => () }
      graft.core.Fs.deleteRecursively(stateDir)
    }
  }

  test("/user/listEffectiveAuthorizations returns the resolved grant, " +
      "chain-intersected; unknown caller 401; no registry 404; flush " +
      "sibling acknowledges") {
    val df = Seq((1L, "x", "A")).toDF("event_id", "event_type", "visibility")
    val users = Map("root" -> Set("A", "B", "C"),
      "gateway" -> Set("A", "B"), "alice" -> Set("A"))
    val srv = new QueryServer(Map("t" -> df), users = users,
      metricsFlush = false)
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port"
      // own grant, sorted for a stable client contract
      val own = get(s"$base/user/listEffectiveAuthorizations?user=root")
      assert(own.statusCode() == 200 &&
        own.body().contains("\"auths\": [\"A\",\"B\",\"C\"]"), own.body())
      // proxied chain: the effective set is the chain-wide intersection
      val chained = get(s"$base/user/listEffectiveAuthorizations?user=root" +
        "&proxiedEntities=gateway,alice")
      assert(chained.statusCode() == 200 &&
        chained.body().contains("\"auths\": [\"A\"]"), chained.body())
      // the verb reports the GRANT: a stray auths= downgrade param is
      // ignored, never 403'd — this is how a client learns what a VALID
      // downgrade would be
      val stray = get(s"$base/user/listEffectiveAuthorizations?user=alice&auths=Z")
      assert(stray.statusCode() == 200 &&
        stray.body().contains("\"auths\": [\"A\"]"), stray.body())
      // unknown caller and unknown chain entity fail closed
      assert(get(s"$base/user/listEffectiveAuthorizations?user=mallory")
        .statusCode() == 401)
      assert(get(s"$base/user/listEffectiveAuthorizations?user=root" +
        "&proxiedEntities=nosuch").statusCode() == 401)
      // flush sibling: contract-only acknowledgement, same 401 rule
      assert(get(s"$base/user/flushCachedCredentials?user=alice")
        .statusCode() == 200)
      assert(get(s"$base/user/flushCachedCredentials?user=mallory")
        .statusCode() == 401)
    } finally srv.stop()
    // no registry configured: there is no server-resolved grant to ask for
    val open = new QueryServer(Map("t" -> df), metricsFlush = false)
    val p2 = open.start()
    try {
      assert(get(s"http://127.0.0.1:$p2/user/listEffectiveAuthorizations")
        .statusCode() == 404)
      assert(get(s"http://127.0.0.1:$p2/user/flushCachedCredentials")
        .statusCode() == 404)
    } finally open.stop()
  }

  test("CachedResults aliases survive a server restart: the restored views " +
      "serve the MATERIALIZED rows without re-running the owning query") {
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "grp", "v")
    val stateDir =
      java.nio.file.Files.createTempDirectory("graft-cralias").toString
    def mkServer(frame: org.apache.spark.sql.DataFrame = df) =
      new QueryServer(Map("t" -> frame), stateDir = stateDir,
        metricsFlush = false)
    val srv = mkServer()
    val port = srv.start()
    val enc = (v: String) => java.net.URLEncoder.encode(v, "UTF-8")
    try {
      val base = s"http://127.0.0.1:$port"
      val q = enc("ID > 0")
      val id = "\"queryId\": \"([0-9a-f]+)\"".r.findFirstMatchIn(
        post(s"$base/query/create?table=t&query=$q&orderBy=id").body())
        .get.group(1)
      assert(post(s"$base/cachedresults/load?id=$id&alias=dur_v")
        .statusCode() == 200)
      // a DERIVED view too — its defining SQL must survive the restart
      assert(post(s"$base/cachedresults/create?alias=dur_v&view=dur_agg" +
        s"&fields=${enc("grp, sum(v) AS total")}&grouping=grp")
        .statusCode() == 200)
      srv.stop()
      // a REAL restart loses the temp views with the JVM; the spec's
      // two servers share one SparkSession, so drop them explicitly or
      // tableExists would short-circuit the very re-registration path
      // under test
      spark.catalog.dropTempView("dur_v")
      spark.catalog.dropTempView("dur_agg")
      // the reference's CachedResults rows live in MySQL and outlive the
      // service (CachedRunningQuery.java:399) — so the restarted server
      // gets a POISONED source table: if any verb re-ran the owning
      // query instead of reading the materialized rows, the results
      // would change (or this 1-row table would betray the re-run)
      val poisoned = Seq((100L, "z", 999.0)).toDF("id", "grp", "v")
      val srv2 = mkServer(poisoned)
      val port2 = srv2.start()
      try {
        val b2 = s"http://127.0.0.1:$port2"
        val rows = get(s"$b2/cachedresults/sql?sql=" +
          enc("SELECT count(*) AS n FROM dur_v") + "&pageSize=10")
        assert(rows.statusCode() == 200 && rows.body().contains("\"n\":3"),
          rows.body())
        // identical rows, not merely the same count
        val ids = get(s"$b2/cachedresults/sql?sql=" +
          enc("SELECT id FROM dur_v ORDER BY id") + "&pageSize=10")
        assert("\"id\":(\\d+)".r.findAllMatchIn(ids.body())
          .map(_.group(1)).toSeq == Seq("1", "2", "3"), ids.body())
        val agg = get(s"$b2/cachedresults/sql?sql=" +
          enc("SELECT grp, total FROM dur_agg ORDER BY grp") + "&pageSize=10")
        assert(agg.statusCode() == 200 &&
          agg.body().contains("\"total\":30.0"), agg.body())
        val page = get(s"$b2/cachedresults/getRows?alias=dur_v&rowBegin=1&rowEnd=2")
        assert(page.statusCode() == 200 &&
          page.body().contains("\"id\":1") &&
          !page.body().contains("\"id\":100"), page.body())
        assert(get(s"$b2/cachedresults/status?alias=dur_v").statusCode() == 200)
        // closing the owning query drops BOTH aliases durably
        assert(post(s"$b2/query/close?id=$id").statusCode() == 200)
      } finally srv2.stop()
      val srv3 = mkServer()
      val port3 = srv3.start()
      try {
        assert(get(s"http://127.0.0.1:$port3/cachedresults/getRows?alias=dur_v")
          .statusCode() == 404)
        assert(get(s"http://127.0.0.1:$port3/cachedresults/sql?sql=" +
          enc("SELECT * FROM dur_agg")).statusCode() == 400) // unknown relation
        // the materialized rows are gone from disk, not just unlisted
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(stateDir, "cachedrows", "dur_v")))
      } finally srv3.stop()
    } finally {
      try srv.stop() catch { case _: Exception => () }
      graft.core.Fs.deleteRecursively(stateDir)
    }
  }

  test("registry gates the remaining serving/mutating verbs: atom tier, " +
      "model management, principal-scoped metrics summary") {
    val df = Seq((1L, "click", 5.0, 100L, "p", "A")).toDF(
      "event_id", "event_type", "value", "ts", "props", "visibility")
      .withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    val atom = Seq(("event_type", "click", "2024-01-01", 3L))
      .toDF("category", "value", "updated", "occurrences")
    val srv = new QueryServer(Map("t" -> df), atomTable = Some(atom),
      users = Map("alice" -> Set("A"), "root" -> Set("A")),
      adminUsers = Set("root"), metricsFlush = false)
    val port = srv.start()
    try {
      val base = s"http://127.0.0.1:$port"
      // atom documents are data: unknown caller 401, known caller serves
      assert(get(s"$base/atom/categories?user=mallory").statusCode() == 401)
      assert(get(s"$base/atom/categories?user=alice").statusCode() == 200)
      assert(get(s"$base/atom/feed?category=event_type&user=mallory")
        .statusCode() == 401)
      assert(get(s"$base/atom/entry?category=event_type&id=click&user=mallory")
        .statusCode() == 401)
      // model management mutates shared planning state: 401 unknown
      assert(post(s"$base/model/import?name=m1&mappings=A:F:FORWARD" +
        "&user=mallory").statusCode() == 401)
      assert(post(s"$base/model/import?name=m1&mappings=A:F:FORWARD" +
        "&user=alice").statusCode() == 200)
      // metrics summary is principal-scoped: unknown 401; a non-admin
      // reads their OWN summary even when naming someone else's filter;
      // the admin reads /summary/all and may narrow via forUser
      assert(get(s"$base/query/metrics/summary?user=mallory")
        .statusCode() == 401)
      val q = java.net.URLEncoder.encode("EVENT_TYPE == 'click'", "UTF-8")
      assert(post(s"$base/query/create?table=t&query=$q&user=alice")
        .statusCode() == 200)
      def bucketTotal(body: String): Long =
        "\"queryCount\": *(\\d+)".r.findAllMatchIn(body)
          .map(_.group(1).toLong).sum
      val own = get(s"$base/query/metrics/summary?user=alice").body()
      assert(bucketTotal(own) > 0, own)
      // root created nothing: the admin's forUser=root view is empty,
      // while /summary/all (no forUser) still sees alice's query
      val forRoot = get(s"$base/query/metrics/summary?user=root&forUser=root")
        .body()
      assert(bucketTotal(forRoot) == 0, forRoot)
      assert(bucketTotal(get(s"$base/query/metrics/summary?user=root")
        .body()) > 0)
    } finally srv.stop()
  }

  test("principal-bound object ownership: sessions, aliases, and bulk " +
      "jobs refuse non-owners (QUERY_OWNER_MISMATCH), admins override, " +
      "ownership survives restart") {
    val df = Seq((1L, "click", "A"), (2L, "view", "A"), (3L, "buy", "A"))
      .toDF("event_id", "event_type", "visibility")
    val stateDir =
      java.nio.file.Files.createTempDirectory("graft-owner").toString
    // alice and bob hold the SAME grant — visibility alone would let bob
    // read what alice materialized; ownership is the extra wall
    val users = Map("alice" -> Set("A"), "bob" -> Set("A"),
      "root" -> Set("A"))
    def mkServer() = new QueryServer(Map("t" -> df), stateDir = stateDir,
      users = users, adminUsers = Set("root"), metricsFlush = false)
    val srv = mkServer()
    val port = srv.start()
    val enc = (v: String) => java.net.URLEncoder.encode(v, "UTF-8")
    try {
      val base = s"http://127.0.0.1:$port"
      val q = enc("EVENT_ID > 0")
      val created = post(s"$base/query/create?table=t&query=$q&user=alice" +
        "&orderBy=event_id&pageSize=1")
      val id = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(created.body()).get.group(1)
      // bob (registered, same auths) cannot drain, inspect, mutate, or
      // close alice's session; an unknown caller is 401 either way
      for (verb <- Seq("next", "get", "plan", "metrics", "close", "cancel",
          "reset", "duplicate", "update", "remove")) {
        val r = post(s"$base/query/$verb?id=$id&user=bob")
        assert(r.statusCode() == 401 &&
          r.body().contains("QUERY_OWNER_MISMATCH"), s"$verb: ${r.body()}")
      }
      assert(post(s"$base/query/next?id=$id&user=mallory").statusCode() == 401)
      // the owner pages normally; /query/list shows the session only to
      // its owner (and admins), not to bob
      assert(post(s"$base/query/next?id=$id&user=alice").statusCode() == 200)
      assert(get(s"$base/query/list?user=alice").body().contains(id))
      assert(!get(s"$base/query/list?user=bob").body().contains(id))
      assert(get(s"$base/query/list?user=root").body().contains(id))
      // CachedResults: only alice may export her query; bob cannot read
      // rows/status through the alias NAME he can guess
      assert(post(s"$base/cachedresults/load?id=$id&alias=own_v&user=bob")
        .statusCode() == 401)
      assert(post(s"$base/cachedresults/load?id=$id&alias=own_v&user=alice")
        .statusCode() == 200)
      for (path <- Seq(
          s"/cachedresults/getRows?alias=own_v&user=bob",
          s"/cachedresults/sql?sql=${enc("SELECT * FROM own_v")}&user=bob",
          s"/cachedresults/status?alias=own_v&user=bob",
          s"/cachedresults/create?alias=own_v&view=own_v2&user=bob")) {
        val r = get(s"$base$path")
        assert(r.statusCode() == 401 &&
          r.body().contains("QUERY_OWNER_MISMATCH"), s"$path: ${r.body()}")
      }
      assert(get(s"$base/cachedresults/getRows?alias=own_v&user=alice")
        .statusCode() == 200)
      // admin override: root reads rows and may close (adminClose)
      assert(get(s"$base/cachedresults/getRows?alias=own_v&user=root")
        .statusCode() == 200)
      // /cachedresults/create gates EVERY referenced alias, not just the
      // source: bob derives a view over his OWN alias whose conditions
      // subquery reads ALICE's — without the per-ref gate the derived
      // view would launder her rows through bob-owned /getRows
      val bobCreated = post(s"$base/query/create?table=t&query=$q&user=bob" +
        "&orderBy=event_id&pageSize=1")
      val bobId = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(bobCreated.body()).get.group(1)
      assert(post(s"$base/cachedresults/load?id=$bobId&alias=bob_v&user=bob")
        .statusCode() == 200)
      val exfil = get(s"$base/cachedresults/create?alias=bob_v&view=bob_x" +
        s"&conditions=${enc("event_id IN (SELECT event_id FROM own_v)")}" +
        "&user=bob")
      assert(exfil.statusCode() == 401 &&
        exfil.body().contains("QUERY_OWNER_MISMATCH"), exfil.body())
      // a FAILED create must not leave a phantom reservation: the
      // refused view name answers 404 (not LOADED) and stays reusable
      assert(get(s"$base/cachedresults/status?alias=bob_x&user=bob")
        .statusCode() == 404)
      assert(get(s"$base/cachedresults/create?alias=bob_v&view=bob_x" +
        s"&conditions=${enc("event_id IN (SELECT event_id FROM bob_v)")}" +
        "&user=bob").statusCode() == 200)
      // the same shape over bob's own aliases is fine
      assert(get(s"$base/cachedresults/create?alias=bob_v&view=bob_y" +
        s"&conditions=${enc("event_id IN (SELECT event_id FROM bob_v)")}" +
        "&user=bob").statusCode() == 200)
      // the refusal body names the code, never the owning principal
      assert(!exfil.body().contains("alice"), exfil.body())
      // bulk jobs: alice defines + submits; bob is refused on every job
      // verb including the result-file stream; root (admin) may cancel
      val defId = "\"queryId\": \"([0-9a-f]+)\"".r.findFirstMatchIn(
        post(s"$base/query/define?table=t&query=$q&user=alice").body())
        .get.group(1)
      // bob cannot ship ALICE's definition into a job he would own
      assert(post(s"$base/mapreduce/submit?jobName=BulkResultsJob" +
        s"&parameters=${enc(s"queryId:$defId;format:json")}" +
        "&roles=AuthorizedUser&user=bob").statusCode() == 401)
      val sub = post(s"$base/mapreduce/submit?jobName=BulkResultsJob" +
        s"&parameters=${enc(s"queryId:$defId;format:json")}" +
        "&roles=AuthorizedUser&user=alice")
      assert(sub.statusCode() == 200, sub.body())
      val jobId = "\"jobId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(sub.body()).get.group(1)
      // wait for the export to finish so a result file exists
      var state = ""
      val deadline = System.currentTimeMillis() + 60000
      while (state != "SUCCEEDED" && System.currentTimeMillis() < deadline) {
        val info = get(s"$base/mapreduce/list?jobId=$jobId&user=alice")
        state = "\"state\": \"(\\w+)\"".r.findFirstMatchIn(info.body())
          .map(_.group(1)).getOrElse("")
        if (state != "SUCCEEDED") Thread.sleep(100)
      }
      assert(state == "SUCCEEDED", s"job state: $state")
      val fileName = "\"name\": \"([^\"]+)\"".r.findFirstMatchIn(
        get(s"$base/mapreduce/list?jobId=$jobId&user=alice").body())
        .get.group(1)
      for (path <- Seq(
          s"/mapreduce/list?jobId=$jobId&user=bob",
          s"/mapreduce/getFile?jobId=$jobId&fileName=${enc(fileName)}&user=bob",
          s"/mapreduce/cancel?jobId=$jobId&user=bob",
          s"/mapreduce/restart?jobId=$jobId&user=bob",
          s"/mapreduce/remove?jobId=$jobId&user=bob")) {
        val r = get(s"$base$path")
        assert(r.statusCode() == 401 &&
          r.body().contains("QUERY_OWNER_MISMATCH"), s"$path: ${r.body()}")
      }
      assert(get(s"$base/mapreduce/getFile?jobId=$jobId" +
        s"&fileName=${enc(fileName)}&user=alice").statusCode() == 200)
      // job listing is per-owner
      assert(get(s"$base/mapreduce/list?user=alice").body().contains(jobId))
      assert(!get(s"$base/mapreduce/list?user=bob").body().contains(jobId))
      assert(get(s"$base/mapreduce/list?user=root").body().contains(jobId))
      // ownership SURVIVES restart: the durable definition and job state
      // both carry the owner, so bob stays refused by the resumed server
      srv.stop()
      val srv2 = mkServer()
      val port2 = srv2.start()
      try {
        val b2 = s"http://127.0.0.1:$port2"
        val r = post(s"$b2/query/next?id=$id&user=bob")
        assert(r.statusCode() == 401 &&
          r.body().contains("QUERY_OWNER_MISMATCH"), r.body())
        assert(post(s"$b2/query/next?id=$id&user=alice").statusCode() == 200)
        // the DURABLE row store serves only its owner too: the restored
        // alias still resolves alice as owner (via the stored
        // definition), so bob is refused before a single stored row
        val rows = get(s"$b2/cachedresults/getRows?alias=own_v&user=bob")
        assert(rows.statusCode() == 401 &&
          rows.body().contains("QUERY_OWNER_MISMATCH"), rows.body())
        assert(get(s"$b2/cachedresults/getRows?alias=own_v&user=alice")
          .statusCode() == 200)
        assert(get(s"$b2/mapreduce/list?jobId=$jobId&user=bob")
          .statusCode() == 401)
        // admin override closes another principal's session
        assert(post(s"$b2/query/close?id=$id&user=root").statusCode() == 200)
      } finally srv2.stop()
    } finally {
      try srv.stop() catch { case _: Exception => () }
      graft.core.Fs.deleteRecursively(stateDir)
    }
  }
}
