package graft.query

import graft.SparkSpec
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** `/query/predict` + the QueryPredictor SPI (QueryExecutorBean.java:
  * 990-1054, QueryPredictor.java): predictions come from the PLANNED
  * query without executing a job; a predictor-less deployment answers
  * hasResults=false like NoOpQueryPredictor. */
class PredictSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()
  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("plan-stats predictor: size estimate always, row estimate when the plan determines one") {
    val df = (1 to 40).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val p = new Predict.PlanStatsPredictor
    val base = p.predict(df.filter($"id" > 5))
    assert(base.exists(x => x.name == "PLAN_SIZE_BYTES" && x.value > 0))
    // a LIMIT pins the optimizer's row estimate
    val limited = p.predict(df.limit(7))
    assert(limited.contains(Predict.Prediction("PLAN_ROWS", 7.0)),
      limited.toString)
  }

  test("history predictor: mean over non-error history; empty history predicts nothing") {
    val df = Seq((1L, "x")).toDF("id", "v")
    val h = Seq(
      QueryMetric("a", "q1", "JEXL", 0L, 10L, 100L),
      QueryMetric("b", "q2", "JEXL", 0L, 30L, 300L),
      QueryMetric("c", "q3", "JEXL", 0L, 999L, 999L, error = true))
    val preds = new Predict.HistoryPredictor(() => h).predict(df)
    assert(preds.contains(Predict.Prediction("PREDICTED_ROWS", 200.0)))
    assert(preds.contains(Predict.Prediction("PREDICTED_ELAPSED_MILLIS", 20.0)))
    assert(preds.contains(Predict.Prediction("HISTORY_SAMPLES", 2.0)))
    assert(new Predict.HistoryPredictor(() => Seq.empty).predict(df).isEmpty)
  }

  test("history predictor conditions on the logic being predicted") {
    val df = Seq((1L, "x")).toDF("id", "v")
    val h = Seq(
      QueryMetric("a", "q1", "JEXL", 0L, 10L, 100L, logicName = "events"),
      QueryMetric("b", "q2", "JEXL", 0L, 30L, 300L, logicName = "events"),
      QueryMetric("c", "q3", "JEXL", 0L, 50L, 1000L, logicName = "edges"))
    val p = new Predict.HistoryPredictor(() => h)
    // two logics price differently off their OWN history
    assert(p.predict(df, "events")
      .contains(Predict.Prediction("PREDICTED_ROWS", 200.0)))
    assert(p.predict(df, "edges")
      .contains(Predict.Prediction("PREDICTED_ROWS", 1000.0)))
    // a logic with no history predicts nothing (never a cross-logic mean)
    assert(p.predict(df, "content").isEmpty)
    // the plain form stays the all-history mean (legacy callers)
    assert(p.predict(df)
      .contains(Predict.Prediction("HISTORY_SAMPLES", 3.0)))
  }

  test("predict endpoint: no execution, named predictions; NoOp deployment answers hasResults=false") {
    val df = (1 to 25).map(i => (i.toLong, if (i % 2 == 0) "A" else "B"))
      .toDF("id", "grp")
    val srv = new QueryServer(tables = Map("people" -> df))
    val port = srv.start()
    try {
      val enc = java.net.URLEncoder.encode("GRP == 'A'", "UTF-8")
      val r = get(s"http://127.0.0.1:$port/query/predict?table=people&query=$enc")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"hasResults\": true") &&
        r.body().contains("PLAN_SIZE_BYTES"), r.body())
      // validation failures surface at predict like at create
      val bad = get(s"http://127.0.0.1:$port/query/predict?table=people&query=" +
        java.net.URLEncoder.encode("((((", "UTF-8"))
      assert(bad.statusCode() == 400, bad.body())
      assert(get(s"http://127.0.0.1:$port/query/predict?table=nope&query=$enc")
        .statusCode() == 404)
      // model= resolves a stored model's aliases, as create does
      val area = java.net.URLEncoder.encode("AREA == 'A'", "UTF-8")
      assert(client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/model/import?name=M3&mappings=" +
            java.net.URLEncoder.encode("AREA:GRP:FORWARD", "UTF-8")))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      assert(get(s"http://127.0.0.1:$port/query/predict?table=people&query=$area")
        .statusCode() == 400)
      val m = get(s"http://127.0.0.1:$port/query/predict?table=people&model=M3" +
        s"&query=$area")
      assert(m.statusCode() == 200 && m.body().contains("PLAN_SIZE_BYTES"),
        m.body())
    } finally srv.stop()
    val noop = new QueryServer(tables = Map("people" -> df),
      predictors = Seq.empty)
    val port2 = noop.start()
    try {
      val r = get(s"http://127.0.0.1:$port2/query/predict?table=people&query=" +
        java.net.URLEncoder.encode("GRP == 'A'", "UTF-8"))
      assert(r.statusCode() == 200 && r.body().contains("\"hasResults\": false"),
        r.body())
    } finally noop.stop()
  }

  test("reset re-audits as a fresh run and fails the reset on audit error") {
    val df = Seq((1L, "A"), (2L, "B")).toDF("id", "grp")
    val auditor = new Audit.CollectingAuditor
    val srv = new QueryServer(tables = Map("people" -> df),
      auditor = auditor, auditType = Audit.Active)
    val port = srv.start()
    def post(url: String) = client.send(
      HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    try {
      val r = post(s"http://127.0.0.1:$port/query/create?table=people&query=" +
        java.net.URLEncoder.encode("GRP == 'A'", "UTF-8"))
      assert(r.statusCode() == 200, r.body())
      val id = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(r.body()).get.group(1)
      assert(post(s"http://127.0.0.1:$port/query/reset?id=$id")
        .statusCode() == 200)
      // the reset produced its own audit record (QueryExecutorBean
      // re-audits on reset) with the original query's selectors
      assert(auditor.records.size == 2)
      assert(auditor.records.last.logicName == "reset" &&
        auditor.records.last.selectors == Seq("A"))
    } finally srv.stop()
    // auditor down -> reset refused, paging state untouched
    var calls = 0
    val flaky = new Audit.Auditor {
      override def audit(rec: Audit.AuditRecord): Unit = {
        calls += 1
        if (calls > 1) throw new IllegalStateException("audit service down")
      }
    }
    val srv2 = new QueryServer(tables = Map("people" -> df),
      auditor = flaky, auditType = Audit.Active)
    val port2 = srv2.start()
    try {
      val r = post(s"http://127.0.0.1:$port2/query/create?table=people&query=" +
        java.net.URLEncoder.encode("GRP == 'A'", "UTF-8"))
      assert(r.statusCode() == 200, r.body())
      val id = "\"queryId\": \"([0-9a-f]+)\"".r
        .findFirstMatchIn(r.body()).get.group(1)
      val reset = post(s"http://127.0.0.1:$port2/query/reset?id=$id")
      assert(reset.statusCode() == 400 &&
        reset.body().contains("audit service down"), reset.body())
      // the original run still pages (the failed reset must not have
      // dropped the cursor or the session)
      val p1 = get(s"http://127.0.0.1:$port2/query/next?id=$id")
      assert(p1.statusCode() == 200, p1.body())
    } finally srv2.stop()
  }

  test("lookupUid dedups the direct uid list and caps the COMBINED batch") {
    val content = Seq(("7", "body-7"), ("8", "body-8"))
      .toDF("uid", "content")
    val reg = LookupUUID.Registry(Seq.empty, batchLookupLimit = 3)
    // '7 7' must yield ONE document
    val dup = LookupUUID.lookupUid(reg, Seq("event" -> "7 7"),
      Map.empty, content)
    assert(dup.count() == 1)
    // combined cap: 3 distinct uids + 1 registered term > limit 3
    val reg2 = LookupUUID.Registry(
      Seq(LookupUUID.UuidType("F", logic = "t")), batchLookupLimit = 3)
    val ex = intercept[IllegalArgumentException] {
      LookupUUID.lookupUid(reg2,
        Seq("event" -> "7 8 9", "F" -> "x"), Map.empty, content)
    }
    assert(ex.getMessage.contains("too many lookup terms"))
  }
}
