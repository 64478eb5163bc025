package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.jexl.{JexlParser, LuceneParser}
import graft.query.{QueryCursor, QueryParams, QueryServer, RunningQuery, ShardQueryLogic}
import graft.vis.Visibility

/** `serve`: DataWave's primary traffic. Two closed-loop clients run full
  * query lifecycles over HTTP against a QueryServer with a principal
  * registry: createAndNext, /query/next until 204, close. A client runs
  * cycles of 5 operations: 3 lookups (one page: plan and visibility probe
  * dominate), 1 range/regex/LUCENE scan (about 3 pages) and 1 drain (about
  * 12 pages: paging dominates), at pageSize 100. */
final class Serve(spark: SparkSession, a: Args, tr: Tracer) extends Workload {
  import Serve._

  val clients = 2
  val cycle = 5
  val cycleSeconds = 5.5
  private var server: QueryServer = _
  private var base = ""
  private var events: DataFrame = _
  private var digest = ""
  private val table = a.work.resolve("serve-events").toString
  private val logic = new ShardQueryLogic()

  def load(rep: Int): Unit = {
    val rows = generate(a.seed)
    digest = Digest.of(rows.iterator.map(_.mkString("\u0001")))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.mode("overwrite").parquet(table)
    events = spark.read.parquet(table)
    server = new QueryServer(Map("events" -> events),
      stateDir = a.work.resolve(s"serve-state-$rep").toString, users = Users)
    base = s"http://127.0.0.1:${server.start(0)}"
  }

  /** Two cycles from a seed stream the timed phase never uses: operation
    * times keep falling for several cycles while the JIT catches up. */
  def warmUp(): Unit = (0 until 2 * cycle).foreach(i => lifecycle(query(a.seed, 99, i), None))

  /** One lookup against the kept server. */
  override def settle(): Unit = lifecycle(query(a.seed, 99, 0), None)

  def release(): Unit = server.stop()

  def close(): Unit = server.stop()

  def inputDigest: String = digest

  /** Per operation: its query, row count and uid digest. */
  private val seen = new java.util.concurrent.ConcurrentHashMap[OpRec, (Q, Long, Long)]()
  private val replicaPages = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val httpFirstMs = new java.util.concurrent.ConcurrentHashMap[OpRec, Double]()
  private val inProcFirstMs = new java.util.concurrent.ConcurrentHashMap[OpRec, Double]()

  def run(rec: OpRec): Unit = {
    val q = query(a.seed, rec.client, rec.idx)
    val (n, d) = lifecycle(q, Some(rec))
    rec.end = System.nanoTime()
    rec.rows = n
    seen.put(rec, (q, n, d))
    if (rec.traced) replica(q, rec)
  }

  private def lifecycle(q: Q, rec: Option[OpRec]): (Long, Long) = {
    val t0 = System.nanoTime()
    val params = Map("table" -> "events", "query" -> q.text, "syntax" -> q.syntax,
      "pageSize" -> "100", "orderBy" -> "uid", "user" -> q.user)
    val (code, body) = tr.span("http.createAndNext")(http("POST", "/query/createAndNext", params))
    val firstNs = System.nanoTime() - t0
    rec.foreach { r =>
      r.first = firstNs
      if (r.traced) httpFirstMs.put(r, firstNs / 1e6)
    }
    if (code == 204) return (0L, 0L)
    if (code != 200) throw new IllegalStateException(s"createAndNext $code: $body")
    val id = QueryId.findFirstMatchIn(body).map(_.group(1))
      .getOrElse(throw new IllegalStateException(s"no queryId in $body"))
    var acc = uids(body)
    var more = true
    while (more) {
      val (c, b) = tr.span("http.next")(http("GET", "/query/next", Map("id" -> id, "user" -> q.user)))
      if (c == 204) more = false
      else if (c == 200) acc = acc.add(uids(b))
      else throw new IllegalStateException(s"next $c: $b")
    }
    val (cc, cb) = tr.span("http.close")(http("POST", "/query/close", Map("id" -> id, "user" -> q.user)))
    if (cc != 200) throw new IllegalStateException(s"close $cc: $cb")
    (acc.n, acc.sum)
  }

  /** The same query in process, one span per layer call: JEXL/LUCENE parse,
    * the visibility probe, ShardQueryLogic.query, then RunningQuery paging
    * and close. Runs after the operation's clock stopped. */
  private def replica(q: Q, rec: OpRec): Unit = {
    val auths = Some(Users(q.user))
    tr.span("jexl.parse") {
      if (q.syntax == "LUCENE") LuceneParser.parse(q.text) else JexlParser.parse(q.text)
    }
    tr.span("vis.enforce")(Visibility.enforce(events, "visibility", auths.get))
    val t0 = System.nanoTime()
    val df = tr.span("query.plan")(logic.query(events, q.text,
      QueryParams(syntax = q.syntax, auths = auths))).persist()
    val id = s"replica${rec.client}x${rec.idx}"
    val cursor = new QueryCursor(a.work.resolve("serve-replica").toString)
    val rq = new RunningQuery(cursor, id, df, Seq("uid"), 100, sink = _ => ())
    tr.span("query.first_page")(rq.nextPageJson())
    inProcFirstMs.put(rec, (System.nanoTime() - t0) / 1e6)
    var offset = 100L
    var more = true
    while (more) {
      val t = System.nanoTime()
      more = tr.span("query.page")(rq.nextPageJson()).isDefined
      if (more) replicaPages.add((offset, (System.nanoTime() - t) / 1e6))
      offset += 100
    }
    tr.span("query.close") { df.unpersist(); cursor.close(id) }
  }

  private def http(method: String, path: String, params: Map[String, String]): (Int, String) = {
    val qs = params.map { case (k, v) => s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("&")
    val c = URI.create(s"$base$path?$qs").toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod(method)
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
      (code, body)
    } finally c.disconnect()
  }

  /** Reference results from plain Spark SQL over the same table and the
    * benchmark's own visibility evaluation; no graft code is involved. */
  private val visibleFrac = new java.util.concurrent.atomic.AtomicReference[Double](Double.NaN)

  def check(recs: Seq[OpRec]): Unit = {
    val ref = spark.read.parquet(table)
    ref.createOrReplaceTempView("serve_ref")
    val byQuery = recs.filter(r => r.ok && seen.containsKey(r)).groupBy(r => seen.get(r)._1).toSeq
    // every query's visible uids in one job
    val union = byQuery.zipWithIndex.map { case ((q, _), i) =>
      val allowed = Vis.filter(_._2(Users(q.user))).map(v => s"'${v._1}'").mkString(",")
      s"SELECT $i AS q, uid FROM serve_ref WHERE (${q.sql}) AND visibility IN ($allowed)"
    }
    val uidsOf = if (union.isEmpty) Map.empty[Int, Seq[String]]
      else spark.sql(union.mkString(" UNION ALL ")).collect()
        .groupBy(_.getInt(0)).map { case (i, rows) => i -> rows.toSeq.map(_.getString(1)) }
    var visible = 0L
    var all = 0L
    byQuery.zipWithIndex.foreach { case ((q, rs), i) =>
      val u = uidsOf.getOrElse(i, Nil)
      val want = u.foldLeft(Acc(0, 0))((acc, s) => acc.add(Acc.one(s)))
      visible += u.length
      // only the traced run reports the visible share
      if (a.trace) all += spark.sql(s"SELECT count(*) FROM serve_ref WHERE ${q.sql}").head().getLong(0)
      rs.foreach { r =>
        val (_, n, d) = seen.get(r)
        if (n != want.n || d != want.sum)
          r.fail("check", new IllegalStateException(
            s"${q.syntax} '${q.text}' as ${q.user}: got $n rows/$d, want ${want.n}/${want.sum}"))
      }
    }
    visibleFrac.set(visible.toDouble / math.max(1L, all))
  }

  def layers(recs: Seq[OpRec]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val spans = tr.allSpans
    def p50(name: String, scale: Double = 1e6): Double =
      Main.median(spans.filter(_.name == name).map(s => (s.end - s.start) / scale))
    val pages = replicaPages.asScala.toSeq
    val overhead = httpFirstMs.asScala.toSeq.collect {
      case (r, h) if inProcFirstMs.containsKey(r) => h - inProcFirstMs.get(r)
    }
    Map(
      "jexl.parse_us" -> p50("jexl.parse", 1e3),
      "vis.enforce_ms" -> p50("vis.enforce"),
      "vis.visible_row_frac" -> visibleFrac.get,
      "query.plan_ms" -> (p50("query.plan") - p50("vis.enforce")),
      "query.first_page_ms" -> p50("query.first_page"),
      "query.page_ms" -> Main.median(pages.map(_._2)),
      "query.page_ms_per_1k_offset" -> slope(pages) * 1000,
      "query.close_ms" -> p50("query.close"),
      "query.http_overhead_ms" -> Main.median(overhead))
  }

  /** Least-squares slope of y over x. */
  private def slope(xy: Seq[(Long, Double)]): Double = {
    val n = xy.size.toDouble
    if (n < 2) return Double.NaN
    val mx = xy.map(_._1.toDouble).sum / n
    val my = xy.map(_._2).sum / n
    xy.map { case (x, y) => (x - mx) * (y - my) }.sum / xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
  }
}

object Serve {
  val LayerMetrics: Seq[String] = Seq("jexl.parse_us", "vis.enforce_ms", "vis.visible_row_frac",
    "query.plan_ms", "query.first_page_ms", "query.page_ms", "query.page_ms_per_1k_offset",
    "query.close_ms", "query.http_overhead_ms")

  /** Visibility expressions with the benchmark's own evaluation of each. */
  val Vis: Seq[(String, Set[String] => Boolean)] = Seq(
    ("", _ => true),
    ("PUBLIC", a => a("PUBLIC")),
    ("PUBLIC&FOUO", a => a("PUBLIC") && a("FOUO")),
    ("FOUO|SECRET", a => a("FOUO") || a("SECRET")),
    ("SECRET", a => a("SECRET")),
    ("(FOUO|SECRET)&USA", a => (a("FOUO") || a("SECRET")) && a("USA")),
    ("USA|PUBLIC", a => a("USA") || a("PUBLIC")),
    ("SECRET&USA", a => a("SECRET") && a("USA")))
  private val VisWeights = Seq(10, 30, 15, 15, 8, 8, 10, 4)

  val Users: Map[String, Set[String]] = Map(
    "analyst" -> Set("PUBLIC", "FOUO", "USA"),
    "partner" -> Set("PUBLIC", "SECRET"),
    "auditor" -> Set("PUBLIC", "FOUO", "SECRET", "USA"))
  private val UserNames = Users.keys.toSeq.sorted
  /** The user_id cut of a drain over two days of `view` events: the users
    * see 88%, 73% and 100% of the rows, so each drain pages through about
    * 1200 rows. */
  private val DrainUsers = Map("analyst" -> 1136, "partner" -> 1370, "auditor" -> 1000)

  val NRows = 120000
  val Days = 30
  private val Types = Seq("view", "click", "search", "login", "logout", "error", "upload", "download")
  private val TypeWeights = Seq(30, 20, 15, 10, 10, 5, 5, 5)
  private val Datatypes = Seq("csv", "json", "xml", "wiki")

  val schema: StructType = StructType(Seq(
    StructField("uid", StringType), StructField("datatype", StringType),
    StructField("shard_date", StringType), StructField("visibility", StringType),
    StructField("event_type", StringType), StructField("user_id", LongType),
    StructField("host", StringType), StructField("value", DoubleType)))

  private def pick[T](r: java.util.SplittableRandom, xs: Seq[T], w: Seq[Int]): T = {
    var x = r.nextInt(w.sum)
    var i = 0
    while (x >= w(i)) { x -= w(i); i += 1 }
    xs(i)
  }

  private def day(d: Int): String = f"202401${d + 1}%02d"

  def generate(seed: Long): Array[Row] = {
    val r = new java.util.SplittableRandom(seed * 7919L + 17L)
    Array.tabulate(NRows) { i =>
      Row(f"ev-$i%07d", Datatypes(r.nextInt(Datatypes.size)), day(r.nextInt(Days)),
        pick(r, Vis.map(_._1), VisWeights), pick(r, Types, TypeWeights),
        r.nextLong(2000L), f"web-${r.nextInt(40)}%02d",
        math.round(r.nextDouble() * 100000) / 100.0)
    }
  }

  /** A query with its plain-SQL equivalent over the same columns. */
  final case class Q(syntax: String, text: String, sql: String, user: String)

  /** The `idx`-th query of a client. Its class, shape and user come from
    * the client and the position, so every seed runs the same mix; its
    * terms come from the seed. */
  def query(seed: Long, client: Int, idx: Int): Q = {
    val r = new java.util.SplittableRandom(seed * 1000003L + client * 10007L + idx)
    val user = UserNames((client + idx) % UserNames.size)
    val cycle = idx / 5
    // the second client runs the pattern two places on, so the clients do
    // not fall into lock-step on the same class of query
    val pos = (idx + 2 * client) % 5
    // L lookup, S scan, D drain
    "LSLDL"(pos) match {
      case 'L' =>
        val lookup = cycle * 3 + pos / 2
        if ((lookup + client) % 2 == 0) {
          val u = r.nextLong(2000L)
          Q("JEXL", s"USER_ID == $u", s"user_id = $u", user)
        } else {
          val h = f"web-${r.nextInt(40)}%02d"
          val t = Types(r.nextInt(5))
          val d = day(r.nextInt(Days))
          Q("LUCENE", s"HOST:$h AND EVENT_TYPE:$t AND SHARD_DATE:$d",
            s"host = '$h' AND event_type = '$t' AND shard_date = '$d'", user)
        }
      case 'S' =>
        // ~300 visible rows (about 3 pages) for each shape
        (cycle + client) % 3 match {
          case 0 =>
            val lo = r.nextInt(900)
            val hi = lo + 3
            Q("JEXL", s"VALUE >= $lo && VALUE < $hi", s"value >= $lo AND value < $hi", user)
          case 1 =>
            val d = r.nextInt(10)
            val t = Seq("login", "logout")(r.nextInt(2))
            val dt = Datatypes(r.nextInt(Datatypes.size))
            Q("JEXL", s"HOST =~ 'web-[0-3]$d' && EVENT_TYPE == '$t' && DATATYPE == '$dt'",
              s"host RLIKE '^(?:web-[0-3]$d)$$' AND event_type = '$t' AND datatype = '$dt'", user)
          case _ =>
            val d = r.nextInt(4)
            val t = Seq("error", "upload", "download")(r.nextInt(3))
            val dt = Datatypes(r.nextInt(Datatypes.size))
            Q("LUCENE", s"HOST:web-$d* AND EVENT_TYPE:$t AND DATATYPE:$dt",
              s"host LIKE 'web-$d%' AND event_type = '$t' AND datatype = '$dt'", user)
        }
      case _ =>
        // ~1200 visible rows (about 12 pages) whatever the user's grant
        val from = r.nextInt(Days - 1)
        val cut = DrainUsers(user)
        Q("JEXL", s"EVENT_TYPE == 'view' && SHARD_DATE >= '${day(from)}' && " +
          s"SHARD_DATE <= '${day(from + 1)}' && USER_ID < $cut",
          s"event_type = 'view' AND shard_date >= '${day(from)}' AND " +
            s"shard_date <= '${day(from + 1)}' AND user_id < $cut", user)
    }
  }

  private val QueryId = "\"queryId\":\\s*\"([^\"]+)\"".r
  private val Uid = "\"uid\":\"([^\"]*)\"".r

  /** Order-insensitive digest of a set of uids: count and wrapping sum of
    * 64-bit hashes. */
  final case class Acc(n: Long, sum: Long) {
    def add(o: Acc): Acc = Acc(n + o.n, sum + o.sum)
  }
  object Acc {
    def one(uid: String): Acc = Acc(1, Digest.hash64(uid))
  }

  private def uids(body: String): Acc =
    Uid.findAllMatchIn(body).foldLeft(Acc(0, 0))((acc, m) => acc.add(Acc.one(m.group(1))))
}

object Digest {
  def of(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def hash64(s: String): Long = {
    val b = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(b).getLong
  }
}
