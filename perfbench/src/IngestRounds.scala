package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ingest.Ingest
import graft.query.{QueryParams, ShardQueryLogic}
import graft.streaming.StreamingIngest

/** `ingest`: closed loop of landing rounds against a growing store. Each
  * round lands one events file and one documents file (20% near-duplicates
  * of stored documents), drains StreamingIngest.ingestTo (toLong into
  * shard_date partitions plus MetadataStats) and a visibility-filtered
  * ShardQueryLogic query over the sink returns the round's rows; then
  * StreamingIngest.nearDupStream pairs the documents against the BatchStore.
  * An operation is one round, from landing until both streams are drained. */
final class IngestRounds(spark: SparkSession, a: Args, tr: Tracer) extends Workload {
  import IngestRounds._

  val clients = 1
  val cycle = 1
  val cycleSeconds = 3.3
  private val logic = new ShardQueryLogic()
  private var dir: Path = _
  private var vocab: IndexedSeq[String] = _
  private var r: SplittableRandom = _
  private var round = 0
  private val texts = scala.collection.mutable.ArrayBuffer[(Long, String)]()
  private val digest = java.security.MessageDigest.getInstance("SHA-256")
  private var landedBytes = 0L
  private var storedAtStart = 0L
  private var visibleQueryMs = Seq.empty[Double]

  private def d(name: String): String = dir.resolve(name).toString

  def load(rep: Int): Unit = {
    dir = a.work.resolve(s"ingest-$rep")
    Files.createDirectories(dir.resolve("landing-events"))
    Files.createDirectories(dir.resolve("landing-docs"))
    r = new SplittableRandom(a.seed * 15485863L + 11L)
    vocab = Corpus.vocabulary(a.seed)
    round = 0
    texts.clear()
    digest.reset()
    val base = Corpus.docs(r, vocab, 0L, BaseDocs, nearDupShare = 0.05, exactShare = 0.0)
    texts ++= base
    base.foreach { case (i, t) => digest.update(s"$i\u0001$t\n".getBytes("UTF-8")) }
    // an empty signature store; the base documents land now and become its
    // first batch in the untimed round that warm-up or settle runs
    graft.operators.Dedup.seedDedupStoreBatched(
      Corpus.docFrame(spark, base, a.seed).select("doc_id", "text"), d("store"), n = 3)
    land(docLines(base), "landing-docs", -1)
    landedBytes = 0L
    visibleQueryMs = Nil
  }

  /** Untimed rounds on the first load: round times keep falling for
    * several rounds while the JIT catches up. */
  def warmUp(): Unit = (1 to WarmRounds).foreach(_ => oneRound(new OpRec(-1, 0, false)))

  /** One untimed round on the kept load: the timed rounds start on a
    * store that holds the base documents and a round. */
  override def settle(): Unit = {
    oneRound(new OpRec(-1, 0, false))
    landedBytes = 0L
    storedAtStart = bytes(d("sink")) + bytes(d("store"))
  }

  def release(): Unit = delete(dir)

  def run(rec: OpRec): Unit = oneRound(rec)

  private def oneRound(rec: OpRec): Unit = {
    val k = round
    round += 1
    val user = Serve.Users.keys.toSeq.sorted.apply(k % Serve.Users.size)
    val auths = Serve.Users(user)
    val events = (0 until EventsPerRound).map { i =>
      val vis = Serve.Vis(r.nextInt(Serve.Vis.size))
      (f"r$k%04d-$i%05d", f"2024-01-${1 + (k + r.nextInt(3)) % 28}%02d", vis,
        Seq("view", "click", "search", "login")(r.nextInt(4)), r.nextLong(2000L),
        f"web-${r.nextInt(40)}%02d", math.round(r.nextDouble() * 100000) / 100.0)
    }
    val docs = Corpus.docs(r, vocab, texts.size.toLong, DocsPerRound, nearDupShare = 0.20,
      exactShare = 0.0, earlier = texts.map(_._2).toIndexedSeq)
    texts ++= docs
    val evLines = events.map { case (uid, date, vis, t, u, h, v) =>
      s"""{"uid":"$uid","event_date":"$date","visibility":"${vis._1}","event_type":"$t",""" +
        s""""user_id":$u,"host":"$h","value":$v}"""
    }
    val docJson = docLines(docs)
    (evLines ++ docJson).foreach(l => digest.update((l + "\n").getBytes("UTF-8")))
    landedBytes += land(evLines, "landing-events", k) + land(docJson, "landing-docs", k)
    // the round's clock starts once both files have landed
    rec.start = System.nanoTime()
    tr.span("streaming.events") {
      tr.span("streaming.events_start") {
        StreamingIngest.ingestTo(
          spark.readStream.schema(EventsDdl).json(d("landing-events")), d("sink"), d("ck-events"),
          b => Ingest.toLong(b, "uid", "events", "event_date", Some("visibility")),
          statsDir = Some(d("stats"))).queryName("events").start()
      }.awaitTermination()
    }
    // query the sink until the round's rows are visible under the round's auths
    val want = events.count { case (_, _, vis, _, _, _, _) => vis._2(auths) } * FieldsPerEvent
    val t0 = System.nanoTime()
    var got = -1L
    while (got != want && System.nanoTime() - t0 < VisibleTimeoutNs) {
      got = tr.span("ingest.visible_query") {
        logic.query(spark.read.parquet(d("sink")), f"UID =~ 'r$k%04d-.*'",
          QueryParams(auths = Some(auths))).count()
      }
    }
    rec.first = System.nanoTime() - rec.start
    if (rec.client >= 0) visibleQueryMs :+= (System.nanoTime() - t0) / 1e6
    if (got != want)
      throw new IllegalStateException(s"round $k as $user: $got rows visible, want $want")
    nearDups()
    rec.end = System.nanoTime()
    rec.rows = want / FieldsPerEvent
  }

  private def docLines(docs: Seq[(Long, String)]): Seq[String] =
    docs.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }

  /** Drain the landed documents through the near-dup stream. */
  private def nearDups(): Unit =
    tr.span("streaming.docs") {
      tr.span("streaming.docs_start") {
        StreamingIngest.nearDupStream(
          spark.readStream.schema("doc_id BIGINT, text STRING").json(d("landing-docs")),
          d("store"), d("pairs"), d("ck-docs"), threshold = 0.8).queryName("docs").start()
      }.awaitTermination()
    }

  /** Write the lines beside the landing directory, then move them in. */
  private def land(lines: Seq[String], into: String, k: Int): Long = {
    val tmp = dir.resolve(s"$into-$k.tmp")
    Files.write(tmp, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val size = Files.size(tmp)
    Files.move(tmp, dir.resolve(into).resolve(s"round-${k + 1}.json"), StandardCopyOption.ATOMIC_MOVE)
    size
  }

  /** The union of the streamed pair partitions must equal the one-shot
    * Dedup.ngramJaccardPairs over every document (the batch op is itself
    * checked against its DuckDB oracle by the curate workload). */
  def check(recs: Seq[OpRec]): Unit = {
    val all = Corpus.docFrame(spark, texts.toSeq, a.seed).select("doc_id", "text")
    val oneShot = graft.operators.Dedup.ngramJaccardPairs(all, n = 3, threshold = 0.8)
    val want = oneShot.select("id_a", "id_b", "inter", "uni")
    val got = spark.read.parquet(d("pairs")).select("id_a", "id_b", "inter", "uni")
    val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    oneShot.unpersist()
    if (diff != 0) {
      val e = new IllegalStateException(s"streamed pairs differ from the one-shot set in $diff rows")
      recs.filter(_.ok).foreach(_.fail("check", e))
    }
  }

  def close(): Unit = ()

  def inputDigest: String = digest.clone().asInstanceOf[java.security.MessageDigest]
    .digest().map(b => f"$b%02x").mkString

  def layers(recs: Seq[OpRec]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val n = recs.size.toDouble
    val rounds = round.toDouble
    val sink = spark.read.parquet(d("sink"))
    val events = rounds * EventsPerRound
    val sinkFiles = files(d("sink")).count(_.toString.endsWith(".parquet"))
    // pairs the timed rounds emitted: their later side is a round's document
    val pairs = spark.read.parquet(d("pairs")).filter(s"id_b >= $BaseDocs").count()
    val stream = tr.progress.asScala.toSeq
    def per(name: String, key: String): Double =
      stream.filter(_._1 == name).map(_._3.getOrElse(key, 0L)).sum / n
    val streamMetrics = for {
      s <- Seq("events", "docs")
      (metric, key) <- StreamMetrics
    } yield s"streaming.$s.$metric" -> per(s, key)
    val starts = tr.allSpans.filter(_.name.endsWith("_start")).groupBy(_.name)
    val storeBatches = files(d("store") + "/bands")
      .count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("batch="))
    streamMetrics.toMap ++ Map(
      "streaming.events.start_ms" -> startMs(starts.getOrElse("streaming.events_start", Nil)),
      "streaming.docs.start_ms" -> startMs(starts.getOrElse("streaming.docs_start", Nil)),
      "ingest.long_rows_per_event" -> sink.count() / events,
      "ingest.files_per_round" -> sinkFiles / rounds,
      "ingest.bytes_per_event" -> bytes(d("sink")) / events,
      "ingest.sink_files" -> sinkFiles.toDouble,
      "ingest.visible_query_ms" -> Main.median(visibleQueryMs),
      "ingest.stored_bytes_per_input_byte" ->
        (bytes(d("sink")) + bytes(d("store")) - storedAtStart).toDouble / landedBytes,
      "core.store_batches" -> storeBatches.toDouble,
      "operators.stream_pairs_per_round" -> pairs / rounds,
      "operators.stream_batch_ms" -> per("docs", "addBatch"))
  }

  private def startMs(spans: Seq[Span]): Double = Main.median(spans.map(s => (s.end - s.start) / 1e6))
}

object IngestRounds {
  val StreamMetrics: Seq[(String, String)] = Seq("trigger_ms" -> "triggerExecution",
    "add_batch_ms" -> "addBatch", "query_planning_ms" -> "queryPlanning",
    "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets",
    "latest_offset_ms" -> "latestOffset")
  val LayerMetrics: Seq[String] =
    (for (s <- Seq("events", "docs"); m <- StreamMetrics.map(_._1) :+ "start_ms")
      yield s"streaming.$s.$m") ++
      Seq("ingest.long_rows_per_event", "ingest.files_per_round", "ingest.bytes_per_event",
        "ingest.sink_files", "ingest.visible_query_ms", "ingest.stored_bytes_per_input_byte",
        "core.store_batches", "operators.stream_pairs_per_round", "operators.stream_batch_ms")
  val WarmRounds = 3
  val BaseDocs = 300
  val EventsPerRound = 1000
  val DocsPerRound = 60
  val VisibleTimeoutNs = 30000000000L
  val FieldsPerEvent = 4 // event_type, user_id, host, value
  val EventsDdl = "uid STRING, event_date STRING, visibility STRING, event_type STRING, " +
    "user_id BIGINT, host STRING, value DOUBLE"

  def files(root: String): Seq[Path] = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq } finally s.close()
    }
  }

  def bytes(root: String): Long =
    files(root).filter(Files.isRegularFile(_)).map(Files.size).sum

  def delete(root: Path): Unit =
    files(root.toString).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
}
