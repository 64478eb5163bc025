package graft.streaming

import graft.SparkSpec
import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("watermarked windowed counts over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "event_type")
    val agg = StreamingIngest.windowedCounts(df, "ts", "event_type")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((t("2024-01-01 10:05:00"), "click"),
      (t("2024-01-01 10:20:00"), "click"),
      (t("2024-01-01 10:40:00"), "view"))
    q.processAllAvailable()
    // advance watermark past the 10:00 window
    mem.addData((t("2024-01-01 12:00:00"), "click"))
    q.processAllAvailable()
    val rows = spark.table("win_counts").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("cnt"))).toSet
    q.stop()
    assert(rows.contains(("click", 2L)))
    assert(rows.contains(("view", 1L)))
  }

  test("live uid index maintains count + capped uid list as custom state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String)]
    val long = mem.toDF().toDF("field", "value", "uid")
    val out = StreamingIngest.liveUidIndex(long, maxUids = 2)
    val q = out.writeStream.format("memory").queryName("uidx")
      .outputMode("update").start()
    mem.addData(("F", "a", "u1"), ("F", "a", "u2"), ("F", "b", "u9"))
    q.processAllAvailable()
    mem.addData(("F", "a", "u3"))
    q.processAllAvailable()
    val rows = spark.table("uidx").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("cnt"), r.getSeq[String](3)))
    q.stop()
    // last update for (F, a): exact count 3, uid list capped at 2
    val last = rows.reverse.find(_._1 == ("F", "a")).get._2
    assert(last._1 == 3L)
    assert(last._2.size == 2)
    assert(rows.exists(r => r._1 == ("F", "b") && r._2._1 == 1L))
  }

  test("file-stream ingest writes date-partitioned long layout") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    new java.io.File(in).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch1.json"),
      """{"id":"u1","event_date":"2024-01-01","NAME":"alice","AGE":"30"}
        |{"id":"u2","event_date":"2024-01-02","NAME":"bob","AGE":"41"}""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id STRING, event_date STRING, NAME STRING, AGE STRING")
    val stream = StreamingIngest.fileStream(spark, in, schema)
    val q = StreamingIngest.ingestTo(stream, out, ck,
      b => graft.ingest.Ingest.toLong(b, "id", "people", "event_date")).start()
    q.awaitTermination(60000)
    val written = spark.read.parquet(out)
    assert(written.count() == 4) // 2 records × 2 fields
    assert(written.select("shard_date").distinct().count() == 2)
  }

  test("ingest is the statistics producer: per-batch stats fold at ingest; the parent query reads them with NO backfill") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-statsprod").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    val stats = s"$tmp/stats"
    new java.io.File(in).mkdirs()
    // batch 0: flat roots (depth 1); batch 1: dotted children (depth 2)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f1.json"),
      """{"id":"o1","event_date":"2024-01-01","NAME":"a"}
        |{"id":"o2","event_date":"2024-01-01","NAME":"b"}""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f2.json"),
      """{"id":"o1.1","event_date":"2024-01-02","NAME":"c"}
        |{"id":"o1.2","event_date":"2024-01-02","NAME":"d"}""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id STRING, event_date STRING, NAME STRING")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    val q = StreamingIngest.ingestTo(stream, out, ck,
      b => graft.ingest.Ingest.toLong(b, "id", "people", "event_date"),
      statsDir = Some(stats)).start()
    q.awaitTermination(60000)
    // the store advanced PER BATCH under the ingest tier's own writes
    val batchDirs = new java.io.File(s"$stats/datatype_stats_batches")
      .listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
    assert(batchDirs == Seq("batch=0", "batch=1"), batchDirs.mkString(","))
    assert(graft.ingest.MetadataStats.maxTreeDepth(spark, stats) == Some(2))
    // cnt = long rows (2 records × 1 field per batch, 2 batches)
    assert(graft.ingest.MetadataStats.read(spark, stats)
      .head().getLong(2) == 4L)
    // the plan-time consumer: a corpus BOUND to its ingest-maintained
    // store reads the statistic back and never writes a backfill —
    // sf0.001's tree corpus has true depth 2, the very value the
    // ingest above recorded, so the pruned plan is the correct one
    graft.queries.TreeQueries.bindStats(sf001, stats)
    try {
      def statsFiles() = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(stats))
          .iterator().asScala.map(_.toString).toSet
      }
      val before = statsFiles()
      val viaIngestStats =
        graft.queries.TreeQueries.parentQuery(spark, sf001)
          .collect().map(_.toString).sorted.toSeq
      assert(statsFiles() == before,
        "parentQuery must READ the ingest-maintained statistic, not backfill")
      // same answer as the unbound (backfilling) path
      graft.queries.TreeQueries.invalidateStats(sf001)
      val viaBackfill =
        graft.queries.TreeQueries.parentQuery(spark, sf001)
          .collect().map(_.toString).sorted.toSeq
      assert(viaIngestStats == viaBackfill)
    } finally graft.queries.TreeQueries.invalidateStats(sf001)
  }

  test("crashed micro-batch replays from the checkpoint exactly once") {
    // FlagMaker crash-recovery analog (and the streaming counterpart of
    // RunningQuerySpec's kill-and-resume): three single-file micro-batches;
    // the sink job is killed while batch 1 is in flight, a NEW query
    // instance restarts over the same checkpoint, and the sink must hold
    // every input row exactly once — committed batch 0 is not replayed,
    // the failed batch is, the rest follow.
    val tmp = java.nio.file.Files.createTempDirectory("graft-chaos").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    new java.io.File(in).mkdirs()
    for (i <- 1 to 3)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f$i.json"),
        s"""{"id":"a$i"}\n{"id":"b$i"}""")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id STRING")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        if (id == 1 && crashed.compareAndSet(false, true))
          throw new RuntimeException("chaos: killed mid-batch")
        b.write.mode("append").parquet(out)
      }.start()
    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    val q2 = start() // fresh instance, same checkpoint
    q2.awaitTermination(60000)
    val ids = spark.read.parquet(out).collect().map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("a1", "a2", "a3", "b1", "b2", "b3"))
  }

  test("batch replayed AFTER its write does not duplicate output") {
    // the crash window a plain append sink cannot survive: the batch's
    // files are fully written but the checkpoint commit never lands, so
    // the restart REPLAYS the batch. ingestTo's per-batch
    // `batch_id=N` overwrite partition makes the replay replace its own
    // output; this drives that exact write pattern with a crash injected
    // after the write completes.
    val tmp = java.nio.file.Files.createTempDirectory("graft-idem").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    new java.io.File(in).mkdirs()
    for (i <- 1 to 3)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f$i.json"),
        s"""{"id":"u$i","d":"2024-01-0$i","NAME":"n$i"}""")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id STRING, d STRING, NAME STRING")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.ingest.Ingest.toLong(b, "id", "t", "d").write.mode("overwrite")
          .partitionBy("shard_date").parquet(s"$out/batch_id=$id")
        if (id == 1 && crashed.compareAndSet(false, true))
          throw new RuntimeException("chaos: crashed after write, before commit")
      }.start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      start().awaitTermination()
    }
    start().awaitTermination(60000)
    val written = spark.read.parquet(out)
    assert(written.count() == 3) // one NAME row per record, exactly once
    assert(written.select("uid").distinct().count() == 3)
  }

  test("streaming facet sketches append per batch and merge exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-facet").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    new java.io.File(in).mkdirs()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "day STRING, user STRING, et STRING")
    def runWave(): Unit = {
      val q = StreamingIngest.facetSketchStream(
        StreamingIngest.fileStream(spark, in, schema), out, ck,
        "day", "user", "et").start()
      q.awaitTermination(60000)
    }
    // wave 1: two days of activity for u1/u2
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/w1.json"),
      """{"day":"d1","user":"u1","et":"click"}
        |{"day":"d1","user":"u1","et":"view"}
        |{"day":"d1","user":"u2","et":"click"}
        |{"day":"d2","user":"u1","et":"click"}""".stripMargin)
    runWave()
    // wave 2 arrives later: new day, new event type for u1, first u3 row
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/w2.json"),
      """{"day":"d3","user":"u1","et":"purchase"}
        |{"day":"d3","user":"u2","et":"click"}
        |{"day":"d3","user":"u3","et":"error"}""".stripMargin)
    runWave()
    // the facet table holds per-(day, user) sketch rows appended by both
    // waves; merging yields exact event-type diversity per user
    val merged = graft.ingest.Facets.merge(spark.read.parquet(out), "user")
      .orderBy("user")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(merged.toSeq == Seq(("u1", 3L, 4L), ("u2", 1L, 2L), ("u3", 1L, 1L)))
  }

  // Near-dup streaming: a small corpus with known duplicate structure.
  // d6 = copy of d0, d7 = d0 + one extra token (jaccard ≈ 0.97),
  // d8 = copy of d3; everything else distinct.
  private def nearDupCorpus = {
    val sentences = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      "one two three four five six seven eight nine ten eleven twelve",
      "red orange yellow green blue indigo violet cyan magenta white black grey",
      "north south east west up down left right forward backward inward outward",
      "spark catalyst tungsten codegen shuffle partition broadcast join scan filter project agg",
      "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor")
    val rows = Seq(
      0L -> sentences(0), 1L -> sentences(1), 2L -> sentences(2),
      3L -> sentences(3), 4L -> sentences(4), 5L -> sentences(5),
      6L -> sentences(0), 7L -> (sentences(0) + " extra"),
      8L -> sentences(3))
    rows.toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Int)] =
    df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
      r.getAs[Int]("inter"), r.getAs[Int]("uni"))).toSet

  test("streaming near-dup converges to the one-shot pair set under any batch split") {
    val docs = nearDupCorpus
    val oneShot = pairSet(graft.operators.Dedup.minhashLshPairs(docs, n = 3,
      threshold = 0.8))
    assert(oneShot.map { case (a, b, _, _) => (a, b) } ==
      Set((0L, 6L), (0L, 7L), (6L, 7L), (3L, 8L)))
    for (nSplit <- Seq(2, 3)) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-snd").toString
      docs.repartition(nSplit).write.parquet(s"$tmp/in")
      if (nSplit == 3) landEmptyFile(docs, tmp)
      graft.operators.Dedup.seedDedupStoreBatched(docs, s"$tmp/store", n = 3)
      val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = StreamingIngest.nearDupStream(stream, s"$tmp/store",
        s"$tmp/pairs", s"$tmp/ck", threshold = 0.8).start()
      q.awaitTermination(120000)
      val streamed = pairSet(spark.read.parquet(s"$tmp/pairs")
        .select("id_a", "id_b", "inter", "uni"))
      assert(streamed == oneShot, s"split=$nSplit")
      assert(registered(tmp) == nSplit, s"split=$nSplit")
    }
  }

  /** A zero-row file in the landing zone: it produces an EMPTY
    * micro-batch, which the stream must skip, not wedge on or register
    * as an empty partition. */
  private def landEmptyFile(docs: org.apache.spark.sql.DataFrame,
                            tmp: String): Unit = {
    docs.limit(0).repartition(1).write.parquet(s"$tmp/empty")
    val part = new java.io.File(s"$tmp/empty").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$tmp/in", "zz-" + part.getName))
  }

  /** Batch partitions the stream registered in the store's bands table
    * (the seed partition aside). */
  private def registered(tmp: String): Int =
    new java.io.File(s"$tmp/store/bands").listFiles()
      .count(f => f.getName.startsWith("batch=") && f.getName != "batch=seed")

  test("streaming near-dup over the driver-set ceiling pairs through joins to the same set") {
    // a ceiling below one batch's band rows sends every non-empty
    // trigger down the plain-join path instead of the driver-side probe;
    // a ceiling switched off sends the empty trigger there too
    val docs = nearDupCorpus
    val oneShot = pairSet(graft.operators.Dedup.minhashLshPairs(docs, n = 3,
      threshold = 0.8))
    val ceiling = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(ceiling)
    for (c <- Seq("1000", "-1")) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sndj").toString
      docs.repartition(3).write.parquet(s"$tmp/in")
      landEmptyFile(docs, tmp)
      graft.operators.Dedup.seedDedupStoreBatched(docs, s"$tmp/store", n = 3)
      spark.conf.set(ceiling, c)
      try StreamingIngest.nearDupStream(
          spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in"),
          s"$tmp/store", s"$tmp/pairs", s"$tmp/ck", threshold = 0.8)
        .start().awaitTermination(120000)
      finally spark.conf.set(ceiling, prev)
      assert(pairSet(spark.read.parquet(s"$tmp/pairs")
        .select("id_a", "id_b", "inter", "uni")) == oneShot, s"ceiling $c")
      assert(registered(tmp) == 3, s"ceiling $c")
      graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
  }

  test("batched dedup store: string doc ids and mid-stream compaction") {
    // the seed derives its schema from the corpus frame — a string-id
    // corpus must round-trip (a type pinned at seed time would make the
    // seed partition's footer conflict with every later batch's), and
    // compactDedupStore must preserve the batch-partitioned layout so
    // later appends keep a consistent directory
    val docs = nearDupCorpus.select(
      concat(lit("d"), col("doc_id")).as("doc_id"), col("text"))
    val oneShot = graft.operators.Dedup.minhashLshPairs(docs, n = 3,
        threshold = 0.8).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(oneShot.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft-sndstr").toString
    graft.operators.Dedup.seedDedupStoreBatched(docs, dir, n = 3)
    val ids0 = Seq("d0", "d1", "d2", "d3", "d4")
    val b0 = docs.filter(col("doc_id").isin(ids0: _*))
    val b1 = docs.filter(!col("doc_id").isin(ids0: _*))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val p0 = pairs(graft.operators.Dedup.incrementalNearDupPairs(b0, dir, 0.8))
    graft.operators.Dedup.appendDedupStoreBatch(b0, dir, 0L)
    graft.operators.Dedup.compactDedupStore(spark, dir) // between batches
    val subdirs = new java.io.File(s"$dir/shingles").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(subdirs == Seq("batch=compacted"), subdirs.mkString(","))
    val p1 = pairs(graft.operators.Dedup.incrementalNearDupPairs(b1, dir, 0.8))
    graft.operators.Dedup.appendDedupStoreBatch(b1, dir, 1L)
    assert((p0 ++ p1) == oneShot)
  }

  test("near-dup batch replayed AFTER its store append recomputes identical pairs") {
    // the crash window the batched store layout exists for: batch 1's
    // pairs are written and its shingles APPENDED, but the checkpoint
    // commit never lands — the restart replays the batch against a store
    // that already contains it. The incremental plan's anti-join on the
    // batch's own ids must make the replay compute the SAME pairs (not
    // doubled shingles), and the batch=N overwrite must replace, not
    // duplicate, the store registration.
    val docs = nearDupCorpus
    val oneShot = pairSet(graft.operators.Dedup.minhashLshPairs(docs, n = 3,
      threshold = 0.8))
    val tmp = java.nio.file.Files.createTempDirectory("graft-sndx").toString
    docs.repartition(3).write.parquet(s"$tmp/in")
    graft.operators.Dedup.seedDedupStoreBatched(docs, s"$tmp/store", n = 3)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      .writeStream.option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        // same body as StreamingIngest.nearDupStream, plus the crash
        val bp = b.persist()
        val pairs = graft.operators.Dedup
          .incrementalNearDupPairs(bp, s"$tmp/store", 0.8)
        pairs.write.mode("overwrite").parquet(s"$tmp/pairs/batch_id=$id")
        pairs.unpersist()
        graft.operators.Dedup.appendDedupStoreBatch(bp, s"$tmp/store", id)
        bp.unpersist()
        if (id == 1 && crashed.compareAndSet(false, true))
          throw new RuntimeException("chaos: crashed after append, before commit")
      }.start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      start().awaitTermination()
    }
    start().awaitTermination(120000)
    val streamed = pairSet(spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "inter", "uni"))
    assert(streamed == oneShot)
    // the replayed batch's registration did not duplicate shingle rows
    val storeIds = spark.read.parquet(s"$tmp/store/shingles")
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(storeIds == 0)
  }

  test("nearDupStream killed after its pairs, bands or shingles write replays to the one-shot pair set") {
    // the real stream path, killed at each step of its write sequence
    // for batch 1: before the bands write (pairs landed), before the
    // shingles write (bands registered) and before the checkpoint
    // commit (all three landed). The restart replays batch 1.
    val docs = nearDupCorpus
    val oneShot = pairSet(graft.operators.Dedup.minhashLshPairs(docs, n = 3,
      threshold = 0.8))
    val hconf = spark.sparkContext.hadoopConfiguration
    val fmKey = "spark.sql.streaming.checkpointFileManagerClass"
    for ((killed, pattern) <- Seq(
        "pairs" -> "/store/bands/batch=1(/|$)",
        "bands" -> "/store/shingles/batch=1(/|$)",
        "shingles" -> "/ck/commits/\\.?1(\\.|$)")) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sndk").toString
      docs.repartition(3).write.parquet(s"$tmp/in")
      graft.operators.Dedup.seedDedupStoreBatched(docs, s"$tmp/store", n = 3)
      def start() = StreamingIngest.nearDupStream(
        spark.readStream.schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in"),
        s"$tmp/store", s"$tmp/pairs", s"$tmp/ck", threshold = 0.8).start()
      hconf.set("fs.file.impl", classOf[ChaosFs].getName)
      hconf.setBoolean("fs.file.impl.disable.cache", true)
      // commit-log writes go through the FileSystem API, so the last
      // kill point is reachable through the same injected file system
      spark.conf.set(fmKey, "org.apache.spark.sql.execution.streaming" +
        ".checkpointing.FileSystemBasedCheckpointFileManager")
      try {
        ChaosFs.arm(pattern)
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          start().awaitTermination(120000)
        }
        assert(ChaosFs.fired, s"kill after $killed never fired")
        start().awaitTermination(120000)
      } finally {
        ChaosFs.disarm()
        hconf.unset("fs.file.impl")
        hconf.unset("fs.file.impl.disable.cache")
        spark.conf.unset(fmKey)
      }
      val rows = spark.read.parquet(s"$tmp/pairs")
        .select("id_a", "id_b", "inter", "uni")
      assert(pairSet(rows) == oneShot && rows.count() == oneShot.size,
        s"killed after $killed")
      val dupShingles = spark.read.parquet(s"$tmp/store/shingles")
        .groupBy("doc_id").count().filter(col("count") > 1).count()
      assert(dupShingles == 0, s"killed after $killed")
      graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
  }

  test("streamed composed curation equals the batch pipeline under any split, replay-idempotent") {
    // corpus shaped to exercise every stage: quality drops some rows,
    // duplicates span batches (later batch carries the SMALLER id so
    // the min-id survivor decision must be corpus-level, not per-batch),
    // one domain exceeds the cap
    val good = (i: Long) =>
      ("the quick brown fox jumps over the lazy dog with " +
        s"seven extra common words and the number $i here").toLowerCase
    val docs = (
      (1L to 12L).map(i => (i, "hot", good(i))) ++
      Seq((20L, "cold", good(3)),   // dup of id 3, different domain
          (0L, "cold", good(7)),    // dup of id 7, SMALLER id, later batch
          (30L, "cold", "short"),   // quality-dropped
          (31L, "cold", good(31)))
    ).toDF("doc_id", "source", "text")
    def curation(in: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, String)] = {
      val kept = graft.operators.TextOps.qualityFilter(in, minTokens = 5,
          maxTokens = 100, minMeanTokLen = 1.0, maxMeanTokLen = 10.0,
          minAlphaRatio = 0.5, minStopwordRatio = 0.01,
          carry = Seq("source", "text")).filter(col("keep"))
      val surv = graft.operators.Dedup.exactKeep(
        kept.select("doc_id", "source", "text")).select("doc_id", "source")
      graft.operators.Sampling.splitAssign(
          graft.operators.Sampling.domainCapOnePass(surv, "source", 8),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.2), "cs")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getString(3))).toSet
    }
    val batchAnswer = curation(docs)
    assert(batchAnswer.nonEmpty && !batchAnswer.exists(_._1 == 30L))
    // doc 0 (later-arriving smaller id) must displace 7; 20 must lose to 3
    assert(batchAnswer.exists(_._1 == 0L) && !batchAnswer.exists(_._1 == 7L))
    assert(!batchAnswer.exists(_._1 == 20L))
    def result(dir: String): Set[(Long, String, Long, String)] =
      StreamingIngest.curationResult(spark, dir, cap = 8,
          Seq("train" -> 0.8, "val" -> 0.2), "cs")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getString(3))).toSet
    for (nSplit <- Seq(2, 3)) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scur").toString
      // doc 0 must arrive AFTER doc 7: order the files by descending id
      docs.orderBy(col("doc_id").desc)
        .repartitionByRange(nSplit, col("doc_id").desc)
        .write.parquet(s"$tmp/in")
      val stream = spark.readStream
        .schema("doc_id BIGINT, source STRING, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      StreamingIngest.curationStream(stream, s"$tmp/ledger", s"$tmp/ck",
          minTokens = 5, maxTokens = 100, minMeanTokLen = 1.0,
          maxMeanTokLen = 10.0, minAlphaRatio = 0.5,
          minStopwordRatio = 0.01).start().awaitTermination(120000)
      assert(result(s"$tmp/ledger") == batchAnswer, s"split=$nSplit")
      // crash-replay: re-register one input file's batch — the
      // overwrite of its own batch=N partition must REPLACE the
      // registration, leaving the ledger answer unchanged and no
      // doc registered twice
      val f0 = new java.io.File(s"$tmp/in").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val in0 = spark.read.parquet(f0.getAbsolutePath)
      val kept0 = graft.operators.TextOps.qualityFilter(in0, minTokens = 5,
          maxTokens = 100, minMeanTokLen = 1.0, maxMeanTokLen = 10.0,
          minAlphaRatio = 0.5, minStopwordRatio = 0.01,
          carry = Seq("source", "text"))
        .filter(col("keep"))
        .select(col("doc_id"), col("source"),
          graft.operators.TextOps.fingerprint(col("text")).as("fingerprint"))
      // which micro-batch registered this file? the one holding its ids
      val bid = spark.read.parquet(s"$tmp/ledger/kept")
        .join(kept0.select("doc_id"), Seq("doc_id"), "left_semi")
        .select("batch").head().get(0)
      kept0.write.mode("overwrite").parquet(s"$tmp/ledger/kept/batch=$bid")
      val dupIds = spark.read.parquet(s"$tmp/ledger/kept")
        .groupBy("doc_id").count().filter(col("count") > 1).count()
      assert(dupIds == 0, s"split=$nSplit: replay duplicated rows")
      assert(result(s"$tmp/ledger") == batchAnswer, s"split=$nSplit replay")
    }
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def realPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (x * 3) << 16)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def realWav(nSamples: Int): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples) {
      val v = (math.sin(i * 0.2) * 10000).toInt
      pcm(i * 2) = (v & 0xff).toByte
      pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private lazy val media = Seq(
    (1L, "image", realPng(64, 32), "png"),
    (2L, "video", graft.TestMedia.mp4(320, 240, Seq(95)), "mp4"),
    (3L, "audio", realWav(2000), "wav"))
    .toDF("media_id", "modality", "content", "format")

  test("probe decodes real metadata per byte content") {
    val out = Multimodal.probeAll(media)
    assert(out.columns.toSet.contains("width"))
    val r1 = out.filter(col("media_id") === 1).head()
    val r1b = Multimodal.probeAll(media).filter(col("media_id") === 1).head()
    assert(r1.getAs[Int]("width") == r1b.getAs[Int]("width"))
    assert(r1.getAs[Int]("width") == 64 && r1.getAs[Int]("height") == 32)
    val r3 = out.filter(col("media_id") === 3).head()
    assert(r3.getAs[Int]("width") == 8000) // audio: (rate, channels, frames)
  }

  test("feature extraction yields fixed-dim vectors usable by VectorOps") {
    val feats = Multimodal.extractFeatures(media, dim = 16)
    assert(feats.count() == 3)
    val v = feats.head().getSeq[Float](1)
    assert(v.length == 16)
    assert(v.forall(f => f >= 0.0f && f <= 1.0f))
    // pipe into cosine — plumbing compatibility check
    val sims = feats.as("a").join(feats.as("b"),
        col("a.media_id") < col("b.media_id"))
      .select(graft.operators.VectorOps.cosine(
        col("a.embedding"), col("b.embedding")).as("c"))
    assert(sims.collect().forall(r => !r.isNullAt(0)))
  }

  test("frame sampling plans indices from probed frame counts") {
    val plan = Multimodal.frameSamplePlan(media, everyN = 10)
    assert(plan.count() == 1) // only the video row
    val idx = plan.head().getSeq[Int](1)
    assert(idx.head == 0)
  }

  private def gray(l: Double): Int = {
    val v = math.max(0, math.min(255, l.toInt)); (v << 16) | (v << 8) | v
  }
  private def tex(fx: Double, fy: Double)(x: Int, y: Int): Int =
    gray(128 + 60 * math.sin(x / fx) * math.cos(y / fy) +
      30 * math.sin((x + 2 * y) / 7.0))

  test("pHash sees pixels, not bytes: identical content across containers, edits nearby") {
    val a = graft.TestMedia.image(64, 64, "png", tex(3.0, 5.0))
    val aBmp = graft.TestMedia.image(64, 64, "bmp", tex(3.0, 5.0))
    val aJpg = graft.TestMedia.image(64, 64, "jpg", tex(3.0, 5.0))
    val other = graft.TestMedia.image(64, 64, "png", tex(6.0, 2.0))
    val pa = Multimodal.phash64(a).get
    assert(Multimodal.phash64(aBmp).get == pa)
    // jpg decodes to (near-)identical pixels for this texture — the
    // re-encode near-dup case
    assert(java.lang.Long.bitCount(Multimodal.phash64(aJpg).get ^ pa) <= 4)
    // a different texture clears the dedup cutoff (measured 14 here;
    // unrelated naturals sit near 32)
    assert(java.lang.Long.bitCount(Multimodal.phash64(other).get ^ pa) > 10)
    assert(Multimodal.phash64("garbage".getBytes).isEmpty)
  }

  test("streamed image dedup converges to the one-shot pair set; replay after append is exact") {
    val corpus = graft.queries.StreamingQueries.phashCorpus(spark)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("hamming"))).toSet
    val oneShot = pairSet(Multimodal.imageNearDupPairs(corpus, 10))
    assert(oneShot.nonEmpty)
    for (nSplit <- Seq(2, 3)) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sph").toString
      corpus.repartition(nSplit).write.parquet(s"$tmp/in")
      Multimodal.seedPhashStoreBatched(spark, s"$tmp/store")
      val stream = spark.readStream.schema(Multimodal.mediaSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      StreamingIngest.imageDedupStream(stream, s"$tmp/store",
        s"$tmp/pairs", s"$tmp/ck", maxHamming = 10)
        .start().awaitTermination(120000)
      assert(pairSet(spark.read.parquet(s"$tmp/pairs")
        .select("id_a", "id_b", "hamming")) == oneShot, s"split=$nSplit")
      // the crash window: a batch replayed AFTER its store append must
      // recompute identical pairs (the store-side anti-join on its own
      // ids) and replace — not duplicate — its registration
      val f0 = new java.io.File(s"$tmp/in").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val in0 = spark.read.parquet(f0.getAbsolutePath)
      val ph0 = Multimodal.imagePHash(in0)
        .filter(org.apache.spark.sql.functions.col("phash").isNotNull)
      val bid = spark.read.parquet(s"$tmp/store/phashes")
        .join(ph0.select("media_id"), Seq("media_id"), "left_semi")
        .select("batch").head().get(0)
      Multimodal.streamBatchImageDedup(in0, s"$tmp/store", s"$tmp/pairs",
        bid.toString.toLong, maxHamming = 10)
      assert(pairSet(spark.read.parquet(s"$tmp/pairs")
        .select("id_a", "id_b", "hamming")) == oneShot,
        s"split=$nSplit replay")
      val dup = spark.read.parquet(s"$tmp/store/phashes")
        .groupBy("media_id").count()
        .filter(org.apache.spark.sql.functions.col("count") > 1).count()
      assert(dup == 0, s"split=$nSplit: replay duplicated store rows")
    }
  }

  test("imageNearDupPairs: pigeonhole candidates + verify == brute-force all pairs") {
    val fs: Seq[(Int, Int) => Int] = Seq(
      tex(3.0, 5.0), tex(3.1, 5.0), tex(3.0, 5.2), tex(6.0, 2.0),
      tex(2.0, 8.0), (x, y) => gray((tex(3.0, 5.0)(x, y) & 0xFF) +
        (if (x < 20) 35 else 0)))
    val rows = fs.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.Row((i + 1).toLong, "image",
        graft.TestMedia.image(64, 64, "png", f), "png")
    } :+ org.apache.spark.sql.Row(99L, "image",
      "junk".getBytes("UTF-8"), "png")
    val mediaDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    // 3/4/10/15 exercise all three band structures (4x16 / 8x8 / 16x4)
    for (maxH <- Seq(3, 4, 10, 15)) {
      val got = Multimodal.imageNearDupPairs(mediaDf, maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val hashes = Multimodal.imagePHash(mediaDf).collect()
        .filter(!_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1)))
      val brute = (for {
        (ia, pa) <- hashes; (ib, pb) <- hashes if ia < ib
        d = java.lang.Long.bitCount(pa ^ pb) if d <= maxH
      } yield (ia, ib, d.toLong)).toSet
      assert(got == brute, s"maxH=$maxH got=$got brute=$brute")
      assert(!got.exists(p => p._1 == 99L || p._2 == 99L))
    }
    // the banding guarantee stops at 15
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(mediaDf, 16)
    }
  }

  test("afp64 sees samples, not bytes: identical PCM across containers, edits nearby") {
    val n = 16000
    val wA = (i: Int) =>
      0.7 * math.sin(2 * math.Pi * i * (0.02 + 0.22 * i / n.toDouble)) +
        0.3 * math.sin(2 * math.Pi * 0.07 * i)
    val wAEdit = (i: Int) => if (i >= 7000 && i < 9000) wA(i) * 1.8 else wA(i)
    val wB = (i: Int) =>
      0.6 * math.sin(2 * math.Pi * i * (0.30 - 0.25 * i / n.toDouble)) +
        0.4 * math.sin(2 * math.Pi * 0.04 * i)
    val fa = Multimodal.afp64(graft.TestMedia.audio(8000, n, "wav", wA)).get
    // AIFF is big-endian — identical canonical PCM, identical fingerprint
    assert(Multimodal.afp64(graft.TestMedia.audio(8000, n, "aiff", wA)).get == fa)
    // global gain drops out of sign-of-difference coding entirely
    assert(Multimodal.afp64(
      graft.TestMedia.audio(8000, n, "wav", i => wA(i) * 0.5)).get == fa)
    val fEdit = Multimodal.afp64(graft.TestMedia.audio(8000, n, "wav", wAEdit)).get
    val dEdit = java.lang.Long.bitCount(fa ^ fEdit)
    assert(dEdit >= 1 && dEdit <= 10, s"edit moved $dEdit bits")
    val fb = Multimodal.afp64(graft.TestMedia.audio(8000, n, "wav", wB)).get
    assert(java.lang.Long.bitCount(fa ^ fb) > 15)
    assert(Multimodal.afp64("garbage".getBytes).isEmpty)
  }

  test("audioNearDupPairs: pigeonhole candidates + verify == brute-force all pairs") {
    val corpus = graft.queries.StreamingQueries.afpCorpus(spark)
    for (maxH <- Seq(3, 4, 10)) {
      val got = Multimodal.audioNearDupPairs(corpus, maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val hashes = Multimodal.audioFingerprints(corpus).collect()
        .filter(!_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1)))
      val brute = (for {
        (ia, pa) <- hashes; (ib, pb) <- hashes if ia < ib
        d = java.lang.Long.bitCount(pa ^ pb) if d <= maxH
      } yield (ia, ib, d.toLong)).toSet
      assert(got == brute, s"maxH=$maxH got=$got brute=$brute")
      assert(!got.exists(p => p._1 == 8L || p._2 == 8L)) // junk row excluded
    }
  }

  test("streamed audio dedup converges to the one-shot pair set; replay after append is exact") {
    val corpus = graft.queries.StreamingQueries.afpCorpus(spark)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("hamming"))).toSet
    val oneShot = pairSet(Multimodal.audioNearDupPairs(corpus, 10))
    assert(oneShot.nonEmpty)
    val tmp = java.nio.file.Files.createTempDirectory("graft-safp").toString
    corpus.repartition(3).write.parquet(s"$tmp/in")
    Multimodal.seedPhashStoreBatched(spark, s"$tmp/store")
    val stream = spark.readStream.schema(Multimodal.mediaSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    StreamingIngest.audioDedupStream(stream, s"$tmp/store",
      s"$tmp/pairs", s"$tmp/ck", maxHamming = 10)
      .start().awaitTermination(120000)
    assert(pairSet(spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "hamming")) == oneShot)
    // crash window: a batch replayed AFTER its store append recomputes
    // identical pairs and replaces its registration
    val f0 = new java.io.File(s"$tmp/in").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val in0 = spark.read.parquet(f0.getAbsolutePath)
    val ph0 = Multimodal.audioFingerprints(in0)
      .filter(org.apache.spark.sql.functions.col("phash").isNotNull)
    val bid = spark.read.parquet(s"$tmp/store/phashes")
      .join(ph0.select("media_id"), Seq("media_id"), "left_semi")
      .select("batch").head().get(0)
    Multimodal.streamBatchAudioDedup(in0, s"$tmp/store", s"$tmp/pairs",
      bid.toString.toLong, maxHamming = 10)
    assert(pairSet(spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "hamming")) == oneShot, "replay")
    val dup = spark.read.parquet(s"$tmp/store/phashes")
      .groupBy("media_id").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(dup == 0, "replay duplicated store rows")
  }

  test("vfp64 sees the size envelope, not bytes: identical sequences across containers") {
    val n = 130
    val sA = Seq.tabulate(n)(i => if (i % 10 == 0) 150 else 20 + 6 * (i % 7))
    val f = Multimodal.vfp64(graft.TestMedia.mp4(320, 240, Seq(n), sA), "mp4").get
    // Matroska and AVI carry the same sequence shifted by constant
    // per-sample header offsets — first differences cancel the shift
    assert(Multimodal.vfp64(graft.TestMedia.mkv(320, 240, sA), "mkv").get == f)
    assert(Multimodal.vfp64(graft.TestMedia.avi(320, 240, sA), "avi").get == f)
    // uniform bitrate scaling (a quality knob) drops out too
    assert(Multimodal.vfp64(
      graft.TestMedia.mp4(320, 240, Seq(n), sA.map(_ * 3)), "mp4").get == f)
    // a replaced scene moves only the windows it touches
    val sEdit = sA.zipWithIndex.map { case (v, i) => if (i >= 64 && i < 72) 90 else v }
    val d = java.lang.Long.bitCount(f ^
      Multimodal.vfp64(graft.TestMedia.mp4(320, 240, Seq(n), sEdit), "mp4").get)
    assert(d >= 1 && d <= 10, s"edit moved $d bits")
    // too-short tracks and unparseable bytes hash null
    assert(Multimodal.vfp64(graft.TestMedia.mp4(320, 240, Seq(10)), "mp4").isEmpty)
    assert(Multimodal.vfp64("garbage".getBytes, "mp4").isEmpty)
  }

  test("videoNearDupPairs: pigeonhole candidates + verify == brute-force all pairs") {
    val corpus = graft.queries.StreamingQueries.vfpCorpus(spark)
    for (maxH <- Seq(3, 4, 10)) {
      val got = Multimodal.videoNearDupPairs(corpus, maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val hashes = Multimodal.videoFingerprints(corpus).collect()
        .filter(!_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1)))
      val brute = (for {
        (ia, pa) <- hashes; (ib, pb) <- hashes if ia < ib
        d = java.lang.Long.bitCount(pa ^ pb) if d <= maxH
      } yield (ia, ib, d.toLong)).toSet
      assert(got == brute, s"maxH=$maxH got=$got brute=$brute")
      assert(!got.exists(p => p._1 >= 9L || p._2 >= 9L)) // null-hash rows excluded
    }
  }

  test("streamed video dedup converges to the one-shot pair set; replay after append is exact") {
    val corpus = graft.queries.StreamingQueries.vfpCorpus(spark)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("hamming"))).toSet
    val oneShot = pairSet(Multimodal.videoNearDupPairs(corpus, 10))
    assert(oneShot.nonEmpty)
    val tmp = java.nio.file.Files.createTempDirectory("graft-svfp").toString
    corpus.repartition(3).write.parquet(s"$tmp/in")
    Multimodal.seedPhashStoreBatched(spark, s"$tmp/store")
    val stream = spark.readStream.schema(Multimodal.mediaSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    StreamingIngest.videoDedupStream(stream, s"$tmp/store",
      s"$tmp/pairs", s"$tmp/ck", maxHamming = 10)
      .start().awaitTermination(120000)
    assert(pairSet(spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "hamming")) == oneShot)
    val f0 = new java.io.File(s"$tmp/in").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val in0 = spark.read.parquet(f0.getAbsolutePath)
    val ph0 = Multimodal.videoFingerprints(in0)
      .filter(org.apache.spark.sql.functions.col("phash").isNotNull)
    val bid = spark.read.parquet(s"$tmp/store/phashes")
      .join(ph0.select("media_id"), Seq("media_id"), "left_semi")
      .select("batch").head().get(0)
    Multimodal.streamBatchVideoDedup(in0, s"$tmp/store", s"$tmp/pairs",
      bid.toString.toLong, maxHamming = 10)
    assert(pairSet(spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "hamming")) == oneShot, "replay")
    val dup = spark.read.parquet(s"$tmp/store/phashes")
      .groupBy("media_id").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(dup == 0, "replay duplicated store rows")
  }

  test("imageProbeHash: one decode yields dims plus the same hash as phash64") {
    import org.apache.spark.sql.Row
    val wide = graft.TestMedia.image(64, 8, "png", tex(3.0, 5.0)) // degenerate aspect
    val ok = graft.TestMedia.image(64, 64, "png", tex(3.0, 5.0))
    val rows = Seq(
      Row(1L, "image", ok, "png"),
      Row(2L, "image", wide, "png"),
      Row(3L, "image", "junk".getBytes("UTF-8"), "png"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.mediaSchema)
    val got = Multimodal.imageProbeHash(df).orderBy("media_id").collect()
    assert(got(0).getInt(1) == 64 && got(0).getInt(2) == 64 &&
      got(0).getLong(3) == Multimodal.phash64(ok).get)
    // a 64x8 image DECODES (hash present) — the pipeline's >=32px-both-
    // dimensions gate is what drops it, so height must be reported
    assert(got(1).getInt(2) == 8 &&
      got(1).getLong(3) == Multimodal.phash64(wide).get)
    assert(got(2).getInt(1) == 0 && got(2).isNullAt(3))
  }

  test("compactPhashStore: batch splinters collapse, mid-stream compaction preserves pairs") {
    import org.apache.spark.sql.functions.col
    val corpus = graft.queries.StreamingQueries.phashCorpus(spark)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("hamming"))).toSet
    val oneShot = pairSet(Multimodal.imageNearDupPairs(corpus, 10))
    val tmp = java.nio.file.Files.createTempDirectory("graft-cph").toString
    Multimodal.seedPhashStoreBatched(spark, s"$tmp/store")
    val b1 = corpus.filter(col("media_id") <= 4)
    val b2 = corpus.filter(col("media_id") > 4)
    Multimodal.streamBatchImageDedup(b1, s"$tmp/store", s"$tmp/pairs", 0L,
      maxHamming = 10)
    // offline maintenance BETWEEN batches (stream stopped): splinter
    // dirs collapse to one batch=compacted partition, one file
    Multimodal.compactPhashStore(spark, s"$tmp/store")
    def subdirs: Seq[String] = new java.io.File(s"$tmp/store/phashes")
      .listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
    assert(subdirs == Seq("batch=compacted"), subdirs.mkString(","))
    val files = new java.io.File(s"$tmp/store/phashes/batch=compacted")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"expected 1 compacted file, got $files")
    Multimodal.streamBatchImageDedup(b2, s"$tmp/store", s"$tmp/pairs", 1L,
      maxHamming = 10)
    assert(pairSet(spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "hamming")) == oneShot)
    // the compaction horizon marker: an UNCOMMITTED batch 0 replaying
    // AFTER the compaction recomputes identical pairs but must NOT
    // re-register under batch=0 — its rows already live in
    // batch=compacted, and a second copy would inflate every later
    // probe's candidates
    assert(Multimodal.phashCompactedThrough(s"$tmp/store") == 0L)
    Multimodal.streamBatchImageDedup(b1, s"$tmp/store", s"$tmp/pairs", 0L,
      maxHamming = 10)
    assert(pairSet(spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "hamming")) == oneShot, "replay after compact")
    val dup = spark.read.parquet(s"$tmp/store/phashes")
      .groupBy("media_id").count().filter(col("count") > 1).count()
    assert(dup == 0, "replay-after-compaction duplicated store rows")
    // a half-swapped compaction (crash between the renames) recovers at
    // the next read: simulate by re-creating the swap's midpoint
    val src = java.nio.file.Paths.get(s"$tmp/store/phashes")
    val old = java.nio.file.Paths.get(s"$tmp/store/phashes.old")
    java.nio.file.Files.move(src, old)
    val (pairs, _) = Multimodal.incrementalImagePairs(
      b2.limit(0), s"$tmp/store", 10)
    pairs.count() // recoverSwap restored the store: the read succeeds
    assert(java.nio.file.Files.exists(src) && !java.nio.file.Files.exists(old))
  }
}
