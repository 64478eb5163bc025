package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-10 operator contracts: winnowed document fingerprints. */
class Wave10Spec extends SparkSpec {
  import spark.implicits._

  private val run = "the quick brown fox jumps over the lazy dog tonight"

  test("winnowing guarantee: a shared w+k-1 token run shares a fingerprint, edits elsewhere don't break it") {
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon zeta"),
      (2L, s"completely different opening words here $run and another tail entirely"),
      (3L, "unrelated text about spark catalyst optimizer plans and shuffles today"),
      (4L, "hi")) // < k tokens: no fingerprints
      .toDF("doc_id", "text")
    val fps = docs.select($"doc_id",
        TextOps.winnowFingerprints($"text", k = 3, w = 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // the 10-token shared run is ≥ w+k−1 = 6: at least one common fp
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert(fps(4L).isEmpty)
    // pair detection: (1,2) present, 3 pairs with nobody
    val pairs = TextOps.winnowedOverlapPairs(docs, k = 3, w = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // shared count equals the true fingerprint intersection
    val shared = TextOps.winnowedOverlapPairs(docs, k = 3, w = 4, minShared = 1)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .head().getAs[Long]("shared")
    assert(shared == (fps(1L) & fps(2L)).size)
  }

  test("streamed winnow converges to the one-shot pair set; replay after append is exact") {
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon zeta"),
      (2L, s"completely different opening words here $run and another tail entirely"),
      (3L, s"a third carrier of $run inside other framing words"),
      (4L, "unrelated text about spark catalyst optimizer plans and shuffles today"),
      (5L, "more unrelated material concerning parquet row groups and pushdown"))
      .toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("shared"))).toSet
    val oneShot = pairSet(TextOps.winnowedOverlapPairs(docs, minShared = 2))
    assert(oneShot.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val tmp = java.nio.file.Files.createTempDirectory("graft-swin").toString
    docs.repartition(3).write.parquet(s"$tmp/in")
    TextOps.seedWinnowStoreBatched(spark, s"$tmp/store")
    val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    graft.streaming.StreamingIngest.winnowStream(stream, s"$tmp/store",
      s"$tmp/pairs", s"$tmp/ck", minShared = 2)
      .start().awaitTermination(120000)
    assert(pairSet(spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "shared")) == oneShot)
    // crash window: a batch replayed AFTER its store append recomputes
    // identical pairs (store side anti-joins its own ids) and replaces
    // rather than duplicates its registration
    val f0 = new java.io.File(s"$tmp/in").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val in0 = spark.read.parquet(f0.getAbsolutePath)
    val bid = spark.read.parquet(s"$tmp/store/fps")
      .join(in0.select("doc_id"), Seq("doc_id"), "left_semi")
      .select("batch").head().get(0)
    TextOps.streamBatchWinnow(in0, s"$tmp/store", s"$tmp/pairs",
      bid.toString.toLong, minShared = 2)
    assert(pairSet(spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "shared")) == oneShot, "replay")
    val dup = spark.read.parquet(s"$tmp/store/fps")
      .groupBy("doc_id", "fp").count()
      .filter(col("count") > 1).count()
    assert(dup == 0, "replay duplicated store rows")
  }

  test("compactWinnowStore: batch splinters collapse, mid-stream compaction preserves pairs, horizon blocks duplicate re-registration") {
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon zeta"),
      (2L, s"completely different opening words here $run and another tail entirely"),
      (3L, s"a third carrier of $run inside other framing words"),
      (4L, "unrelated text about spark catalyst optimizer plans and shuffles today"),
      (5L, "more unrelated material concerning parquet row groups and pushdown"))
      .toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("shared"))).toSet
    val oneShot = pairSet(TextOps.winnowedOverlapPairs(docs, minShared = 2))
    val tmp = java.nio.file.Files.createTempDirectory("graft-cwin").toString
    TextOps.seedWinnowStoreBatched(spark, s"$tmp/store")
    val b1 = docs.filter($"doc_id" <= 2L)
    val b2 = docs.filter($"doc_id" > 2L)
    TextOps.streamBatchWinnow(b1, s"$tmp/store", s"$tmp/pairs", 0L,
      minShared = 2)
    // offline maintenance BETWEEN batches (stream stopped): splinter
    // dirs collapse to one batch=compacted partition, one file
    TextOps.compactWinnowStore(spark, s"$tmp/store")
    val subdirs = new java.io.File(s"$tmp/store/fps")
      .listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
    assert(subdirs == Seq("batch=compacted"), subdirs.mkString(","))
    val files = new java.io.File(s"$tmp/store/fps/batch=compacted")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"expected 1 compacted file, got $files")
    TextOps.streamBatchWinnow(b2, s"$tmp/store", s"$tmp/pairs", 1L,
      minShared = 2)
    assert(pairSet(spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "shared")) == oneShot)
    // the compaction horizon: an uncommitted batch 0 replaying AFTER
    // the compaction recomputes identical pairs but skips
    // re-registration (its rows already live in batch=compacted)
    assert(TextOps.winnowCompactedThrough(s"$tmp/store") == 0L)
    TextOps.streamBatchWinnow(b1, s"$tmp/store", s"$tmp/pairs", 0L,
      minShared = 2)
    assert(pairSet(spark.read.parquet(s"$tmp/pairs")
      .select("id_a", "id_b", "shared")) == oneShot, "replay after compact")
    val dup = spark.read.parquet(s"$tmp/store/fps")
      .groupBy("doc_id", "fp").count().filter(col("count") > 1).count()
    assert(dup == 0, "replay-after-compaction duplicated store rows")
    // half-swapped compaction (crash between renames) recovers on read
    val src = java.nio.file.Paths.get(s"$tmp/store/fps")
    val old = java.nio.file.Paths.get(s"$tmp/store/fps.old")
    java.nio.file.Files.move(src, old)
    val (pairs, _) = TextOps.incrementalWinnowPairs(b2.limit(0), s"$tmp/store")
    pairs.count() // recoverSwap restored the store: the read succeeds
    assert(java.nio.file.Files.exists(src) && !java.nio.file.Files.exists(old))
    // the unhinted fallback (batch over the session's broadcast
    // ceiling, forced here by switching the ceiling off) computes the
    // same pairs — the escape hatch for batches beyond broadcast capacity
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-cwin2").toString
    TextOps.seedWinnowStoreBatched(spark, s"$tmp2/store")
    val ceiling = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(ceiling)
    spark.conf.set(ceiling, "-1")
    try {
      TextOps.streamBatchWinnow(b1, s"$tmp2/store", s"$tmp2/pairs", 0L,
        minShared = 2)
      TextOps.streamBatchWinnow(b2, s"$tmp2/store", s"$tmp2/pairs", 1L,
        minShared = 2)
    } finally spark.conf.set(ceiling, prev)
    assert(pairSet(spark.read.parquet(s"$tmp2/pairs")
      .select("id_a", "id_b", "shared")) == oneShot, "shuffle fallback")
  }

  test("hotFpCap drops boilerplate fingerprints before the join") {
    val boiler = "subscribe to our newsletter for updates every single day"
    val docs = (1L to 6L).map(i =>
        (i, s"$boiler unique body $i with its own words number$i here"))
      .toDF("doc_id", "text")
    // uncapped: every pair shares the boilerplate fingerprints
    val all = TextOps.winnowedOverlapPairs(docs, minShared = 1)
    assert(all.count() == 15) // C(6,2)
    // capped at 2: ANY fingerprint shared by ≥2 docs (the boilerplate
    // and every boundary gram) drops before the join, so no pair can
    // share anything
    val capped = TextOps.winnowedOverlapPairs(docs, minShared = 1,
      hotFpCap = Some(2))
    assert(capped.count() == 0)
  }
}
