package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup

/** The text signature store as a write-once, batch-partitioned table:
  * batches dedup against what earlier batches registered, the probe
  * reads the store by bucket key, and offline compaction collapses the
  * splinters without changing a pair. */
class DedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private val mk = (id: Long, text: String) => (id, text)

  /** A store holding `base` as its batch 0. */
  private def storeOf(base: org.apache.spark.sql.DataFrame,
                      prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Dedup.seedDedupStoreBatched(base, dir, n = 3)
    Dedup.appendDedupStoreBatch(base, dir, 0L)
    dir
  }

  private def pairs(batch: org.apache.spark.sql.DataFrame,
                    dir: String): Set[(Long, Long)] = {
    val f = Dedup.incrementalNearDupPairs(batch, dir, threshold = 0.8)
    try f.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    finally f.unpersist()
  }

  test("incremental dedup: batches dedup against the store, appends feed the NEXT batch, old corpus untouched") {
    val base = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(2L, "totally different words live in this one document here"),
      mk(3L, "yet another unrelated piece of text with its own tokens"))
      .toDF("doc_id", "text")
    val dir = storeOf(base, "graft-incdedup")
    try {
      // batch 1: doc 10 duplicates doc 1 (store hit); doc 11 is novel
      val b1 = Seq(
        mk(10L, "alpha beta gamma delta epsilon zeta eta theta"),
        mk(11L, "completely novel content that matches nothing else at all"))
        .toDF("doc_id", "text")
      val p1 = pairs(b1, dir)
      assert(p1 == Set((1L, 10L)), p1.toString)
      Dedup.appendDedupStoreBatch(b1, dir, 1L)
      // batch 2: doc 20 duplicates doc 11 — a PREVIOUS BATCH's doc, only
      // findable because the append registered it
      val b2 = Seq(
        mk(20L, "completely novel content that matches nothing else at all"))
        .toDF("doc_id", "text")
      val p2 = pairs(b2, dir)
      assert(p2 == Set((11L, 20L)), p2.toString)
      // the probe reads the store by the batch's bucket keys: the
      // bands scan carries a pushed `bucket` filter, so a probe reads
      // the rows that can collide with the batch, not the whole store
      val bucketScan = Dedup.storedBands(spark, dir,
          org.apache.spark.sql.types.LongType, Some(Seq(7, -3, 11)))
        .queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths
                .exists(_.toString.endsWith("/bands")) =>
            s.metadata.getOrElse("PushedFilters", "")
        }
      assert(bucketScan.nonEmpty &&
        bucketScan.forall(_.contains("In(bucket")), bucketScan.mkString("\n"))
      // with the ceiling off (no driver-side sets), the same batch
      // pairs through plain joins to the same answer
      val ceiling = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(ceiling)
      spark.conf.set(ceiling, "-1")
      val viaJoins = try pairs(b2, dir)
        finally spark.conf.set(ceiling, prev)
      assert(viaJoins == p2)
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("compactDedupStore: splinters collapse to one file per table, pair results identical") {
    val base = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(2L, "totally different words live in this one document here"))
      .toDF("doc_id", "text")
    val dir = storeOf(base, "graft-cmpdedup")
    try {
      // three live batches splinter both tables
      (0 until 3).foreach { b =>
        Dedup.appendDedupStoreBatch(Seq(
          mk(100L + b, s"batch $b content entirely its own number ${b * 7}"))
          .toDF("doc_id", "text"), dir, b + 1L)
      }
      def files(path: String): Int = {
        val d = new java.io.File(path)
        if (!d.isDirectory) 0
        else d.listFiles().map(f =>
          if (f.isDirectory) files(f.toString)
          else if (f.getName.endsWith(".parquet")) 1 else 0).sum
      }
      assert(files(s"$dir/bands") >= 4 && files(s"$dir/shingles") >= 4,
        s"bands=${files(s"$dir/bands")} shingles=${files(s"$dir/shingles")}")
      val probe = Seq(
        mk(200L, "alpha beta gamma delta epsilon zeta eta theta"),
        mk(201L, "batch 1 content entirely its own number 7"))
        .toDF("doc_id", "text")
      val before = pairs(probe, dir)
      assert(before == Set((1L, 200L), (101L, 201L)), before.toString)
      Dedup.compactDedupStore(spark, dir)
      def compacted(t: String): Int = files(s"$dir/$t/batch=compacted")
      for (t <- Seq("bands", "shingles"))
        assert(compacted(t) == 1 && files(s"$dir/$t") == 1,
          s"$t: ${compacted(t)} under batch=compacted, ${files(s"$dir/$t")} in all")
      assert(pairs(probe, dir) == before)
      // crash-safety of the rename-only swap: a crash BETWEEN the two
      // renames leaves bands.old (complete) and no bands — the next
      // reader recovers the old generation and answers identically
      val bands = java.nio.file.Paths.get(s"$dir/bands")
      java.nio.file.Files.move(bands,
        java.nio.file.Paths.get(s"$dir/bands.old"))
      assert(!java.nio.file.Files.exists(bands))
      assert(pairs(probe, dir) == before)
      assert(java.nio.file.Files.exists(bands) &&
        !java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$dir/bands.old")))
      // a crash AFTER the second rename leaves only a stale .old +
      // .compacting pair; recovery drops both without touching bands
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/bands.old"))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/bands.compacting"))
      Dedup.compactDedupStore(spark, dir)
      assert(compacted("bands") == 1 &&
        !java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$dir/bands.old")) &&
        !java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$dir/bands.compacting")))
    } finally graft.core.Fs.deleteRecursively(dir)
  }
}
