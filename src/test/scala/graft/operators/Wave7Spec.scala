package graft.operators

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Round-6 wave: two-pass token-budget equality, surprisal cache
  * hygiene, the CountMinSketch facet interchange, and the simhash
  * recall floor at sf0.01. */
class Wave7Spec extends SparkSpec {
  import spark.implicits._

  def sf01 = "/root/testdata/sf0.01"

  test("incremental dedup: batches dedup against the store, appends feed the NEXT batch, old corpus untouched") {
    val mk = (id: Long, text: String) => (id, text)
    val base = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(2L, "totally different words live in this one document here"),
      mk(3L, "yet another unrelated piece of text with its own tokens"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-incdedup")
    try {
      Dedup.writeDedupStore(base, dir.toString, n = 3)
      // batch 1: doc 10 duplicates doc 1 (store hit); doc 11 is novel
      val b1 = Seq(
        mk(10L, "alpha beta gamma delta epsilon zeta eta theta"),
        mk(11L, "completely novel content that matches nothing else at all"))
        .toDF("doc_id", "text")
      val p1f = Dedup.incrementalNearDupPairs(b1, dir.toString, threshold = 0.8)
      val p1 = p1f.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      p1f.unpersist()
      assert(p1 == Set((1L, 10L)), p1.toString)
      Dedup.appendDedupStore(b1, dir.toString)
      // batch 2: doc 20 duplicates doc 11 — a PREVIOUS BATCH's doc, only
      // findable because the append registered it
      val b2 = Seq(
        mk(20L, "completely novel content that matches nothing else at all"))
        .toDF("doc_id", "text")
      val p2f = Dedup.incrementalNearDupPairs(b2, dir.toString, threshold = 0.8)
      val p2 = p2f.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      p2f.unpersist()
      assert(p2 == Set((11L, 20L)), p2.toString)
      // the probe reads the store by the batch's bucket keys: the
      // bands scan carries a pushed `bucket` filter, so a probe reads
      // the rows that can collide with the batch, not the whole store
      val bucketScan = Dedup.storedBands(spark, dir.toString,
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
      val viaJoins = try {
        val f = Dedup.incrementalNearDupPairs(b2, dir.toString, 0.8)
        try f.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        finally f.unpersist()
      } finally spark.conf.set(ceiling, prev)
      assert(viaJoins == p2)
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("compactDedupStore: splinters collapse to one file per table, pair results identical") {
    val mk = (id: Long, text: String) => (id, text)
    val base = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(2L, "totally different words live in this one document here"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-cmpdedup")
    try {
      Dedup.writeDedupStore(base, dir.toString, n = 3)
      // three live appends splinter both tables
      (0 until 3).foreach { b =>
        Dedup.appendDedupStore(Seq(
          mk(100L + b, s"batch $b content entirely its own number ${b * 7}"))
          .toDF("doc_id", "text"), dir.toString)
      }
      def files(t: String): Int = new java.io.File(s"$dir/$t").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files("bands") >= 4 && files("shingles") >= 4,
        s"bands=${files("bands")} shingles=${files("shingles")}")
      val probe = Seq(
        mk(200L, "alpha beta gamma delta epsilon zeta eta theta"),
        mk(201L, "batch 1 content entirely its own number 7"))
        .toDF("doc_id", "text")
      val beforeF = Dedup.incrementalNearDupPairs(probe, dir.toString, 0.8)
      val before = beforeF.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      beforeF.unpersist()
      assert(before == Set((1L, 200L), (101L, 201L)), before.toString)
      Dedup.compactDedupStore(spark, dir.toString)
      assert(files("bands") == 1 && files("shingles") == 1,
        s"bands=${files("bands")} shingles=${files("shingles")}")
      val afterF = Dedup.incrementalNearDupPairs(probe, dir.toString, 0.8)
      val after = afterF.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      afterF.unpersist()
      assert(after == before)
      // crash-safety of the rename-only swap: a crash BETWEEN the two
      // renames leaves bands.old (complete) and no bands — the next
      // reader recovers the old generation and answers identically
      val bands = java.nio.file.Paths.get(s"$dir/bands")
      java.nio.file.Files.move(bands,
        java.nio.file.Paths.get(s"$dir/bands.old"))
      assert(!java.nio.file.Files.exists(bands))
      val recF = Dedup.incrementalNearDupPairs(probe, dir.toString, 0.8)
      val rec = recF.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      recF.unpersist()
      assert(rec == before)
      assert(java.nio.file.Files.exists(bands) &&
        !java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$dir/bands.old")))
      // a crash AFTER the second rename leaves only a stale .old +
      // .compacting pair; recovery drops both without touching bands
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/bands.old"))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/bands.compacting"))
      Dedup.compactDedupStore(spark, dir.toString)
      assert(files("bands") == 1 &&
        !java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$dir/bands.old")) &&
        !java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$dir/bands.compacting")))
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("packWindows: contiguous token stream, correct window spans, equals the global-window form") {
    val docs = (1L to 300L).map(i => (i, (i % 11) + 1))
      .toDF("doc_id", "n_tokens")
    val packed = Sampling.packWindows(docs, "doc_id", "n_tokens",
      ctxLen = 64, salt = "pw", coarseBuckets = 16)
      .select("doc_id", "n_tokens", "start_tok", "window_id", "n_windows")
      .collect().map(r => (r.getLong(0), r.getLong(1) + 0L,
        r.getLong(2), r.getLong(3), r.getLong(4)))
    // the stream is contiguous: sorted by offset, each doc starts where
    // the previous ended
    val byOff = packed.sortBy(_._3)
    byOff.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + a._2, s"gap between $a and $b") }
    assert(byOff.head._3 == 0L)
    // spans: a doc crossing a 64-token boundary spans the right count
    byOff.foreach { case (_, n, st, w, nw) =>
      assert(w == st / 64, "start window")
      assert(nw == (st + math.max(n, 1) - 1) / 64 - st / 64 + 1, "span")
    }
    // bucket-offset form == the naive single-window global form
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(Sampling.hashBucket(col("doc_id"), "pw"), col("doc_id"))
    val naive = docs
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select("doc_id", "start_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    packed.foreach { case (id, _, st, _, _) => assert(naive(id) == st) }
  }

  test("splitAssign: reproducible hash-range membership, fractions respected, exhaustive") {
    val docs = (1L to 4000L).toDF("doc_id")
    val fr = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val a = Sampling.splitAssign(docs, "doc_id", fr, salt = "sp")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.values.sum == 4000L && a.keySet == Set("train", "val", "test"))
    assert(a("train") > 3400 && a("val") > 100 && a("test") > 100, a.toString)
    // pure function of (id, salt): a second call is identical
    val b = Sampling.splitAssign(docs, "doc_id", fr, salt = "sp")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    // fractions must sum to 1
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("tokenBudgetTwoPass emits exactly the window form's rows (fixture + sf0.01)") {
    // fixture: uneven token sizes so the cut lands mid-bucket
    val docs = (1L to 200L)
      .map(i => (i, if (i % 3 == 0) "en" else "fr", (i % 7) + 1))
      .toDF("doc_id", "lang", "n_tokens")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cum_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val budgets = Map("en" -> 120L)
    val one = canon(Sampling.tokenBudget(docs, "doc_id", "lang", "n_tokens",
      budgets, defaultBudget = 90L, salt = "tp"))
    // a handful of coarse buckets FORCES multi-doc buckets and boundary
    // placement inside a bucket
    val two = canon(Sampling.tokenBudgetTwoPass(docs, "doc_id", "lang",
      "n_tokens", budgets, defaultBudget = 90L, salt = "tp",
      coarseBuckets = 8))
    assert(two == one, s"two-pass diverged: only-window=${one -- two}, " +
      s"only-twopass=${two -- one}")
    // real data at the driver's gate scale: the documents table with the
    // gate's own budgets (hash-identical, not just keep-set-equal)
    val real = Tables.documents(spark, sf01)
      .select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    val oneR = canon(Sampling.tokenBudget(real, "doc_id", "lang", "n_tokens",
      Map("en" -> 6000L), 2000L))
    val twoR = canon(Sampling.tokenBudgetTwoPass(real, "doc_id", "lang",
      "n_tokens", Map("en" -> 6000L), 2000L))
    assert(twoR == oneR && oneR.nonEmpty)
  }

  test("tokenBudgetTwoPass budget widening still yields a superset") {
    val docs = (1L to 120L).map(i => (i, "en", 5L))
      .toDF("doc_id", "lang", "n_tokens")
    def keep(b: Long) = Sampling.tokenBudgetTwoPass(docs, "doc_id", "lang",
        "n_tokens", Map("en" -> b), b, salt = "w", coarseBuckets = 16)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k = keep(100L)
    assert(k.size == 20 && k.subsetOf(keep(300L)))
  }

  test("repeatUpsample: exact copy counts, monotone in weight, deterministic") {
    val docs = (1L to 1000L).map(i => (i, if (i <= 800) "en" else "fr"))
      .toDF("doc_id", "lang")
    def copies(wEn: Double) = Sampling.repeatUpsample(docs, "doc_id", "lang",
        Map("en" -> wEn), defaultWeight = 0.5, salt = "u")
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c = copies(2.3)
    // en docs: 2 or 3 copies; fr docs: 0 or 1 (absent map key = 0)
    assert(c.filter(_._1 <= 800).values.forall(n => n == 2 || n == 3))
    assert(c.filter(_._1 > 800).values.forall(_ == 1))
    // realized rates track the fractional parts (hash-uniform)
    val en3 = c.count { case (id, n) => id <= 800 && n == 3 }
    assert(math.abs(en3 / 800.0 - 0.3) < 0.06, s"frac(2.3) realized ${en3 / 800.0}")
    val frKept = c.count(_._1 > 800)
    assert(math.abs(frKept / 200.0 - 0.5) < 0.12, s"frac(0.5) realized ${frKept / 200.0}")
    // raising the weight never removes copies (same hash decides)
    val c4 = copies(2.4)
    assert(c.filter(_._1 <= 800).forall { case (id, n) => c4(id) >= n })
    // copy ordinals are 1..n
    val ords = Sampling.repeatUpsample(docs, "doc_id", "lang",
        Map("en" -> 2.3), 0.5, "u")
      .filter(col("doc_id") === 1L).select("copy").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ords == (1L to c(1L)).toSeq)
  }

  test("surprisal leaves no cached frames behind (server-lifetime hygiene)") {
    spark.catalog.clearCache()
    val docs = Seq((1L, "alpha beta beta"), (2L, "alpha gamma"))
      .toDF("doc_id", "text")
    TextOps.surprisal(docs, 1.0, 2.0).collect()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "surprisal must not accumulate cached frames across invocations")
  }

  test("CMS facet sketches: batch union equals the single whole-corpus sketch") {
    val rows = (1L to 300L)
      .map(i => (s"b${i % 3}", s"k${i % 2}", s"v${i % 5}"))
      .toDF("batch", "key", "v")
    val probes = (0 until 5).map(i => s"v$i") :+ "absent"
    def ests(df: org.apache.spark.sql.DataFrame) =
      graft.ingest.Facets.cmsEstimates(df, "key", probes)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    // three per-batch sketches merged vs one sketch over everything
    val merged = ests(graft.ingest.Facets.cmsMerge(
      graft.ingest.Facets.cmsBatches(rows, "batch", "key", "v"), "key"))
    val whole = ests(graft.ingest.Facets.cmsMerge(
      graft.ingest.Facets.cmsBatches(
        rows.withColumn("batch", lit("all")), "batch", "key", "v"), "key"))
    assert(merged == whole, "CMS union must be order/batching-insensitive")
    // the CMS guarantee: estimate >= exact, and exact here (no full-row
    // collisions at this width); the never-added value estimates 0
    val exact = rows.groupBy("key", "v").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    exact.foreach { case (kv, n) => assert(merged(kv) == n, s"$kv") }
    assert(merged(("k0", "absent")) == 0L && merged(("k1", "absent")) == 0L)
  }

  test("sf0.01 documents: simhash recall floor vs the exact jaccard pair set") {
    // ngram/minhash have exact-match gates and SemDeDup/LSH/IVF have
    // pinned recall floors; this pins simhash's so a banding regression
    // fails a test, not a reader. Measured 2026-08: recall 0.96 at
    // sf0.01 (24/25); OpsSpec pins sf0.001 at >= 0.8. Floor has headroom.
    val d = Tables.documents(spark, sf01)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.ngramJaccardPairs(d, 3, 0.8))
    assert(exact.nonEmpty)
    val sh = pairSet(Dedup.simhashPairs(d, 3, 0.8, maxHamming = 7))
    assert(sh.subsetOf(exact), "exact verify guarantees precision 1.0")
    val recall = sh.size.toDouble / exact.size
    info(s"simhash recall at sf0.01 = $recall (${sh.size}/${exact.size})")
    assert(recall >= 0.75, s"simhash recall regressed: $recall")
  }
}
