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
