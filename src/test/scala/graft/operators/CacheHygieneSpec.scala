package graft.operators

import graft.SparkSpec

/** r9 (VERDICT r8 "what's wrong #3"): every batch near-dup op follows
  * the incrementalNearDupPairs cache contract — after the op
  * materializes, the ONLY persisted frame left is the documented
  * result, and `result.unpersist()` leaves nothing. A long-lived
  * curation session calling these in a loop must not accumulate
  * cached partitions. */
class CacheHygieneSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy cat again and again"),
    (3L, "completely different words live here in this document entirely"),
    (4L, "the quick brown fox jumps over the lazy dog again and again"),
    (5L, "yet another unrelated text with its own vocabulary inside"))
    .toDF("doc_id", "text")

  private def persistedNow: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkOp(name: String)(
      op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val before = persistedNow
    val out = op(docs)
    val added = persistedNow -- before
    assert(added.size <= 1,
      s"$name left ${added.size} persisted frames (want only the result)")
    out.unpersist()
    assert((persistedNow -- before).isEmpty,
      s"$name leaked a cache past result.unpersist()")
  }

  test("ngramJaccardPairs releases its intermediates in-op") {
    checkOp("ngramJaccardPairs")(Dedup.ngramJaccardPairs(_, 3, 0.8))
  }

  test("minhashLshPairs releases its intermediates in-op") {
    checkOp("minhashLshPairs")(Dedup.minhashLshPairs(_, 3, 0.8))
  }

  test("simhashPairs releases its intermediates in-op") {
    checkOp("simhashPairs")(Dedup.simhashPairs(_, 3, 0.8))
  }

  test("spanProfile releases its shingle cache in-op") {
    checkOp("spanProfile")(Dedup.spanProfile(_, k = 5))
  }

  test("spanScrub releases its token cache in-op") {
    checkOp("spanScrub")(Dedup.spanScrub(_, k = 5))
  }

  test("lshTopK leaves no signature cache behind") {
    val emb = (0L until 20L).map(i => (i, Array.tabulate(8)(d =>
        ((i * 7 + d * 3) % 10).toFloat - 4.5f)))
      .toDF("vec_id", "embedding")
    checkOp("lshTopK") { _ =>
      val out = VectorOps.lshTopK(emb, 0L, 3)
      out.collect()
      out
    }
  }

  test("ssdeep ops pin the documented riding-frame shape (ADVICE r13, adjudicated r14)") {
    // DELIBERATE exception to the one-frame contract: the ssdeep ops'
    // intermediates ride in the returned plan and release with the
    // caller's per-query clearCache — the eagerRelease variant was
    // built and measured one materializing job SLOWER on both r14 pair
    // legs, so the trade is pinned here instead: similarityPairs ≤ 2
    // frames (parsed + grams), chainedDiscovery ≤ 1 (parsed), and
    // clearCache drains everything.
    val hashes = docs.select(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.concat_ws(":",
        org.apache.spark.sql.functions.lit("96"),
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.md5(
            org.apache.spark.sql.functions.col("text")), 1, 16),
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.md5(
            org.apache.spark.sql.functions.col("text")), 17, 8))
        .as("ssdeep"))
    val before = persistedNow
    SSDeep.similarityPairs(hashes, minScore = 0).count()
    assert((persistedNow -- before).size <= 2,
      "similarityPairs must leave at most parsed + grams riding")
    spark.catalog.clearCache()
    val before2 = persistedNow
    SSDeep.chainedDiscovery(hashes, probeId = 1L, minScore = 0).count()
    assert((persistedNow -- before2).size <= 1,
      "chainedDiscovery must leave at most the parsed frame riding")
    spark.catalog.clearCache()
    assert(persistedNow.isEmpty || (persistedNow -- before).isEmpty)
  }
}
