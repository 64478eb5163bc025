package graft.operators

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens, counts, fingerprint") {
    val df = Seq((1, "Hello,  World! hello"), (2, ""), (3, "  a  b  "))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.fingerprint(col("text")).as("fp")).collect()
      .map(r => r.getInt(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(out(1)._1 == 3)
    assert(out(2)._1 == 0)
    assert(out(3)._1 == 2)
    // fingerprint invariant under whitespace + case
    val fp = df.select(TextOps.fingerprint(lit("A  b\tC")).as("f"),
      TextOps.fingerprint(lit("a b c")).as("g")).head()
    assert(fp.getString(0) == fp.getString(1))
  }

  test("langId is deterministic and prefers en on ties") {
    val df = Seq(
      (1, "the cat and the dog of the house"),      // en
      (2, "der hund und die katze ist nicht da"),   // de
      (3, "xyzzy qwerty 12345"))                    // none
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(1) == "en"); assert(out(2) == "de"); assert(out(3) == "und")
  }

  test("quality columns") {
    val df = Seq((1, "The quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val r = df.select(TextOps.qualityColumns(col("text")): _*).head()
    assert(r.getAs[Int]("n_tokens") == 10)
    assert(r.getAs[Boolean]("quality_keep"))
  }

}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "THE QUICK  brown fox jumps over the lazy dog"), // exact dup of 1 (normalized)
    (4L, "completely different words here entirely unrelated text"),
    (5L, "ab"))                                           // too short for shingles
    .toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 4) // 1&3 merge
    val merged = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(merged.getAs[Long]("survivor_id") == 1L)
  }

  test("stratified sampling is deterministic, rate-shaped, and monotone in rate") {
    val rows = spark.range(0, 2000)
      .select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, "en").otherwise("de").as("lang"))
    def ids(rate: Double): Set[Long] =
      graft.operators.Sampling.sample(rows, "doc_id", "lang",
          Map("en" -> rate), defaultRate = 1.0, salt = "t")
        .filter(col("lang") === "en")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val half = ids(0.5)
    assert(half == ids(0.5))                   // deterministic
    assert(math.abs(half.size - 500) < 80)     // ~50% of the 1000 en rows
    assert(half.subsetOf(ids(0.8)))            // widening the rate = superset
    // de stratum untouched at defaultRate 1.0
    assert(graft.operators.Sampling.sample(rows, "doc_id", "lang",
      Map("en" -> 0.5), 1.0, "t").filter(col("lang") === "de").count() == 1000)
  }

  test("clusters labels transitive components with their min id (both paths)") {
    // 1-2-3 is a CHAIN (1 and 3 never pair directly) + a separate 5-6;
    // reversed pair order (3,2) exercises min-root maintenance
    val pairs = Seq((3L, 2L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    def run(bound: Long) = Dedup.clusters(pairs, driverBound = bound).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(run(1000000L) == expect) // driver union-find fast path
    assert(run(0L) == expect)       // distributed label propagation
  }

  test("contamination flags docs overlapping the benchmark by >= minHits shingles") {
    // benchmark = doc 1; doc 3 is its normalized dup, doc 2 a near-dup
    val bench = docs.filter($"doc_id" === 1L)
    val hits = Dedup.contamination(docs, bench, n = 3, minHits = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("hits")).toMap
    assert(hits.keySet == Set(1L, 2L, 3L)) // 4 shares nothing, 5 has no shingles
    assert(hits(1L) == 7L && hits(3L) == 7L) // full self-intersection
    assert(hits(2L) < 7L && hits(2L) >= 2L)
  }

  test("ngram jaccard finds near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L))) // exact dup has jaccard 1.0
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH finds the same pairs as exact on the fixture") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("simhash of identical token streams is equal; near-dups are close") {
    val sims = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(3L)) // same normalized tokens
    val hamming12 = java.lang.Long.bitCount(sims(1L) ^ sims(2L))
    val hamming14 = java.lang.Long.bitCount(sims(1L) ^ sims(4L))
    assert(hamming12 < hamming14)
  }

  test("simhashPairs accepts non-long doc ids (int) in the needle collect") {
    val d = Seq((1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "totally different content here now ok"))
      .toDF("doc_id", "text")
    // id type must not matter: the candidate-id collect is type-agnostic
    val pairs = Dedup.simhashPairs(d, 3, 0.8, maxHamming = 7)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(pairs == Set((1, 2)))
  }

  test("sf0.001 documents: minhash matches exact; simhash is high-precision") {
    val d = Tables.documents(spark, sf001)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.ngramJaccardPairs(d, 3, 0.8))
    assert(exact.nonEmpty, "fixture should contain near-dups")
    assert(pairSet(Dedup.minhashLshPairs(d, 3, 0.8)) == exact)
    val sh = pairSet(Dedup.simhashPairs(d, 3, 0.8, maxHamming = 7))
    assert(sh.subsetOf(exact), "exact verify guarantees precision 1.0")
    val recall = sh.size.toDouble / exact.size
    info(s"simhash recall on fixture = $recall")
    assert(recall >= 0.8, s"simhash recall too low: $recall")
  }
}
