package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sampling, TextOps, VectorOps}

/** `curate`: one batch curation pass per operation over a seeded corpus
  * (10% near-duplicates, 3% exact copies) and its embeddings. Every step is
  * materialized: quality filter, exact dedup, n-gram Jaccard and MinHash-LSH
  * pairs, clusters, keep-best, leak-free split, PQ top-k against brute force.
  * The REST, jexl and vis layers do no work here. */
final class Curate(spark: SparkSession, a: Args, tr: Tracer) extends Workload {
  val clients = 1
  val cycle = Curate.Passes
  val cycleSeconds = 14.0
  private val NDocs = 500
  private val NVecs = 1000
  private val K = 10
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var probes: Seq[Long] = Nil
  private var digest = ""
  private val docsDir = a.work.resolve("curate-documents").toString
  private val embDir = a.work.resolve("curate-embeddings").toString
  private val steps = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
  /** Per pass: an order-insensitive digest of every step's output. */
  private val outputs = new java.util.concurrent.ConcurrentHashMap[OpRec, Seq[(String, Long, String)]]()
  private var recalls = (Double.NaN, Double.NaN)

  def load(rep: Int): Unit = {
    val r = new java.util.SplittableRandom(a.seed * 104729L + 3L)
    val vocab = Corpus.vocabulary(a.seed)
    val d = Corpus.docs(r, vocab, 0L, NDocs, nearDupShare = 0.10, exactShare = 0.03)
    val e = Corpus.embeddings(a.seed, NVecs, 64, 20)
    probes = Seq.fill(K)(r.nextLong(NVecs.toLong)).distinct
    digest = Digest.of(d.iterator.map { case (i, t) => s"$i\u0001$t" } ++
      e.iterator.map { case (i, v, l) => s"$i\u0001${v.mkString(",")}\u0001$l" })
    Corpus.docFrame(spark, d, a.seed).write.mode("overwrite").parquet(docsDir)
    Corpus.embFrame(spark, e).write.mode("overwrite").parquet(embDir)
    docs = spark.read.parquet(docsDir)
    emb = spark.read.parquet(embDir)
  }

  def warmUp(): Unit = unpersist(pass(new OpRec(-1, 0, false)))

  def release(): Unit = ()

  private def unpersist(out: Seq[(String, DataFrame)]): Unit = out.foreach(_._2.unpersist())

  private def step(name: String, rec: OpRec)(df: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val out = tr.span(s"operators.$name") {
      val o = df.persist()
      o.count()
      o
    }
    if (rec.client >= 0) steps.add((name, (System.nanoTime() - t0) / 1e6))
    out
  }

  /** One curation pass; returns the materialized step outputs. */
  private def pass(rec: OpRec): Seq[(String, DataFrame)] = {
    val quality = step("quality", rec)(TextOps.qualityFilter(docs, minTokens = 40, maxTokens = 80,
      minMeanTokLen = 4.1, maxMeanTokLen = 4.8, minAlphaRatio = 0.82, minStopwordRatio = 0.05))
    rec.first = System.nanoTime() - rec.start
    val exact = step("exact", rec)(Dedup.exactKeep(docs).select("doc_id"))
    val ngram = step("ngram_pairs", rec)(Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.8))
    val minhash = step("minhash_pairs", rec)(Dedup.minhashLshPairs(docs, n = 3, threshold = 0.8))
    val clusters = step("clusters", rec)(Dedup.clusters(ngram))
    val best = step("keep_best", rec)(Dedup.keepBestPerCluster(docs, clusters,
      quality = TextOps.alphaChars(col("text"))))
    val split = step("split", rec)(Sampling.splitAssignLeakFree(docs.select("doc_id"), clusters,
      "doc_id", Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02), salt = "sp1")
      .select("doc_id", "cluster_id", "split"))
    val index = a.work.resolve(s"curate-pq-${rec.client}-${rec.idx}").toString
    val approx = step("ann_pq", rec) {
      VectorOps.pqWriteIndex(emb, index, m = 8, codeK = 16, iters = 2)
      val (codes, books) = VectorOps.pqReadIndex(spark, index)
      VectorOps.pqTopKBatch(emb, codes, books, probes, k = K, shortlist = 400)
        .select("probe_id", "vec_id")
    }
    val brute = step("ann_brute", rec)(VectorOps.bruteForceTopKBatch(emb, probes, k = K)
      .select("probe_id", "vec_id"))
    Seq("quality" -> quality, "exact" -> exact, "ngram_pairs" -> ngram,
      "minhash_pairs" -> minhash, "clusters" -> clusters, "keep_best" -> best,
      "split" -> split, "ann_pq" -> approx, "ann_brute" -> brute)
  }

  def run(rec: OpRec): Unit = {
    val out = pass(rec)
    rec.end = System.nanoTime()
    rec.rows = NDocs
    try {
      outputs.put(rec, out.map { case (n, df) =>
        val row = df.select(xxhash64(df.columns.map(col): _*).as("h"))
          .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")).cast("string")).head()
        (n, row.getLong(0), row.getString(1))
      })
      if (rec.idx == 0) keep(out)
    } finally unpersist(out)
  }

  /** Writes the first pass's outputs and the oracle checks for the runner. */
  private def keep(out: Seq[(String, DataFrame)]): Unit = {
    val dir = a.work.resolve("curate-check")
    out.foreach { case (n, df) => df.write.mode("overwrite").parquet(dir.resolve(n).toString) }
    val m = out.toMap
    val exactPairs = m("ngram_pairs").select("id_a", "id_b")
    val lsh = m("minhash_pairs").select("id_a", "id_b")
    val nExact = exactPairs.count()
    val pairRecall = if (nExact == 0) 1.0 else lsh.intersect(exactPairs).count().toDouble / nExact
    val annRecall = m("ann_pq").intersect(m("ann_brute")).count().toDouble / m("ann_brute").count()
    recalls = (pairRecall, annRecall)
    val o = graft.SparkEntry.oracleSql
    val c = new Checks(a.work.resolve("checks.json"))
    c.view("documents", docsDir)
    c.view("embeddings", embDir)
    c.share("jaccard_pairs", o("dedup_ngram_jaccard"))
    def at(n: String) = dir.resolve(n).toString
    c.equal("text_quality_filter", at("quality"), o("text_quality_filter"),
      Seq("doc_id", "n_tokens", "drop_reason", "keep"))
    c.equal("dedup_exact", at("exact"),
      s"SELECT survivor_id AS doc_id FROM (${o("dedup_exact")})", Seq("doc_id"))
    c.equal("dedup_ngram_jaccard", at("ngram_pairs"), o("dedup_ngram_jaccard"),
      Seq("id_a", "id_b", "inter", "uni"))
    c.equal("dedup_minhash_lsh", at("minhash_pairs"), o("dedup_minhash_lsh"),
      Seq("id_a", "id_b", "inter", "uni"))
    c.equal("dedup_clusters", at("clusters"), o("dedup_clusters"), Seq("doc_id", "cluster_id"))
    c.equal("dedup_keep_best", at("keep_best"), o("dedup_keep_best"),
      m("keep_best").columns.toSeq)
    c.equal("corpus_split_leakfree", at("split"), o("corpus_split_leakfree"),
      Seq("doc_id", "cluster_id", "split"))
    // per-probe recall floor of the ann_pq_batch gate (8 of 10)
    c.topK(at("ann_brute"), at("ann_pq"), probes, K, floor = 8)
    c.write()
  }

  /** Every pass must produce the first pass's outputs. */
  def check(recs: Seq[OpRec]): Unit = {
    val first = recs.find(_.idx == 0).flatMap(r => Option(outputs.get(r)))
    recs.filter(_.ok).foreach { r =>
      val got = Option(outputs.get(r))
      if (got.isEmpty || got != first)
        r.fail("check", new IllegalStateException("pass output differs from the first pass"))
    }
  }

  def close(): Unit = ()

  def inputDigest: String = digest

  def layers(recs: Seq[OpRec]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val byStep = steps.asScala.toSeq.groupBy(_._1)
    Curate.Steps.map(s => s"operators.${s}_ms" -> Main.median(byStep.getOrElse(s, Nil).map(_._2)))
      .toMap ++ Map("operators.minhash_pair_recall" -> recalls._1,
        "operators.ann_recall_at_10" -> recalls._2)
  }
}

object Curate {
  val Passes = 2
  val Steps = Seq("quality", "exact", "ngram_pairs", "minhash_pairs", "clusters", "keep_best",
    "split", "ann_pq", "ann_brute")
}
