package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Dedup, Multimodal, TextOps, VectorOps}

/** LLM-training-data pipeline operators over `documents` / `embeddings`
  * (BASELINE.json north star: dedup, similarity search, text analysis as
  * first-class engine components).
  *
  * Oracle notes: every float in an output is either a single IEEE
  * division of identical integer operands (bit-stable across engines) or
  * avoided entirely (set sizes as integers, similarity as rank).
  */
object PipelineQueries {

  /** Exact dedup via content fingerprint (hash-groupBy — one shuffle). */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d))

  /** Word-3-gram Jaccard near-dup pairs (inverted-index candidates +
    * exact verify). Integer (inter, union) output. */
  def dedupNgram(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3, threshold = 0.8)

  /** Near-dup clustering: the jaccard pair graph collapses to connected
    * components, each labeled with its min doc id (the dedup survivor). */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val pairs =
      Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3, threshold = 0.8)
    // clusters() fully materializes the pair graph in both its paths —
    // the pair op's caller-owned cache releases here, not on the caller
    val out = Dedup.clusters(pairs)
    pairs.unpersist()
    out
  }

  /** Quality-aware dedup collapse: each near-dup cluster keeps its
    * highest-alpha-count member (ties by id), singletons survive as
    * themselves — the "keep the clean copy" curation rule. */
  /** Release a fallback-persisted dependency a lazily-composed result
    * still references: on Dedup.clusters' distributed path the cluster
    * frame returns persisted (caller-owned), and a gate returning a
    * lazy composition over it would strand that cache forever — so the
    * composition materializes (persist+count) and the dependency frees
    * in-op. On the common driver-bound path the dependency is not
    * persisted and the result passes through untouched (zero cost). */
  private def handoff(result: DataFrame, dep: DataFrame): DataFrame =
    if (dep.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      result
    else {
      val out = result.persist()
      out.count()
      dep.unpersist()
      out
    }

  def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.8)
    val cl = Dedup.clusters(pairs)
    pairs.unpersist() // consumed by clusters() in both paths
    handoff(Dedup.keepBestPerCluster(docs, cl,
      quality = TextOps.alphaChars(col("text"))), cl)
  }

  /** BPE-ish pre-tokenizer piece counts beside the whitespace word
    * count — the raw-bytes token-budget estimators. */
  def textTokensBpe(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      TextOps.preTokenCount(col("text")).as("n_pieces"),
      TextOps.wsTokenCount(col("text")).as("n_ws_tokens"))

  /** Deterministic stratified sampling: down-sample the over-represented
    * en stratum to 50%, keep the rest at 90% — the corpus-mix rebalance
    * every training pipeline runs, reproducible by construction. */
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.sample(Tables.documents(s, d), "doc_id", "lang",
        Map("en" -> 0.5), defaultRate = 0.9, salt = "s1")
      .select("doc_id", "lang")

  /** Benchmark decontamination: every 50th document plays the eval set;
    * corpus docs sharing ≥ 2 trigram shingles with it are flagged (the
    * eval docs flag themselves — exactly what scrubbing wants). */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.contamination(docs, docs.filter(col("doc_id") % 50 === 0),
      n = 3, minHits = 2)
  }

  /** MinHash+LSH near-dup pairs — same contract, bucket-join scale path.
    * 128 hashes / 32 bands: recall ≥ 1-1e-13 at j=0.8, then exact verify,
    * so the output matches the exact oracle. */
  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, d), n = 3, threshold = 0.8)

  /** SimHash near-dup pairs — hamming-band candidates + exact verify.
    * Recall is approximate (see Dedup.simhashPairs doc) but the md5-based
    * signature is engine-deterministic, so the oracle replicates the full
    * approximate pipeline and the gate is a complete hash match. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), n = 3, threshold = 0.8,
      maxHamming = 7)

  /** Incremental dedup against a write-once signature store: 80% of the
    * corpus is the EXISTING store (shingle hashes + LSH band table,
    * registered once as batch 0); the other 20% arrives as a new batch
    * and dedups against the store + itself — the old corpus is never
    * re-shingled or re-paired (its band table is read by the new
    * batch's bucket keys). Same verified (inter, uni) contract as the one-shot
    * pair ops; oracle = the exact pair set restricted to pairs
    * involving a new doc. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // temp store left in place (streaming-gate convention): the result
    // is cached eagerly, but a recompute under cache eviction must
    // still find the store files
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupstore")
    val stored = docs.filter(col("doc_id") % 5 =!= 0)
    Dedup.seedDedupStoreBatched(stored, dir.toString, n = 3)
    Dedup.appendDedupStoreBatch(stored, dir.toString, 0L)
    Dedup.incrementalNearDupPairs(
      docs.filter(col("doc_id") % 5 === 0), dir.toString, threshold = 0.8)
  }

  /** Per-document text analysis: quality + language-ID + fingerprint. */
  def textAnalyze(s: SparkSession, d: String): DataFrame =
    TextOps.analyze(Tables.documents(s, d))

  /** Gopher-rules keep/drop with first-failing-rule reasons. Thresholds
    * chosen so every rule bucket is non-empty at sf0.01 (gate-hygiene:
    * each branch of the reason chain is exercised). */
  def textQualityFilter(s: SparkSession, d: String): DataFrame =
    TextOps.qualityFilter(Tables.documents(s, d),
      minTokens = 40, maxTokens = 80,
      minMeanTokLen = 4.1, maxMeanTokLen = 4.8,
      minAlphaRatio = 0.82, minStopwordRatio = 0.05)

  /** Token counting (whitespace/punct tokenizer). */
  def textTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"))

  /** Brute-force cosine top-10 for probe vec_id=0 → (vec_id, rank). */
  def annTopk(s: SparkSession, d: String): DataFrame =
    VectorOps.bruteForceTopK(Tables.embeddings(s, d), probeId = 0L, k = 10)
      .select(col("vec_id"), col("rank").cast("long").as("rank"))

  /** Embedding cosine near-dup pairs at θ ≥ 0.45 (exact all-pairs). */
  def embNearDup(s: SparkSession, d: String): DataFrame =
    VectorOps.cosineNearDupPairs(Tables.embeddings(s, d), threshold = 0.45)

  /** Cluster-bucketed near-dup (SemDeDup shape): within-cell exact
    * pairs only — the scale path past [[embNearDup]]'s broadcast
    * envelope. Full-hash oracle: the DuckDB side replays centroid
    * sampling, argmax assignment, and the threshold join — which is why
    * this gate pins the ZERO-ITERATION stride centroids via the
    * override (the oracle can replay stride sampling bit-for-bit; it
    * cannot replay Lloyd's driver-side float loops). The operator's
    * DEPLOYMENT default is the Lloyd-refined [[VectorOps
    * .kmeansCentroids]] — spec-pinned never below the sample's recall. */
  def embNearDupCell(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    VectorOps.cellNearDupPairs(emb, threshold = 0.45,
      centroidsOverride = Some(VectorOps.ivfCentroids(emb, 16)))
  }

  /** LSH-bucketed ANN (approximate — recall asserted in tests, rows-only
    * check here). */
  def annLsh(s: SparkSession, d: String): DataFrame =
    VectorOps.lshTopK(Tables.embeddings(s, d), probeId = 0L, k = 10)
      .select("vec_id")

  /** ANN recall CHECKED rows: hits = |approx top-10 ∩ exact top-10|,
    * gated as a boolean (recall ≥ threshold) so band-boundary jitter
    * can't flip the hash while a real recall regression still fails. */
  private def recallRow(approx: DataFrame, exact: DataFrame,
                        k: Int, minHits: Int): DataFrame =
    // both sides are k rows — broadcast skips the SortMergeJoin's two
    // exchanges+sorts the size-blind planner otherwise schedules
    // (guide §3.1: pick the strategy deliberately when you KNOW a side
    // is tiny)
    approx.join(broadcast(exact), Seq("vec_id"))
      .agg(count(lit(1)).as("hits"))
      .select(lit(k.toLong).as("k"), (col("hits") >= minHits).as("recall_ok"))

  /** LSH top-10 recall vs brute force (VERDICT r2 item 9: the rows-only
    * ann_lsh entry gains a checked recall row). */
  def annLshRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    recallRow(
      VectorOps.lshTopK(emb, probeId = 0L, k = 10).select("vec_id"),
      VectorOps.bruteForceTopK(emb, probeId = 0L, k = 10).select("vec_id"),
      k = 10, minHits = 9)
  }

  /** IVF-cell-probed top-10 recall vs brute force — exercises the
    * ivfCellId write-layout path end-to-end (cell pruning, nProbe=4 of
    * 16 cells → ~4× scan reduction at recall ≥ 0.8). */
  def annIvfRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    recallRow(
      VectorOps.ivfTopK(emb, probeId = 0L, k = 10).select("vec_id"),
      VectorOps.bruteForceTopK(emb, probeId = 0L, k = 10).select("vec_id"),
      k = 10, minHits = 8)
  }

  /** PQ (product quantization) top-10 recall vs brute force — the
    * storage-side ANN family: vectors stored as m=8 codes, ADC over
    * codes shortlists 100 candidates, exact re-rank on the shortlist
    * only. One Lloyd round: measured reranked recall 9/10 on probes
    * 0/7/42 at sf0.01 (zero rounds dips to 6/10; two add cost, not
    * recall); floor 0.8. */
  def annPqRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    recallRow(
      VectorOps.pqTopKReranked(emb, probeId = 0L, k = 10, shortlist = 100,
          iters = 1)
        .select("vec_id"),
      VectorOps.bruteForceTopK(emb, probeId = 0L, k = 10).select("vec_id"),
      k = 10, minHits = 8)
  }

  /** PQ as a PERSISTED index serving a batched multi-probe search: the
    * codebooks + code column are trained/encoded ONCE and written as
    * tables, then three probes are answered from one scan of the stored
    * codes (stacked per-probe LUTs, WindowGroupLimit shortlist) and one
    * shared exact re-rank over the union shortlist. Per-probe recall
    * ≥ 8/10 vs brute force — the write-once/read-many contract is what
    * makes PQ the storage half of billion-scale ANN (PqIndexSpec pins
    * that the search itself runs zero train/encode jobs). */
  def annPqBatch(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-index")
    try {
      // codeK=16 + two Lloyd rounds + shortlist 400: measured per-probe
      // hits 10/10/10 (sf0.01) and 10/9/9 (sf0.1); the finer codeK=32
      // book buys ~nothing once the shortlist is this deep but doubles
      // the encode cost (probe 7 sits in a dense region — codeK=16/
      // iters=1/shortlist=100 dips to 6/10 at sf0.1)
      VectorOps.pqWriteIndex(emb, dir.toString, m = 8, codeK = 16, iters = 2)
      // read the index back — the search must run off the STORED tables
      val (codes, books) = VectorOps.pqReadIndex(s, dir.toString)
      val probeIds = Seq(0L, 7L, 42L)
      val approx = VectorOps.pqTopKBatch(emb, codes, books, probeIds,
        k = 10, shortlist = 400)
      // the exact oracle side is ALSO one scan (bruteForceTopKBatch) —
      // three separate brute-force jobs were a third of the gate's wall
      val exact = VectorOps.bruteForceTopKBatch(emb, probeIds, k = 10)
        .select("probe_id", "vec_id")
      // the shortlist pairs collected eagerly above — the index files
      // are no longer referenced by the returned plan, so the temp
      // index can be dropped in the finally
      approx.select("probe_id", "vec_id")
        .join(broadcast(exact), Seq("probe_id", "vec_id")) // tiny sides — skip the SMJ exchanges (guide §3.1)
        .groupBy("probe_id").agg(count(lit(1)).as("hits"))
        .select(col("probe_id"), lit(10L).as("k"),
          (col("hits") >= 8).as("recall_ok"))
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  /** IVF-PQ — the composed billion-scale index (FAISS IndexIVFPQ
    * shape): Lloyd-refined coarse cells + PQ codes, written ONCE with
    * the codes table PARTITIONED BY CELL, so a probe reads only its
    * nProbe cells' files (PqIndexSpec pins the PartitionFilters).
    * Gated against the exact answer WITHIN the probed cells (what the
    * PQ pipeline must recover; measured 10/10 per probe, floor 9) —
    * whole-corpus recall is the coarse quantizer's data-dependent
    * property, probed separately (the synthetic embeddings are weakly
    * clustered, so cell recall is the binding constraint there). */
  def annIvfPqBatch(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq")
    try {
      // one coarse round: the gate pins within-probed-cells recovery,
      // which holds for ANY cell layout — deployments keep the default
      // two rounds for whole-corpus recall
      VectorOps.ivfPqWriteIndex(emb, dir.toString, nCells = 16, m = 8,
        codeK = 16, iters = 1, coarseIters = 1)
      val (codes, books, cents) = VectorOps.ivfPqReadIndex(s, dir.toString)
      val probeIds = Seq(0L, 7L, 42L)
      val nProbe = 4
      val approx = VectorOps.ivfPqTopKBatch(emb, codes, books, cents,
        probeIds, k = 10, nProbe = nProbe, shortlist = 400)
      // the exact oracle side is ALSO one scan (the bruteForceTopKBatch
      // shape + per-probe cell membership): probes join as broadcast
      // DATA rows (pvec + probed cells), window top-10 per probe —
      // constant-size scoring expression like the index path it checks
      import s.implicits._
      val probeVecs = emb.filter(col("vec_id").isin(probeIds: _*))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val exactProbes = probeIds.map { p =>
        val pn = probeVecs(p)
        val nrm = math.sqrt(pn.map(x => x * x).sum)
        (p, pn, VectorOps.ivfProbeCells(pn.map(_ / nrm), cents, nProbe))
      }
      val exactProbesDf = s.createDataset(exactProbes)
        .toDF("probe_id", "pvec", "cells")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      val exact = emb.withColumn("cell", VectorOps.ivfAssign(col("embedding"), cents))
        .join(broadcast(exactProbesDf),
          array_contains(col("cells"), col("cell")))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("sim", VectorOps.cosine(col("embedding"), col("pvec")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select("probe_id", "vec_id")
      approx.select("probe_id", "vec_id")
        .join(broadcast(exact), Seq("probe_id", "vec_id")) // tiny sides — skip the SMJ exchanges (guide §3.1)
        .groupBy("probe_id").agg(count(lit(1)).as("hits"))
        .select(col("probe_id"), lit(10L).as("k"),
          (col("hits") >= 9).as("recall_ok"))
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  /** Exact k-NN JOIN (every vector's top-3 neighbours by cosine — the
    * SemDeDup / kNN-LM primitive where every row is a query, not a
    * probe). Full-hash oracle: sims fold left-to-right in both engines
    * (the established list_sum(list_transform(range…)) recipe), ranks
    * tie-break on neighbour id. */
  def annKnnJoin(s: SparkSession, d: String): DataFrame =
    VectorOps.knnJoinExact(Tables.embeddings(s, d), k = 3)

  /** Cell-bucketed k-NN join recall vs the exact join at k=10 over ALL
    * vectors (the scale path's quality number): total overlapping
    * (vec, nb) pairs ≥ floor × exact pairs. nAssign=3 of nCells=16,
    * floor 0.6: measured 0.714 sf0.001 / 0.713 sf0.01 / 0.747 sf0.1
    * (nAssign=2 sits at ~0.45-0.48 on these weakly-clustered synthetic
    * embeddings — the coarse-quantizer term, same caveat as
    * emb_neardup_cell; a clustered real distribution raises it). */
  def annKnnCellRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // the exact join feeds BOTH the overlap join and the total count —
    // without the persist the n²·d brute-force kernel ran twice (one
    // evaluation, see Dedup.ngramJaccardPairs); the 1-row result
    // materializes so the cache releases in-op
    val exact = VectorOps.knnJoinExact(emb, 10).select("vec_id", "nb_id")
      .persist()
    val cell = VectorOps.knnJoinCell(emb, 10, nAssign = 3)
      .select("vec_id", "nb_id")
    val out = cell.join(exact, Seq("vec_id", "nb_id"))
      .agg(count(lit(1)).as("hits"))
      .crossJoin(exact.agg(count(lit(1)).as("tot")))
      .select(lit(10L).as("k"),
        (col("hits") * 10L >= col("tot") * 6L).as("recall_ok"))
      .persist()
    out.count()
    exact.unpersist()
    out
  }

  /** IVF-PQ WHOLE-CORPUS recall (r7 verdict item 3): the end-to-end
    * quality number a user tuning nProbe needs — reranked top-10 vs
    * GLOBAL brute force, not just the within-probed-cells recovery
    * ann_ivfpq_batch pins. Fixed config (nCells=16, nProbe=6, m=8,
    * codeK=16, two Lloyd rounds both levels — the deployment default):
    * measured hits for probe 0 are 10/10 at sf0.01 and 9/10 at sf0.1
    * (the synthetic embeddings are weakly clustered, so the coarse
    * quantizer is the binding term — boundary probes 7/42 sit at 5-8
    * and are recall-PROBED, not gated, in PqBatchProbeMain); floor 8. */
  def annIvfPqRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-rec")
    try {
      VectorOps.ivfPqWriteIndex(emb, dir.toString, nCells = 16, m = 8,
        codeK = 16, iters = 2, coarseIters = 2)
      val (codes, books, cents) = VectorOps.ivfPqReadIndex(s, dir.toString)
      recallRow(
        VectorOps.ivfPqTopKBatch(emb, codes, books, cents, Seq(0L), k = 10,
          nProbe = 6, shortlist = 400).select("vec_id"),
        VectorOps.bruteForceTopK(emb, probeId = 0L, k = 10).select("vec_id"),
        k = 10, minHits = 8)
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  /** Multimodal probe + feature plumbing under the oracle: a media table
    * of DETERMINISTIC payloads ([[graft.TestMedia]] — real PNG/BMP/WAV
    * encoded by the JDK's own codecs, hand-assembled MP4/MKV/AVI
    * containers) runs the per-partition decode pass
    * ([[Multimodal.probeAll]]: image → width/height/frames, audio →
    * rate/channels/samples, video → container-parsed track metadata) and
    * the feature pass ([[Multimodal.extractFeatures]], dim=8), reduced
    * to the count of non-zero feature buckets — white PNG puts ALL mass
    * in the top luminance bucket (1), the half-silent WAV fills exactly
    * the first 4 RMS windows, the videos' bitrate envelopes fill all 8,
    * and garbage bytes yield the explicit could-not-decode row
    * (0,0,0 / empty vector), never pseudo-data. */
  def multimodalProbe(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = Seq(
      Row(1L, "image", graft.TestMedia.png(37, 21, 0xFFFFFF), "png"),
      Row(2L, "image", graft.TestMedia.bmp(64, 48), "bmp"),
      Row(3L, "audio", graft.TestMedia.wav(8000, 4000), "wav"),
      Row(4L, "video", graft.TestMedia.mp4(640, 360, Seq(100, 50)), "mp4"),
      Row(5L, "video", graft.TestMedia.mkv(320, 240, Seq.fill(12)(40)), "mkv"),
      Row(6L, "video", graft.TestMedia.avi(160, 120, Seq.fill(8)(500)), "avi"),
      Row(7L, "video", "not-a-container".getBytes("UTF-8"), "mp4"))
    val media = s.createDataFrame(
      s.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    val probed = Multimodal.probeAll(media)
      .select(col("media_id"), col("modality"), col("format"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"))
    val feats = Multimodal.extractFeatures(media, dim = 8)
      .select(col("media_id"),
        size(filter(col("embedding"), x => x =!= 0.0f))
          .cast("long").as("feat_nonzero"))
    probed.join(feats, Seq("media_id"))
  }

  /** Perceptual-hash image near-dup (pHash: DCT over DECODED pixels):
    * container re-encodes of the same pixels (png/bmp/jpg) collide at
    * hamming 0, a low-frequency edit (regional brightness shift) sits a
    * few bits away, unrelated textures 26+ — pairs from the EXACT
    * 16-band pigeonhole join. Deterministic fixtures (pure-JDK codecs +
    * IEEE-double DCT) → literal oracle rows, the multimodal_probe
    * discipline. */
  def multimodalPhash(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Row
    def gray(l: Double): Int = {
      val v = math.max(0, math.min(255, l.toInt)); (v << 16) | (v << 8) | v
    }
    val texA = (x: Int, y: Int) => gray(128 + 60 * math.sin(x / 3.0) *
      math.cos(y / 5.0) + 30 * math.sin((x + 2 * y) / 7.0))
    val texAEdit = (x: Int, y: Int) => gray((texA(x, y) & 0xFF) +
      (if (x < 20) 35 else 0) + (if (y > 44) -25 else 0))
    val texB = (x: Int, y: Int) => gray(128 + 60 * math.sin(y / 4.0) *
      math.cos(x / 6.0) + 30 * math.cos((2 * x + y) / 5.0))
    val checker = (x: Int, y: Int) =>
      if (((x / 8) + (y / 8)) % 2 == 0) 0xFFFFFF else 0
    val rows = Seq(
      Row(1L, "image", graft.TestMedia.image(64, 64, "png", texA), "png"),
      Row(2L, "image", graft.TestMedia.image(64, 64, "bmp", texA), "bmp"),
      Row(3L, "image", graft.TestMedia.image(64, 64, "png", texAEdit), "png"),
      Row(4L, "image", graft.TestMedia.image(64, 64, "jpg", texA), "jpg"),
      Row(5L, "image", graft.TestMedia.image(64, 64, "png", texB), "png"),
      Row(6L, "image", graft.TestMedia.image(64, 64, "png", checker), "png"),
      Row(7L, "image", "not-an-image".getBytes("UTF-8"), "png"))
    val media = s.createDataFrame(
      s.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    Multimodal.imageNearDupPairs(media, maxHamming = 10)
  }

  /** Audio perceptual-fingerprint near-dup ([[graft.operators
    * .Multimodal.afp64]]: Goertzel band energies → sign-of-second-
    * difference bits, the Haitsma-Kalker scheme): container re-encodes
    * of the same PCM (wav ↔ aiff) collide at hamming 0, a regional
    * amplitude edit sits a few bits away, unrelated waveforms far —
    * pairs from the same EXACT 16-band pigeonhole join as the image
    * tier. Deterministic fixtures (JDK codecs + IEEE-double Goertzel)
    * → literal oracle rows, the multimodal_probe discipline. */
  def multimodalAfp(s: SparkSession, d: String): DataFrame =
    Multimodal.audioNearDupPairs(
      StreamingQueries.afpCorpus(s), maxHamming = 10)

  /** Video bitrate-envelope near-dup ([[graft.operators.Multimodal
    * .vfp64]]): the same frame-size sequence carried in MP4/Matroska/
    * AVI containers fingerprints identically (per-sample header
    * offsets cancel under first-difference coding), a re-encoded
    * scene sits a few bits away, unrelated videos far; too-short and
    * unparseable rows hash null and are excluded. Literal oracle rows
    * probed by VfpProbeMain. */
  def multimodalVfp(s: SparkSession, d: String): DataFrame =
    Multimodal.videoNearDupPairs(
      StreamingQueries.vfpCorpus(s), maxHamming = 10)

  /** The composed MEDIA curation pipeline — corpus_pipeline's shape for
    * binary columns: decode-probe quality gate (undecodable rows and
    * rows under 32px in EITHER dimension drop) → perceptual-hash
    * near-dup dedup (min-id survivor per pHash cluster, the exactKeep
    * rule applied to the pair graph) → deterministic split assignment
    * keyed on media_id. Every stage is the already-gated operator; the
    * gate pins that the MEDIA tier composes end-to-end like the text
    * tier does — and that it decodes each image exactly ONCE
    * ([[graft.operators.Multimodal.imageProbeHash]] yields dims + hash
    * from one pass; decode dominates the pipeline's cost at lake
    * scale). Literal oracle: the fixture's survivor set is probed
    * (family A keeps 1, family B keeps 5, singles stay), and the split
    * replays the same md5 bucket rule as corpus_split.
    *
    * The RETURNED frame is persisted (materialized once so the decode
    * stage never re-runs) — the caller owns its unpersist once
    * consumed, the same contract as winnowedOverlapPairs; every
    * intermediate persist is released before return (CacheHygieneSpec
    * pins both halves). */
  def mediaPipeline(s: SparkSession, d: String): DataFrame = {
    val ph = Multimodal.imageProbeHash(StreamingQueries.phashCorpus(s))
      .filter(col("phash").isNotNull &&
        col("width") >= 32 && col("height") >= 32)
      .persist()
    ph.count()
    val clusters = Dedup.clusters(
      Multimodal.hashNearDupPairs(ph.select("media_id", "phash"), 10)
        .select(col("id_a"), col("id_b")))
    val survivors = ph.select("media_id")
      .join(clusters.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("media_id")), Seq("media_id"), "left_anti")
    val out = graft.operators.Sampling.splitAssign(survivors, "media_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "mp1")
      .select("media_id", "split").persist()
    out.count()
    ph.unpersist()
    clusters.unpersist() // persisted only on the distributed fallback path
    out
  }

  /** PII audit + scrub. The synthetic corpus is clean by construction, so
    * the gate augments each document with deterministic PII derived from
    * its id (email, IP, phone, card — same derivation in the oracle) and
    * proves the scrub: per-kind counts plus the md5 of the redacted text.
    * The operator itself (TextOps.redactPii) is a pure regexp_replace
    * chain — map-side at any scale. */
  def textRedactPii(s: SparkSession, d: String): DataFrame = {
    val withPii = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com ip 10."), (col("doc_id") % 200).cast("string"),
        lit(".0.1 call 555-123-4567 card 4111111111111111")).as("text"))
    withPii.select(Seq(col("doc_id")) ++ TextOps.piiCounts(col("text")) :+
      md5(TextOps.redactPii(col("text"))).as("redacted_md5"): _*)
  }

  /** Gopher-style repetition profile: top-token / top-bigram share and
    * distinct-token ratio per document (the repetition-removal signals). */
  def textRepetition(s: SparkSession, d: String): DataFrame =
    // single-row-group parquet → one split; Spread distributes the
    // tokenize+explode (same concern as analyzer_tokens)
    TextOps.repetition(graft.core.Spread(Tables.documents(s, d)))

  /** CCNet-style LM quality bucketing: unigram LM trained on the corpus,
    * quarter-bit-exact per-doc surprisal, head/middle/tail by fixed
    * cutoffs (the offline-chosen constants of the CCNet pipeline). */
  def textSurprisal(s: SparkSession, d: String): DataFrame =
    TextOps.surprisal(graft.core.Spread(Tables.documents(s, d)),
      headBits = 4.7625, middleBits = 4.775)

  /** Exact-substring duplication (Lee et al. ExactSubstr analog): per-doc
    * count of 10-token spans that appear verbatim in another document. */
  def spanDedup(s: SparkSession, d: String): DataFrame =
    Dedup.spanProfile(Tables.documents(s, d), k = 10)

  /** Exact-substring span removal: tokens covered by any 10-token
    * window shared verbatim with ANOTHER document are cut; per doc the
    * removal count plus the md5 of the reassembled scrubbed text. */
  def spanScrubGate(s: SparkSession, d: String): DataFrame =
    Dedup.spanScrub(Tables.documents(s, d), k = 10)

  /** Token-budget corpus mixing: per-language budgets hit exactly, in
    * deterministic hash order (the "X tokens of each source" mix step). */
  def corpusMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.operators.Sampling.tokenBudget(docs, "doc_id", "lang", "n_tokens",
        budgets = Map("en" -> 6000L), defaultBudget = 2000L, salt = "mix1")
      .select("doc_id", "lang", "n_tokens", "cum_tokens")
  }

  /** Repeat-factor upsampling: the en stratum at 2.3 epochs (every doc
    * twice, the hash-chosen 30% a third time), everything else halved —
    * the training-mix "epochs" column, reproducible copy-for-copy. */
  def corpusUpsample(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.repeatUpsample(
        Tables.documents(s, d).select("doc_id", "lang"),
        "doc_id", "lang", weights = Map("en" -> 2.3), defaultWeight = 0.5,
        salt = "up1")
      .select("doc_id", "lang", "copy")

  /** Reproducible global training order: contiguous 1-based positions
    * in salted-hash order, computed bucket-parallel (never a
    * single-partition global window). */
  def corpusShuffle(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.trainingOrder(
        Tables.documents(s, d).select("doc_id"), "doc_id", salt = "ord1")
      .select("doc_id", "pos")

  /** DSIR importance selection: the 100 most en-like documents of the
    * multilingual pool under a hashed-bigram LM log-ratio (target sample
    * = the en docs themselves), scores exact quarter-bit integers. */
  def dsirSelectGate(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.dsirSelect(
      Tables.documents(s, d), targetPred = col("lang") === "en",
      buckets = 256, k = 100)

  /** Per-domain frequency cap: at most 10 docs per source, survivors in
    * deterministic salted-hash order, original domain size carried. */
  def domainCapGate(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.domainCap(
      Tables.documents(s, d), domainCol = "source", cap = 10)

  /** Deterministic train/val/test split assignment — hash-range
    * membership, map-side, reproducible anywhere. */
  def corpusSplit(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.splitAssign(
        Tables.documents(s, d).select("doc_id"),
        "doc_id", Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02),
        salt = "sp1")
      .select("doc_id", "split")

  /** Leakage-free split: near-dup cluster members share a split (the
    * split hash keys on the cluster id), so no test document has a
    * near-duplicate in train — contamination prevented AT split time. */
  def corpusSplitLeakFree(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.8)
    val clusters = Dedup.clusters(pairs)
    pairs.unpersist() // consumed by clusters() in both paths
    handoff(graft.operators.Sampling.splitAssignLeakFree(
        docs.select("doc_id"), clusters, "doc_id",
        Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02), salt = "sp1")
      .select("doc_id", "cluster_id", "split"), clusters)
  }

  /** The composed curation pipeline a production corpus runs
    * END-TO-END: quality filter (Gopher rules) → exact dedup (min-id
    * survivor per fingerprint) → per-domain frequency cap →
    * train/val/test split — each stage the already-gated operator,
    * chained exactly as a user chains them. The gate pins that the
    * stages COMPOSE: every stage's keep decision is a pure function of
    * the rows the previous stage passed, so the whole pipeline is one
    * declarative plan that scans the corpus ONCE — the quality rules
    * and the dedup fingerprint evaluate in the same scan projection
    * (qualityFilter `carry` + [[graft.operators.Dedup.exactKeep]]'s
    * window replace the survivor-id semi-joins, whose probe sides each
    * re-executed the upstream stages), and the cap is the one-pass
    * window form for the same reason. Two shuffles total: the
    * fingerprint window (ids + 128 bits per row — text prunes below
    * the exchange) and the domain window. */
  /** quality → exact dedup → domain cap, shared by [[corpusPipeline]]
    * and [[corpusPipelineLeakFree]]: one corpus scan, two window
    * shuffles, zero joins. */
  private def cappedStage(docs: DataFrame): DataFrame = {
    val kept = TextOps.qualityFilter(docs, minTokens = 40, maxTokens = 80,
        minMeanTokLen = 4.1, maxMeanTokLen = 4.8, minAlphaRatio = 0.82,
        minStopwordRatio = 0.05, carry = Seq("source", "text"))
      .filter(col("keep"))
    val surv = Dedup.exactKeep(kept.select("doc_id", "source", "text"))
      .select("doc_id", "source")
    graft.operators.Sampling.domainCapOnePass(surv, "source", cap = 10)
  }

  def corpusPipeline(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.splitAssign(
        cappedStage(Tables.documents(s, d)), "doc_id",
        Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02), salt = "sp1")
      .select("doc_id", "source", "n_domain", "split")

  /** The composed pipeline with the CONTAMINATION-SAFE ending: quality
    * → exact dedup → domain cap → LEAK-FREE split — near-dup clusters
    * derived from the kept rows key the split hash, so no test
    * document has a near-duplicate in train ([[graft.operators
    * .Sampling.splitAssignLeakFree]], Lee et al. 2022 §6.2 applied at
    * split time, composed end-to-end). Plan: the capped stage stays
    * the one-scan/two-window pipeline and is persisted; the pair
    * graph re-reads only the KEPT documents' text (a semi-join of the
    * corpus against the capped id set — capped is cap×domains rows,
    * broadcastable), and the cluster frame (bounded by near-dup
    * PAIRS) hash-joins back onto the capped ids — the only join in
    * the composition.
    *
    * The RETURNED frame is persisted (materialized once so the capped
    * stage can release before return) — the caller owns its unpersist
    * once consumed, the same contract as winnowedOverlapPairs; every
    * intermediate persist is released before return (CacheHygieneSpec
    * pins both halves). */
  def corpusPipelineLeakFree(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val capped = cappedStage(docs).persist()
    capped.count()
    val keptDocs = docs.join(
      broadcast(capped.select("doc_id")), Seq("doc_id"), "left_semi")
    val pairs = Dedup.ngramJaccardPairs(keptDocs, n = 3, threshold = 0.8)
    val clusters = Dedup.clusters(pairs)
    // clusters() fully materialized the pair graph, so the pair op's
    // caller-owned cache releases here, inside the composition
    pairs.unpersist()
    val out = graft.operators.Sampling.splitAssignLeakFree(capped, clusters,
        "doc_id", Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02),
        salt = "sp1")
      .select("doc_id", "source", "n_domain", "cluster_id", "split")
      .persist()
    out.count()
    capped.unpersist()
    clusters.unpersist() // persisted only on the distributed fallback path
    out
  }

  /** Sequence packing: the shuffled corpus as one token stream cut into
    * 2048-token context windows — per doc its stream offset, start
    * window, and window span; computed bucket-parallel with the same
    * offset scheme as corpus_shuffle (never a global window). */
  def corpusPack(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.packWindows(
        Tables.documents(s, d).select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", ctxLen = 2048, salt = "ord1")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("start_tok"),
        col("window_id").cast("long").as("window_id"),
        col("n_windows").cast("long").as("n_windows"))

  /** MOSS-style winnowed fingerprint overlap: document pairs sharing
    * ≥ 2 local fingerprints (k=3 grams, w=4 windows) — copied-passage
    * detection, the position-local complement of whole-doc md5 and
    * shingle-SET Jaccard. The md5-prefix gram hash replays exactly in
    * DuckDB, so the oracle re-derives the same fingerprints and join. */
  def textWinnow(s: SparkSession, d: String): DataFrame =
    TextOps.winnowedOverlapPairs(Tables.documents(s, d),
      k = 3, w = 4, minShared = 2)

  /** Quarter-bit-exact TF-IDF relevance ranking: top-20 documents for a
    * three-term query, integer scores (qlog4-quantized idf), total-order
    * tie-break — the corpus-wide form of the reference's stored-TermWeight
    * relevance (content:scoredPhrase). */
  def textRankTfidf(s: SparkSession, d: String): DataFrame =
    TextOps.rankTfIdf(graft.core.Spread(Tables.documents(s, d)),
      Seq("join", "merge", "scan"))

  /** One BPE merge iteration's statistic: adjacent-symbol pair counts
    * over the word-frequency table, top-50 — the tokenizer-training
    * aggregate (corpus collapses to vocab before any pair work). */
  def bpePairs(s: SparkSession, d: String): DataFrame =
    TextOps.bpePairs(graft.core.Spread(Tables.documents(s, d)))

  /** Temperature-scaled per-language sampling weights (α = 1/2 via exact
    * integer floor-sqrt): the multilingual mix table feeding
    * repeat-factor upsampling. */
  def corpusTemperature(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.temperatureWeights(
      Tables.documents(s, d).select(col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
      "lang", "n_tokens")

  /** C4-style global line dedup: the corpus has no newline structure, so
    * the gate derives deterministic "lines" (consecutive 10-token
    * chunks, rejoined with \n — same derivation in the oracle) and
    * proves the rewrite: per-doc line counts + md5 of the reassembled
    * surviving text. */
  def dedupLines(s: SparkSession, d: String): DataFrame =
    // no Spread here: lineDedup spreads internally like every Dedup op
    Dedup.lineDedup(Tables.documents(s, d).select(col("doc_id"),
      TextOps.chunkLines(col("text")).as("text")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_lines" -> dedupLines _,
    "text_rank_tfidf" -> textRankTfidf _,
    "bpe_pairs" -> bpePairs _,
    "corpus_temperature" -> corpusTemperature _,
    "corpus_shuffle" -> corpusShuffle _,
    "corpus_upsample" -> corpusUpsample _,
    "corpus_dsir" -> dsirSelectGate _,
    "corpus_domain_cap" -> domainCapGate _,
    "corpus_split" -> corpusSplit _,
    "corpus_split_leakfree" -> corpusSplitLeakFree _,
    "corpus_pipeline" -> corpusPipeline _,
    "corpus_pipeline_leakfree" -> corpusPipelineLeakFree _,
    "corpus_pack" -> corpusPack _,
    "text_redact_pii" -> textRedactPii _,
    "text_repetition" -> textRepetition _,
    "text_surprisal" -> textSurprisal _,
    "span_dedup" -> spanDedup _,
    "span_scrub" -> spanScrubGate _,
    "corpus_mix" -> corpusMix _,
    "dedup_exact" -> dedupExact _,
    "dedup_ngram_jaccard" -> dedupNgram _,
    "decontaminate" -> decontaminate _,
    "dedup_clusters" -> dedupClusters _,
    "dedup_keep_best" -> dedupKeepBest _,
    "text_tokens_bpe" -> textTokensBpe _,
    "sample_stratified" -> sampleStratified _,
    "dedup_minhash_lsh" -> dedupMinhash _,
    "dedup_incremental" -> dedupIncremental _,
    "dedup_simhash" -> dedupSimhash _,
    "text_analyze" -> textAnalyze _,
    "text_quality_filter" -> textQualityFilter _,
    "text_tokens" -> textTokens _,
    "ann_topk" -> annTopk _,
    "emb_neardup" -> embNearDup _,
    "emb_neardup_cell" -> embNearDupCell _,
    "ann_lsh" -> annLsh _,
    "ann_lsh_recall" -> annLshRecall _,
    "ann_ivf_recall" -> annIvfRecall _,
    "ann_pq_recall" -> annPqRecall _,
    "ann_pq_batch" -> annPqBatch _,
    "ann_ivfpq_batch" -> annIvfPqBatch _,
    "ann_ivfpq_recall" -> annIvfPqRecall _,
    "ann_knn_join" -> annKnnJoin _,
    "ann_knn_cell_recall" -> annKnnCellRecall _,
    "multimodal_probe" -> multimodalProbe _,
    "multimodal_phash" -> multimodalPhash _,
    "multimodal_afp" -> multimodalAfp _,
    "multimodal_vfp" -> multimodalVfp _,
    "media_pipeline" -> mediaPipeline _,
    "text_winnow" -> textWinnow _,
  )

  private val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
  private val fpSql =
    "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
  private def shinglesOf(table: String) =
    s"""(SELECT doc_id,
       |   list_distinct(list_transform(range(1, len(toks) - 1),
       |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       | FROM (SELECT doc_id, $toksSql AS toks FROM $table)
       | WHERE len(toks) >= 3)""".stripMargin
  /** The 3-gram Jaccard ≥ 0.8 pair set over any (doc_id, text) table —
    * the quadratic oracle for every banded Spark pair derivation. */
  private[queries] def jaccardPairsOver(table: String): String = {
    val sh = shinglesOf(table)
    s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |   len(list_intersect(a.sh, b.sh)) AS inter,
       |   len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
       | FROM $sh a JOIN $sh b ON a.doc_id < b.doc_id
       | WHERE len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0
       |   AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) >=
       |       CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) * 0.8""".stripMargin
  }
  private[queries] val jaccardPairsSql = jaccardPairsOver("documents")
  private val shinglesSql = shinglesOf("documents")

  /** text_winnow's oracle over an optional doc restriction (a pair's
    * fingerprints depend only on its two documents, so a sliced corpus
    * is the full answer filtered to both-ids-in-slice) — shared by the
    * batch gate ("") and the streamed gate's corpus slice. */
  private[queries] def winnowOracleSql(where: String): String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents $where),
       |g AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
       |  FROM t WHERE len(toks) >= 3),
       |h AS (SELECT doc_id, list_transform(grams, g2 ->
       |    CAST(concat('0x', substr(md5(g2), 1, 8)) AS BIGINT)) AS hs
       |  FROM g),
       |f AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(hs) - 3, 1) + 1),
       |    i -> list_min(hs[i:i+3]))) AS fps FROM h),
       |e AS (SELECT doc_id, unnest(fps) AS fp FROM f)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |   CAST(count(*) AS BIGINT) AS shared
       | FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
       | GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** corpus_pipeline's CTE chain through `capped` — each member the
    * already-gated stage oracle restricted to the previous stage's
    * survivors: quality keep (text_quality_filter's conjunctive form),
    * min-id-per-fingerprint exact dedup, the dcap-salted domain cap.
    * Shared verbatim by corpus_pipeline and corpus_pipeline_leakfree. */
  private def pipelineCappedCtes: String = {
    val stops = TextOps.EnStopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""t AS (
       |  SELECT doc_id, text, $toksSql AS toks, length(text) AS n_chars
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    CASE WHEN len(toks) > 0 THEN
       |      CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |      ELSE 0.0 END AS mtl,
       |    CASE WHEN n_chars > 0 THEN
       |      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / CAST(n_chars AS DOUBLE)
       |      ELSE 0.0 END AS ar,
       |    CASE WHEN len(toks) > 0 THEN
       |      CAST(len(list_filter(toks, x -> list_contains($stops, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |      ELSE 0.0 END AS sr
       |  FROM t),
       |q AS (SELECT doc_id FROM m
       |  WHERE n_tokens >= 40 AND n_tokens <= 80 AND mtl >= 4.1 AND mtl <= 4.8
       |    AND ar >= 0.82 AND sr >= 0.05),
       |kept AS (SELECT d.doc_id, d.text, d.source
       |  FROM documents d JOIN q USING (doc_id)),
       |surv AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY $fpSql),
       |sd AS (SELECT k.doc_id, k.source FROM kept k JOIN surv USING (doc_id)),
       |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_domain
       |  FROM sd GROUP BY 1),
       |r AS (SELECT doc_id, source, row_number() OVER (
       |    PARTITION BY source ORDER BY
       |      CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
       |        ':dcap')), 1, 8)) AS BIGINT) % 1000000, doc_id) AS rk
       |  FROM sd),
       |capped AS (SELECT doc_id, source, n_domain
       |  FROM r JOIN c USING (source) WHERE rk <= 10)""".stripMargin
  }

  private val piiTextSql =
    """text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |  '@example.com ip 10.' || CAST(doc_id % 200 AS VARCHAR) ||
      |  '.0.1 call 555-123-4567 card 4111111111111111'""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // progressive redaction, one kind at a time, counts taken on the view
    // each stage sees — mirrors TextOps.PiiPatterns order exactly
    "text_redact_pii" ->
      s"""WITH p0 AS (SELECT doc_id, $piiTextSql AS t0 FROM documents),
         |p1 AS (SELECT doc_id, t0,
         |  regexp_replace(t0, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
         |    '<EMAIL>', 'g') AS t1 FROM p0),
         |p2 AS (SELECT *, regexp_replace(t1, '\\b\\d{16}\\b', '<CARD>', 'g') AS t2
         |  FROM p1),
         |p3 AS (SELECT *,
         |  regexp_replace(t2, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS t3
         |  FROM p2),
         |p4 AS (SELECT *,
         |  regexp_replace(t3, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
         |    '<IP>', 'g') AS t4 FROM p3)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t0,
         |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t1, '\\b\\d{16}\\b')) AS BIGINT) AS n_card,
         |  CAST(len(regexp_extract_all(t2,
         |    '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(t3,
         |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ip,
         |  md5(t4) AS redacted_md5
         | FROM p4""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS g FROM t),
         |tc AS (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY 1, 2),
         |tt AS (SELECT doc_id,
         |   CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_token_frac
         | FROM tc GROUP BY 1),
         |bg AS (SELECT doc_id,
         |   unnest(list_transform(range(1, len(toks)),
         |     i -> toks[i] || ' ' || toks[i+1])) AS g
         | FROM t WHERE len(toks) >= 2),
         |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         |bt AS (SELECT doc_id,
         |   CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac
         | FROM bc GROUP BY 1)
         |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(toks) > 0 THEN
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         |  ELSE 1.0 END AS distinct_ratio,
         |  COALESCE(tt.top_token_frac, 0.0) AS top_token_frac,
         |  COALESCE(bt.top_bigram_frac, 0.0) AS top_bigram_frac
         | FROM t LEFT JOIN tt USING (doc_id) LEFT JOIN bt USING (doc_id)""".stripMargin,
    "dedup_exact" ->
      s"""SELECT $fpSql AS fingerprint, min(doc_id) AS survivor_id,
         |   count(*) AS n_copies
         | FROM documents GROUP BY 1""".stripMargin,
    "dedup_ngram_jaccard" -> jaccardPairsSql,
    "decontaminate" ->
      s"""WITH bench AS (
         |  SELECT list(DISTINCT s) AS bs
         |  FROM (SELECT unnest(sh) AS s FROM $shinglesSql
         |        WHERE doc_id % 50 = 0)
         |)
         |SELECT a.doc_id, CAST(len(list_intersect(a.sh, b.bs)) AS BIGINT) AS hits
         | FROM $shinglesSql a, bench b
         | WHERE len(list_intersect(a.sh, b.bs)) >= 2""".stripMargin,
    "dedup_minhash_lsh" -> jaccardPairsSql,
    // the exact pair set restricted to pairs with a NEW-batch side
    "dedup_incremental" ->
      s"""SELECT * FROM ($jaccardPairsSql)
         | WHERE id_a % 5 = 0 OR id_b % 5 = 0""".stripMargin,
    // same md5-derived bucket on both engines → identical keep decisions
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        | WHERE CAST(concat('0x',
        |         substr(md5(concat(CAST(doc_id AS VARCHAR), ':s1')), 1, 8))
        |       AS BIGINT) % 1000000
        |   < CAST((CASE WHEN lang = 'en' THEN 0.5 ELSE 0.9 END) * 1000000
        |       AS BIGINT)""".stripMargin,
    // transitive closure over the (tiny) pair graph; min reachable id
    // per node = the component label
    "dedup_clusters" ->
      s"""WITH RECURSIVE p AS (SELECT id_a, id_b FROM ($jaccardPairsSql)),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
         |)
         |SELECT src AS doc_id, CAST(LEAST(src, MIN(dst)) AS BIGINT) AS cluster_id
         | FROM reach GROUP BY src""".stripMargin,
    // same component derivation as dedup_clusters, then per-cluster
    // argmax on the integer alpha count (ties by id); singletons ride
    // in via the NOT IN anti leg
    "dedup_keep_best" ->
      s"""WITH RECURSIVE p AS (SELECT id_a, id_b FROM ($jaccardPairsSql)),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
         |),
         |cl AS (SELECT src AS doc_id,
         |    CAST(LEAST(src, MIN(dst)) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY src),
         |q AS (SELECT doc_id, CAST(length(regexp_replace(text,
         |    '[^a-zA-Z]', '', 'g')) AS BIGINT) AS quality FROM documents),
         |r AS (SELECT cl.doc_id, cluster_id, quality,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality DESC, cl.doc_id) AS rk,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM cl JOIN q USING (doc_id))
         |SELECT doc_id, cluster_id, quality,
         |  CAST(n_members AS BIGINT) AS n_members FROM r WHERE rk = 1
         |UNION ALL
         |SELECT q.doc_id, CAST(q.doc_id AS BIGINT) AS cluster_id, quality,
         |  CAST(1 AS BIGINT) AS n_members FROM q
         | WHERE q.doc_id NOT IN (SELECT doc_id FROM cl)""".stripMargin,
    // the SAME pre-tokenizer regex runs under Java regex and RE2 (no
    // lookarounds, explicit classes); apostrophe doubled for SQL
    "text_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\r\n]+'))
        |    AS BIGINT) AS n_pieces,
        |  CAST(len(list_filter(regexp_split_to_array(text, '[ \t\r\n]+'),
        |    x -> x <> '')) AS BIGINT) AS n_ws_tokens
        | FROM documents""".stripMargin,
    // dedup_simhash: the md5-derived signature makes the whole pipeline
    // deterministic across engines — the oracle replicates signature →
    // 8×8-bit banding → hamming ≤ 7 → exact jaccard verify bit-for-bit.
    "dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS t FROM documents
         |), th AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h1,
         |    CAST(concat('0x', substr(md5(t), 16, 15)) AS BIGINT) AS h2
         |  FROM tok
         |), lanes AS (
         |  SELECT doc_id, i,
         |    SUM(2 * (CASE WHEN i < 32 THEN (h1 >> i) ELSE (h2 >> (i - 32)) END & 1) - 1) AS cnt
         |  FROM th, range(0, 64) r(i)
         |  GROUP BY doc_id, i
         |), sig AS (
         |  SELECT doc_id,
         |    bit_or(CASE WHEN cnt > 0 THEN
         |      CASE WHEN i = 63 THEN (-9223372036854775807 - 1)::BIGINT
         |           ELSE (1::BIGINT << CAST(i AS INT)) END
         |      ELSE 0::BIGINT END) AS sim
         |  FROM lanes GROUP BY doc_id
         |), banded AS (
         |  SELECT doc_id, sim, b, (sim >> CAST(b * 8 AS INT)) & 255 AS bucket
         |  FROM sig, range(0, 8) r(b)
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |    x.sim AS sim_a, y.sim AS sim_b
         |  FROM banded x JOIN banded y
         |    ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id
         |), ham AS (
         |  SELECT id_a, id_b FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 7
         |)
         |SELECT h.id_a, h.id_b,
         |  len(list_intersect(a.sh, b.sh)) AS inter,
         |  len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
         |FROM ham h JOIN $shinglesSql a ON h.id_a = a.doc_id
         |          JOIN $shinglesSql b ON h.id_b = b.doc_id
         |WHERE len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0
         |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) >=
         |      CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) * 0.8""".stripMargin,
    "text_tokens" ->
      s"SELECT doc_id, len($toksSql) AS n_tokens FROM documents",
    // quarter-bit quantized unigram-LM surprisal: qlog4(x) =
    // length(bin(x^4))-1 below 2^15, saturated whole-bit above — exact
    // integer arithmetic end-to-end, one IEEE division for the mean
    "text_surprisal" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |m AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
         |tot AS (SELECT CASE WHEN CAST(sum(c) AS BIGINT) < 32768
         |    THEN length(bin(CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)
         |         * CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT))) - 1
         |    ELSE 4 * (length(bin(CAST(sum(c) AS BIGINT))) - 1) + 3 END AS tq
         |  FROM m),
         |sc AS (SELECT doc_id, count(*) AS n,
         |  sum((SELECT tq FROM tot)
         |    - (CASE WHEN c < 32768 THEN length(bin(c*c*c*c)) - 1
         |        ELSE 4 * (length(bin(c)) - 1) + 3 END)) AS qb
         | FROM tok JOIN m USING (tok) GROUP BY 1),
         |f AS (SELECT d.doc_id,
         |  CAST(COALESCE(n, 0) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(qb, 0) AS BIGINT) AS surprisal_qbits,
         |  CASE WHEN COALESCE(n, 0) > 0
         |    THEN CAST(qb AS DOUBLE) / CAST(n * 4 AS DOUBLE)
         |    ELSE 0.0 END AS mean_surprisal
         | FROM documents d LEFT JOIN sc USING (doc_id))
         |SELECT doc_id, n_tokens, surprisal_qbits, mean_surprisal,
         |  CASE WHEN mean_surprisal < 4.7625 THEN 'head'
         |       WHEN mean_surprisal < 4.775 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         | FROM f""".stripMargin,
    // 10-token spans shared verbatim across documents (distinct per doc,
    // inverted-index df >= 2) — grouping by the span string is
    // equivalent to the engine's md5 narrowing
    "span_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sp AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 10 THEN
         |    list_distinct(list_transform(range(1, len(toks) - 8),
         |      i -> list_aggregate(toks[i:i+9], 'string_agg', ' ')))
         |  ELSE [] END AS spans FROM t),
         |e AS (SELECT doc_id, unnest(spans) AS s FROM sp),
         |sh AS (SELECT s FROM e GROUP BY s HAVING count(*) >= 2),
         |pd AS (SELECT doc_id, count(*) AS n_dup FROM e JOIN sh USING (s)
         |       GROUP BY 1)
         |SELECT sp.doc_id, CAST(len(spans) AS BIGINT) AS n_spans,
         |  CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_spans,
         |  CASE WHEN len(spans) > 0
         |    THEN CAST(COALESCE(n_dup, 0) AS DOUBLE) / CAST(len(spans) AS DOUBLE)
         |    ELSE 0.0 END AS dup_frac
         | FROM sp LEFT JOIN pd USING (doc_id)""".stripMargin,
    // cross-doc spans via min(doc)<>max(doc), coverage = k-fan explode
    // of duplicated windows only, survivors anti-joined, rebuild md5
    // over the position-ordered remainder
    "span_scrub" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |w AS (SELECT doc_id, unnest(range(0, len(toks) - 9)) AS p, toks
         |  FROM t WHERE len(toks) >= 10),
         |ws AS (SELECT doc_id, p,
         |    md5(list_aggregate(toks[p+1:p+10], 'string_agg', ' ')) AS h
         |  FROM w),
         |x AS (SELECT h FROM ws GROUP BY h
         |  HAVING min(doc_id) <> max(doc_id)),
         |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 10)) AS pos
         |  FROM ws JOIN x USING (h)),
         |tok AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
         |    unnest(toks) AS tok FROM t),
         |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
         |  ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos),
         |reb AS (SELECT doc_id, count(*) AS n_kept,
         |    md5(string_agg(tok, ' ' ORDER BY pos)) AS m
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(toks) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(m, md5('')) AS scrubbed_md5
         | FROM t LEFT JOIN reb USING (doc_id)""".stripMargin,
    // hashed-bigram LM log-ratio, quarter-bit quantized (the qlog4 CASE
    // on the Laplace-smoothed counts) — integer end-to-end, so the
    // top-100 reproduces bit-for-bit; tie-break doc_id
    "corpus_dsir" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |big AS (SELECT doc_id, lang,
         |    unnest(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS s
         |  FROM t WHERE len(toks) >= 2),
         |bk AS (SELECT doc_id, lang,
         |    CAST(concat('0x', substr(md5(s), 1, 6)) AS BIGINT) % 256 AS b
         |  FROM big),
         |lm AS (SELECT b, CAST(count(*) AS BIGINT) + 1 AS r,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |      + 1 AS t
         |  FROM bk GROUP BY 1),
         |w AS (SELECT b,
         |    (CASE WHEN t < 32768 THEN length(bin(t*t*t*t)) - 1
         |          ELSE 4 * (length(bin(t)) - 1) + 3 END)
         |  - (CASE WHEN r < 32768 THEN length(bin(r*r*r*r)) - 1
         |          ELSE 4 * (length(bin(r)) - 1) + 3 END) AS w
         |  FROM lm),
         |sc AS (SELECT doc_id, sum(w) AS q FROM bk JOIN w USING (b)
         |  GROUP BY 1)
         |SELECT d.doc_id, CAST(COALESCE(q, 0) AS BIGINT) AS dsir_qbits
         | FROM documents d LEFT JOIN sc USING (doc_id)
         | ORDER BY dsir_qbits DESC, doc_id LIMIT 100""".stripMargin,
    // survivors = rank ≤ cap in (md5 bucket, doc_id) order per source;
    // n_domain is the ORIGINAL size so the cut is visible
    "corpus_domain_cap" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_domain
        |  FROM documents GROUP BY 1),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY
        |      CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |        ':dcap')), 1, 8)) AS BIGINT) % 1000000, doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, n_domain
        | FROM r JOIN c USING (source) WHERE rk <= 10""".stripMargin,
    // the two-pass bucket-offset positions equal a global row_number in
    // the same (md5 bucket, doc_id) order
    "corpus_shuffle" ->
      """SELECT doc_id, CAST(row_number() OVER (ORDER BY
        |   CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |     ':ord1')), 1, 8)) AS BIGINT) % 1000000,
        |   doc_id) AS BIGINT) AS pos
        | FROM documents""".stripMargin,
    // hash-range membership: bounds 960000 / 980000 of the 1e6 buckets
    "corpus_split" ->
      """SELECT doc_id, CASE WHEN b < 960000 THEN 'train'
        |   WHEN b < 980000 THEN 'val' ELSE 'test' END AS split
        | FROM (SELECT doc_id,
        |   CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |     ':sp1')), 1, 8)) AS BIGINT) % 1000000 AS b FROM documents)""".stripMargin,
    // the cluster derivation is dedup_clusters' recursive CTE; the
    // split hash keys on the (coalesced-to-self) cluster id
    "corpus_split_leakfree" ->
      s"""WITH RECURSIVE p AS (SELECT id_a, id_b FROM ($jaccardPairsSql)),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
         |),
         |cl AS (SELECT src AS doc_id,
         |    CAST(LEAST(src, MIN(dst)) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY src),
         |k AS (SELECT d.doc_id,
         |    COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  CASE WHEN b < 960000 THEN 'train'
         |       WHEN b < 980000 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |   CAST(concat('0x', substr(md5(concat(CAST(cluster_id AS VARCHAR),
         |     ':sp1')), 1, 8)) AS BIGINT) % 1000000 AS b FROM k)""".stripMargin,
    // the composed pipeline: each CTE is the already-gated stage oracle
    // restricted to the previous stage's survivors — quality keep
    // (text_quality_filter's conjunctive form), min-id-per-fingerprint
    // exact dedup, the dcap-salted domain cap, the sp1-salted split
    "corpus_pipeline" ->
      s"""WITH $pipelineCappedCtes
         |SELECT doc_id, source, n_domain,
         |  CASE WHEN b < 960000 THEN 'train'
         |       WHEN b < 980000 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT *, CAST(concat('0x', substr(md5(concat(
         |    CAST(doc_id AS VARCHAR), ':sp1')), 1, 8)) AS BIGINT) % 1000000 AS b
         |  FROM capped)""".stripMargin,
    // the composed pipeline through `capped` (corpus_pipeline's CTEs
    // verbatim), then the leak-free ending: the quadratic jaccard pair
    // graph over the KEPT documents only, dedup_clusters' recursive
    // component-min CTE, singletons coalesced to their own id, and the
    // sp1-salted split keyed on the CLUSTER id
    "corpus_pipeline_leakfree" ->
      s"""WITH RECURSIVE $pipelineCappedCtes,
         |kd AS (SELECT d.doc_id, d.text FROM documents d
         |       JOIN capped USING (doc_id)),
         |p AS (SELECT id_a, id_b FROM (${jaccardPairsOver("kd")})),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT rr.src, e2.dst FROM reach rr JOIN e e2 ON rr.dst = e2.src
         |),
         |cl AS (SELECT src AS doc_id,
         |    CAST(LEAST(src, MIN(dst)) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY src),
         |ck AS (SELECT cp.doc_id, cp.source, cp.n_domain,
         |    COALESCE(cl.cluster_id, cp.doc_id) AS cluster_id
         |  FROM capped cp LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, source, n_domain, cluster_id,
         |  CASE WHEN b < 960000 THEN 'train'
         |       WHEN b < 980000 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT *, CAST(concat('0x', substr(md5(concat(
         |    CAST(cluster_id AS VARCHAR), ':sp1')), 1, 8)) AS BIGINT) % 1000000 AS b
         |  FROM ck)""".stripMargin,
    // the oracle replays the GLOBAL running sum the bucket-offset form
    // reconstructs (the bucket is monotone in the hash, ties share a
    // bucket — identical total order)
    "corpus_pack" ->
      s"""WITH tk AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |ord AS (SELECT doc_id, n_tokens,
         |  CAST(SUM(n_tokens) OVER (ORDER BY
         |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
         |      ':ord1')), 1, 8)) AS BIGINT) % 1000000, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start_tok
         |  FROM tk)
         |SELECT doc_id, n_tokens, start_tok,
         |  CAST(FLOOR(start_tok / 2048.0) AS BIGINT) AS window_id,
         |  CAST(FLOOR((start_tok + GREATEST(n_tokens, 1) - 1) / 2048.0)
         |    AS BIGINT) - CAST(FLOOR(start_tok / 2048.0) AS BIGINT) + 1
         |    AS n_windows
         |FROM ord""".stripMargin,
    // floor(w) copies + one more when the md5 bucket falls under the
    // fractional remainder; FLOOR before the BIGINT cast because DuckDB
    // rounds double→int while Spark truncates
    "corpus_upsample" ->
      """WITH d AS (SELECT doc_id, lang,
        |   CASE WHEN lang = 'en' THEN 2.3 ELSE 0.5 END AS w,
        |   CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |     ':up1')), 1, 8)) AS BIGINT) % 1000000 AS b
        | FROM documents),
        |c AS (SELECT doc_id, lang,
        |   CAST(FLOOR(w) AS BIGINT) + CASE WHEN b <
        |     CAST(FLOOR((w - FLOOR(w)) * 1000000) AS BIGINT)
        |     THEN 1 ELSE 0 END AS n FROM d)
        |SELECT doc_id, lang, CAST(g AS BIGINT) AS copy
        | FROM c, unnest(range(1, n + 1)) t(g) WHERE n >= 1""".stripMargin,
    // same md5 bucket ordering + running token sum on both engines →
    // identical budget cuts (doc_id breaks bucket ties)
    "corpus_mix" ->
      s"""WITH d AS (SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |w AS (SELECT doc_id, lang, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY
         |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':mix1')),
         |      1, 8)) AS BIGINT) % 1000000, doc_id) AS BIGINT) AS cum_tokens FROM d)
         |SELECT doc_id, lang, n_tokens, cum_tokens FROM w
         | WHERE cum_tokens <= CASE WHEN lang = 'en' THEN 6000 ELSE 2000 END""".stripMargin,
    "text_analyze" -> {
      val stops = TextOps.EnStopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      def langList(lang: String) = TextOps.LangStopwords.toMap.apply(lang)
        .map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksSql AS toks,
         |    list_distinct($toksSql) AS dtoks,
         |    length(text) AS n_chars
         |  FROM documents),
         |sc AS (
         |  SELECT *,
         |    len(toks) AS n_tokens,
         |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
         |    len(list_intersect(dtoks, ${langList("en")})) AS s_en,
         |    len(list_intersect(dtoks, ${langList("de")})) AS s_de,
         |    len(list_intersect(dtoks, ${langList("es")})) AS s_es,
         |    len(list_intersect(dtoks, ${langList("fr")})) AS s_fr
         |  FROM t)
         |SELECT doc_id, n_chars, n_tokens,
         |  CASE WHEN n_chars > 0 THEN alpha / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN n_tokens > 0 THEN
         |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN n_tokens > 0 THEN
         |    CAST(len(list_filter(toks, x -> list_contains($stops, x))) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    ELSE 0.0 END AS stopword_ratio,
         |  (n_tokens >= 5 AND n_tokens <= 100000 AND
         |   (CASE WHEN n_chars > 0 THEN alpha / CAST(n_chars AS DOUBLE) ELSE 0.0 END) > 0.6) AS quality_keep,
         |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
         |       WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |       WHEN s_fr > 0 THEN 'fr'
         |       ELSE 'und' END AS lang_pred,
         |  $fpSql AS fingerprint
         |FROM sc""".stripMargin
    },
    // text_quality_filter: replicate the ordered rule chain — the first
    // failing rule is the reason; ratio math matches text_analyze's
    // (those float columns already full-hash-match across engines)
    "text_quality_filter" -> {
      val stops = TextOps.EnStopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksSql AS toks, length(text) AS n_chars
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    CASE WHEN len(toks) > 0 THEN
         |      CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         |      ELSE 0.0 END AS mtl,
         |    CASE WHEN n_chars > 0 THEN
         |      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / CAST(n_chars AS DOUBLE)
         |      ELSE 0.0 END AS ar,
         |    CASE WHEN len(toks) > 0 THEN
         |      CAST(len(list_filter(toks, x -> list_contains($stops, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         |      ELSE 0.0 END AS sr
         |  FROM t)
         |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |  CASE WHEN n_tokens < 40 THEN 'too_few_tokens'
         |       WHEN n_tokens > 80 THEN 'too_many_tokens'
         |       WHEN mtl < 4.1 THEN 'mean_token_len_low'
         |       WHEN mtl > 4.8 THEN 'mean_token_len_high'
         |       WHEN ar < 0.82 THEN 'alpha_ratio_low'
         |       WHEN sr < 0.05 THEN 'stopword_ratio_low'
         |       ELSE NULL END AS drop_reason,
         |  (n_tokens >= 40 AND n_tokens <= 80 AND mtl >= 4.1 AND mtl <= 4.8
         |   AND ar >= 0.82 AND sr >= 0.05) AS keep
         |FROM m""".stripMargin
    },
    "ann_topk" ->
      """WITH probe AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, row_number() OVER (
        |    ORDER BY list_cosine_similarity(embedding, (SELECT e FROM probe)) DESC,
        |             vec_id ASC) AS rank
        | FROM embeddings WHERE vec_id <> 0
        | ORDER BY rank LIMIT 10""".stripMargin,
    "emb_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        | WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45""".stripMargin,
    // emb_neardup_cell: replay the WHOLE bucketed pipeline — stride-
    // sampled centroids (vec_id % max(1, n/16) = 0, first 16 by id,
    // L2-normalized), top-2 best-dot cell assignment (ties -> larger
    // cell, matching Spark's struct sort), then the shared-cell
    // cosine-threshold join, DISTINCT pairs. Dot products fold
    // left-to-right on both sides (same recipe as ann_lsh), so
    // assignment and threshold decisions are bit-identical.
    "emb_neardup_cell" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cen0 AS (
        |  SELECT vec_id, v FROM e
        |  WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // 16) = 0
        |  ORDER BY vec_id LIMIT 16),
        |cen AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |    list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS c
        |  FROM cen0),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, cen.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(range(0, 64), i -> e.v[i + 1] * cen.c[i + 1])) DESC,
        |        cen.cell DESC) AS rn
        |    FROM e CROSS JOIN cen) WHERE rn <= 2),
        |nrm AS (SELECT vec_id, sqrt(list_sum(list_transform(v, y -> y * y))) AS nrm FROM e)
        |SELECT DISTINCT aa.vec_id AS id_a, bb.vec_id AS id_b
        | FROM assign aa JOIN assign bb ON aa.cell = bb.cell AND aa.vec_id < bb.vec_id
        | JOIN e a ON a.vec_id = aa.vec_id JOIN e b ON b.vec_id = bb.vec_id
        | JOIN nrm na ON na.vec_id = aa.vec_id JOIN nrm nb ON nb.vec_id = bb.vec_id
        | WHERE list_sum(list_transform(range(0, 64), i -> a.v[i + 1] * b.v[i + 1]))
        |       >= 0.45 * na.nrm * nb.nrm""".stripMargin,
    // ann_lsh: the md5-derived hyperplane matrix is engine-replicable, so
    // the oracle rebuilds the WHOLE approximate pipeline — signature →
    // 16×2-bit banding → probe-bucket candidates → exact cosine rerank —
    // and must land on the identical top-10 (projection folds run in the
    // same left-to-right order on both sides).
    "ann_lsh" -> {
      val w = "((CAST(concat('0x', substr(md5(p || ':' || i), 1, 15)) AS BIGINT)" +
        " % 2000001 - 1000000) / 1000000.0)"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sig AS (
         |  SELECT vec_id,
         |    list_sum(list_transform(range(0, 32), p ->
         |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
         |          v[i + 1] * $w)) >= 0
         |        THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)) AS sig
         |  FROM e),
         |bands AS (
         |  SELECT vec_id, b, (sig >> (b * 2)) & 3 AS key
         |  FROM sig, range(0, 16) t(b)),
         |probe AS (SELECT b, key FROM bands WHERE vec_id = 0),
         |cand AS (
         |  SELECT DISTINCT bands.vec_id FROM bands JOIN probe USING (b, key)
         |  WHERE bands.vec_id <> 0)
         |SELECT c.vec_id FROM cand c JOIN embeddings x ON c.vec_id = x.vec_id
         | ORDER BY list_cosine_similarity(x.embedding,
         |     (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC,
         |   c.vec_id ASC
         | LIMIT 10""".stripMargin
    },
    "ann_lsh_recall" -> "SELECT CAST(10 AS BIGINT) AS k, true AS recall_ok",
    "ann_ivf_recall" -> "SELECT CAST(10 AS BIGINT) AS k, true AS recall_ok",
    "ann_pq_recall" -> "SELECT CAST(10 AS BIGINT) AS k, true AS recall_ok",
    "ann_pq_batch" ->
      """SELECT CAST(probe_id AS BIGINT) AS probe_id,
        |   CAST(10 AS BIGINT) AS k, true AS recall_ok
        | FROM (VALUES (0), (7), (42)) AS t(probe_id)""".stripMargin,
    "ann_ivfpq_batch" ->
      """SELECT CAST(probe_id AS BIGINT) AS probe_id,
        |   CAST(10 AS BIGINT) AS k, true AS recall_ok
        | FROM (VALUES (0), (7), (42)) AS t(probe_id)""".stripMargin,
    "ann_ivfpq_recall" -> "SELECT CAST(10 AS BIGINT) AS k, true AS recall_ok",
    "ann_knn_join" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |             FROM embeddings),
        |nrm AS (SELECT vec_id,
        |          sqrt(list_sum(list_transform(v, y -> y * y))) AS nrm
        |        FROM e)
        |SELECT vec_id, nb_id, rank FROM (
        |  SELECT a.vec_id, b.vec_id AS nb_id,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      list_sum(list_transform(range(0, len(a.v)),
        |        i -> a.v[i + 1] * b.v[i + 1])) / (na.nrm * nb.nrm) DESC,
        |      b.vec_id ASC) AS rank
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
        |  JOIN nrm na ON na.vec_id = a.vec_id
        |  JOIN nrm nb ON nb.vec_id = b.vec_id)
        |WHERE rank <= 3""".stripMargin,
    "ann_knn_cell_recall" ->
      "SELECT CAST(10 AS BIGINT) AS k, true AS recall_ok",
    // literal rows: the decode results of byte-deterministic payloads
    // (audio maps rate/channels/samples onto the probe triple)
    // probed fixture hamming distances (PhashProbeMain): re-encodes of
    // texture A in bmp/jpg sit at 0, the regional-brightness edit at 6,
    // texture B and the checkerboard at 26+ (cut by maxHamming=10), the
    // junk row decodes to null and is excluded
    "multimodal_phash" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |   CAST(hamming AS BIGINT) AS hamming
        | FROM (VALUES (1, 2, 0), (1, 3, 6), (1, 4, 0),
        |   (2, 3, 6), (2, 4, 0), (3, 4, 6)) AS t(id_a, id_b, hamming)""".stripMargin,
    // probed fixture hamming distances (AfpProbeMain): the wav↔aiff
    // re-encodes of chirp A and of chirp B sit at 0 (identical
    // canonical PCM), the regional amplitude edit at 2, everything
    // cross-family 29-38 (cut by maxHamming=10), the junk row
    // fingerprints to null and is excluded
    "multimodal_afp" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |   CAST(hamming AS BIGINT) AS hamming
        | FROM (VALUES (1, 2, 0), (1, 3, 2), (2, 3, 2), (4, 5, 0))
        |   AS t(id_a, id_b, hamming)""".stripMargin,
    // probed fixture distances (VfpProbeMain): sequence A's mp4/mkv/avi
    // re-containers collide at 0, the replaced-scene edit at 4, family
    // B's mp4 vs avi at 0, cross-family 17-35 (cut by maxHamming=10);
    // the too-short track and the junk row hash null, excluded
    "multimodal_vfp" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |   CAST(hamming AS BIGINT) AS hamming
        | FROM (VALUES (1, 2, 0), (1, 3, 0), (1, 4, 4), (2, 3, 0),
        |   (2, 4, 4), (3, 4, 4), (5, 6, 0)) AS t(id_a, id_b, hamming)""".stripMargin,
    // the same winnowing derivation over DuckDB list ops: ordered
    // 3-gram sequence, md5-prefix integer hash, min per 4-window,
    // distinct, fingerprint-keyed self-join counting shared fps
    "text_winnow" -> winnowOracleSql(""),
    // probed survivor set (the junk row drops at the decode gate, all
    // fixture images are 64x64 so the >=32px-both-dimensions rule keeps
    // them; pHash family A keeps min id 1, family B keeps 5, singles
    // stay) + the same md5 hash-range split rule as corpus_split, mp1
    "media_pipeline" ->
      """SELECT media_id,
        |  CASE WHEN b < 800000 THEN 'train'
        |       WHEN b < 900000 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT CAST(media_id AS BIGINT) AS media_id,
        |   CAST(concat('0x', substr(md5(concat(CAST(media_id AS VARCHAR),
        |     ':mp1')), 1, 8)) AS BIGINT) % 1000000 AS b
        |  FROM (VALUES (1), (5), (7), (8), (9)) AS t(media_id))""".stripMargin,
    "multimodal_probe" ->
      """SELECT CAST(media_id AS BIGINT) AS media_id, modality, format,
        |   CAST(width AS BIGINT) AS width,
        |   CAST(height AS BIGINT) AS height,
        |   CAST(n_frames AS BIGINT) AS n_frames,
        |   CAST(feat_nonzero AS BIGINT) AS feat_nonzero
        | FROM (VALUES
        |   (1, 'image', 'png', 37, 21, 1, 1),
        |   (2, 'image', 'bmp', 64, 48, 1, 1),
        |   (3, 'audio', 'wav', 8000, 1, 4000, 4),
        |   (4, 'video', 'mp4', 640, 360, 150, 8),
        |   (5, 'video', 'mkv', 320, 240, 12, 8),
        |   (6, 'video', 'avi', 160, 120, 8, 8),
        |   (7, 'video', 'mp4', 0, 0, 0, 0)
        | ) AS t(media_id, modality, format, width, height, n_frames,
        |        feat_nonzero)""".stripMargin,
    // quarter-bit idf: qlog4(N) − qlog4(df), same exact-integer log as
    // text_surprisal; score = Σ tf·idf_q is pure int64, so the top-20
    // (score desc, doc_id) replays bit-for-bit
    "text_rank_tfidf" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |hits AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM hits
         |  WHERE tok IN ('join', 'merge', 'scan') GROUP BY 1, 2),
         |n AS (SELECT count(*) AS n FROM documents),
         |idf AS (SELECT tok,
         |  (CASE WHEN n < 32768 THEN length(bin(n*n*n*n)) - 1
         |        ELSE 4 * (length(bin(n)) - 1) + 3 END)
         |  - (CASE WHEN df < 32768 THEN length(bin(df*df*df*df)) - 1
         |          ELSE 4 * (length(bin(df)) - 1) + 3 END) AS idf_q
         |  FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1), n),
         |sc AS (SELECT doc_id, count(*) AS n_terms,
         |    sum(tf * idf_q) AS score
         |  FROM tf JOIN idf USING (tok) GROUP BY 1)
         |SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(score AS BIGINT) AS score_qbits
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // pair = 2-char substring at each position of each vocab word,
    // weighted by word frequency — exact integers, total-order top-50
    "bpe_pairs" ->
      s"""WITH w AS (SELECT unnest($toksSql) AS word FROM documents),
         |v AS (SELECT word, count(*) AS wc FROM w GROUP BY 1),
         |p AS (SELECT substring(word, CAST(i AS INT), 2) AS pair, wc
         |  FROM (SELECT word, wc, unnest(range(1, length(word))) AS i
         |        FROM v WHERE length(word) >= 2))
         |SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count
         |FROM p GROUP BY 1 ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin,
    // same 10-token chunk "lines", same md5-keyed first-occurrence
    // window, same in-order reassembly — the rewrite hash-checks
    "dedup_lines" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |l AS (SELECT doc_id, list_transform(
         |    range(0, CAST(ceil(len(toks)/10.0) AS BIGINT)),
         |    i -> array_to_string(
         |      toks[CAST(i*10+1 AS INT):CAST(i*10+10 AS INT)], ' ')) AS ls
         |  FROM t),
         |ln AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS line_no,
         |    trim(ls[CAST(i AS INT)]) AS line
         |  FROM l, unnest(range(1, len(ls) + 1)) AS u(i)),
         |flt AS (SELECT * FROM ln WHERE line <> ''),
         |k AS (SELECT *, row_number() OVER (PARTITION BY md5(line)
         |    ORDER BY doc_id, line_no) AS rn FROM flt),
         |r AS (SELECT doc_id, count(*) AS n_kept,
         |    md5(string_agg(line, chr(10) ORDER BY line_no)) AS kept_md5
         |  FROM k WHERE rn = 1 GROUP BY 1),
         |b AS (SELECT doc_id, count(*) AS n_lines FROM flt GROUP BY 1)
         |SELECT b.doc_id, CAST(n_lines AS BIGINT) AS n_lines,
         |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
         |  COALESCE(kept_md5, md5('')) AS kept_md5
         |FROM b LEFT JOIN r USING (doc_id)""".stripMargin,
    // n^α as exact integer floor-sqrt; S and T integer sums; each double
    // a fixed IEEE ÷/× tree mirrored operand-for-operand in the operator
    "corpus_temperature" ->
      s"""WITH c AS (SELECT lang AS domain,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |s AS (SELECT domain, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS na
         |  FROM c),
         |t AS (SELECT CAST(sum(na) AS BIGINT) AS S,
         |    CAST(sum(n_tokens) AS BIGINT) AS T FROM s)
         |SELECT domain, n_tokens,
         |  CAST(na AS DOUBLE) / CAST(S AS DOUBLE) AS weight,
         |  (CAST(na AS DOUBLE) / CAST(S AS DOUBLE))
         |    * (CAST(T AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS repeat_factor
         |FROM s, t""".stripMargin,
  )
}
