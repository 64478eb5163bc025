package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Custom state for the live uid-index combiner: exact count + capped
  * uid sample (the Uid.List proto: COUNT/UID[] with IGNORE above the
  * cap — Uid.proto:9-13). */
final case class UidState(count: Long, uids: Seq[String])

/** Per-hash dedup-ledger state: winning keeper (min doc id) + count. */
final case class DedupState(keeper: Long, n: Long)

/** Per-domain cap-ledger state: rows seen + the current best-`cap`
  * survivors as (hash bucket, id) pairs in ascending order. */
final case class CapState(n: Long, best: Seq[(Long, Long)])

/** Structured-Streaming ingest (SURVEY.md §2.7): the reference's streaming
  * story is FlagMaker file micro-batching + "live" Mutation writes
  * (FlagMaker.java:60, LiveContextWriter.java:23) — here the same shape is
  * `readStream` file source → ingest transforms → `foreachBatch` append,
  * with watermarked event-time aggregation as net-new capability the
  * reference lacks entirely.
  */
object StreamingIngest {

  /** The preamble every `foreachBatch` writer below shares: an
    * AvailableNow trigger checkpointed under `checkpointDir`, running
    * `body` on each micro-batch and its id. */
  private def eachBatch(stream: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(body)

  /** File-source micro-batch ingest: the FlagMaker analog.
    * `maxFilesPerTrigger` plays the role of the flag file-count threshold. */
  def fileStream(spark: SparkSession, inputDir: String, schema: StructType,
                 maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inputDir)

  /** Long-format ingest transform applied per micro-batch into a
    * date-partitioned sink — the "live" low-latency write path. A real
    * deployment points this at Delta/Iceberg MERGE in foreachBatch.
    *
    * EXACTLY-ONCE without a transactional table format: each micro-batch
    * writes its own `batch_id=N` partition directory with overwrite
    * semantics, so a batch replayed after a crash — even a crash AFTER a
    * partial or complete write but before the checkpoint commit —
    * replaces its own output instead of appending a duplicate. A bare
    * `mode("append")` here would be at-least-once; the checkpoint dedups
    * *inputs*, never *outputs*. Readers treat `batch_id` as one more
    * partition column on the same `spark.read.parquet(outDir)`.
    *
    * `statsDir` makes the INGEST tier the planning-statistics producer
    * (EventMetadata.java:96-110 — the reference writes its statistics
    * into the metadata table AT ingest, so the planner never re-scans
    * the corpus): each micro-batch folds its
    * [[graft.ingest.Ingest.datatypeStats]] rows into the corpus's
    * durable [[graft.ingest.MetadataStats]] store, keyed by the batch
    * id — a crash-replayed batch REPLACES its stats rows (exactly-once,
    * like the data write beside it), never double-counts. */
  def ingestTo(stream: DataFrame, outDir: String, checkpointDir: String,
               toLong: DataFrame => DataFrame,
               statsDir: Option[String] = None): DataStreamWriter[Row] =
    eachBatch(stream, checkpointDir) { (batch, id) =>
      statsDir match {
        case None =>
          toLong(batch).write.mode("overwrite")
            .partitionBy("shard_date")
            .parquet(s"$outDir/batch_id=$id")
        case Some(sd) =>
          // the long frame feeds TWO jobs (data write + stats fold) —
          // persist once, release after both
          val long = toLong(batch).persist()
          try {
            long.write.mode("overwrite")
              .partitionBy("shard_date")
              .parquet(s"$outDir/batch_id=$id")
            graft.ingest.MetadataStats.updateBatch(
              sd, id, graft.ingest.Ingest.datatypeStats(long))
          } finally long.unpersist()
      }
    }

  /** Watermarked event-time windowed counts — net-new vs the reference
    * (its late data just lands in old date partitions; the DISCARD_INTERVAL
    * drop maps to the watermark horizon). */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     window_ : String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col(keyCol), col("cnt"))

  /** Session windows keyed by user — also net-new. */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("session_window.start").as("session_start"),
        col(keyCol), col("cnt"))

  /** Incremental facet-sketch maintenance: every micro-batch APPENDS its
    * per-(batch, key) serialized HLL sketches to the facet table
    * (graft.ingest.Facets); readers merge with `Facets.merge` whenever
    * they ask. The mergeable-sketch interchange is exactly what turns
    * streaming facet upkeep into an append instead of a recompute —
    * the FacetHandler-at-ingest shape (FacetHandler.java:493-521) on
    * the live write path. */
  def facetSketchStream(stream: DataFrame, outDir: String,
                        checkpointDir: String, batchCol: String,
                        keyCol: String, valCol: String)
      : DataStreamWriter[Row] =
    eachBatch(stream, checkpointDir) { (batch, id) =>
      // idempotent per-batch partition, same rationale as ingestTo —
      // a replayed sketch batch must not double-count into the merge
      graft.ingest.Facets.sketchBatches(batch, batchCol, keyCol, valCol)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
    }

  /** Streaming near-dup against a write-once signature store — the LIVE
    * analog of [[graft.operators.Dedup.incrementalNearDupPairs]], and
    * the dedup counterpart of [[ingestTo]]'s live writer: each
    * micro-batch (1) emits the near-dup pairs it forms with the
    * store-so-far plus itself, then (2) registers itself in the store.
    * The union of per-batch pair files IS the one-shot full-corpus pair
    * set — every unordered pair lands exactly once, in the batch where
    * its LATER side arrived, however the corpus splits into
    * micro-batches (the streamed-converges-to-bulk contract, for
    * near-dup). Exactly-once on BOTH sides: pairs land in per-batch
    * `batch_id=N` overwrite partitions (the [[ingestTo]] trick) and the
    * store registration overwrites its own `batch=N` partition
    * ([[graft.operators.Dedup.appendDedupStoreBatch]]); a batch replayed
    * after a crash — even one that already appended to the store —
    * recomputes the SAME pairs (the probe drops the batch's own ids
    * from the stored side) and replaces its own output. Store must be
    * seeded with [[graft.operators.Dedup.seedDedupStoreBatched]]. At
    * scale this is the landing-zone dedup tier: the historical corpus
    * is never re-shingled, and each arriving batch reads only the
    * stored band rows that share one of its bucket keys. */
  def nearDupStream(stream: DataFrame, storeDir: String, pairsDir: String,
                    checkpointDir: String, threshold: Double = 0.8)
      : DataStreamWriter[Row] = {
    // signature params are immutable for the store's LIFE — resolve
    // them once at stream start instead of one 1-row-table job per
    // micro-batch (they still re-resolve per batch if this closure is
    // somehow entered before the seed; seeding first is the documented
    // contract). Conditional guarantee (ADVICE r13): deleting and
    // re-seeding the store with different params under a live writer
    // would sign batches with stale params — re-seeding is offline-only,
    // stop the stream first (Dedup.readStoreParams scaladoc).
    val params = graft.operators.Dedup.readStoreParams(
      stream.sparkSession, storeDir)
    eachBatch(stream, checkpointDir) { (batch, id) =>
      // a zero-row micro-batch (an empty file in the landing zone) is
      // recognised by the probe and writes nothing; on the driver path
      // its batch-side job tells, so no separate emptiness job runs
      graft.operators.Dedup.streamBatchNearDup(batch, storeDir,
        pairsDir, id, threshold, params)
    }
  }

  /** Live image-dedup tier — the pHash twin of [[nearDupStream]]: each
    * micro-batch of images hashes ONCE (the old corpus is never
    * re-decoded), pairs against the store-so-far plus itself, emits its
    * pairs into `batch_id=N`, and registers its hashes under `batch=N`
    * — both overwrite, so a crash-replayed batch replaces its output
    * and the union of per-batch emissions equals the one-shot
    * [[graft.operators.Multimodal.imageNearDupPairs]] over the whole
    * corpus. Seed with [[graft.operators.Multimodal
    * .seedPhashStoreBatched]]. */
  def imageDedupStream(stream: DataFrame, storeDir: String,
                       pairsDir: String, checkpointDir: String,
                       maxHamming: Int = 7)
      : DataStreamWriter[Row] =
    eachBatch(stream, checkpointDir) { (batch, id) =>
      if (!batch.isEmpty)
        graft.operators.Multimodal.streamBatchImageDedup(batch, storeDir,
          pairsDir, id, maxHamming)
    }

  /** Live audio-dedup tier — the fingerprint twin of
    * [[imageDedupStream]]: each micro-batch of audio decodes ONCE,
    * pairs against the store-so-far plus itself, emits pairs into
    * `batch_id=N`, registers fingerprints under `batch=N` — both
    * overwrite, replay exact; the union of per-batch emissions equals
    * the one-shot [[graft.operators.Multimodal.audioNearDupPairs]].
    * Seed with [[graft.operators.Multimodal.seedPhashStoreBatched]]. */
  def audioDedupStream(stream: DataFrame, storeDir: String,
                       pairsDir: String, checkpointDir: String,
                       maxHamming: Int = 7)
      : DataStreamWriter[Row] =
    eachBatch(stream, checkpointDir) { (batch, id) =>
      if (!batch.isEmpty)
        graft.operators.Multimodal.streamBatchAudioDedup(batch, storeDir,
          pairsDir, id, maxHamming)
    }

  /** Live winnowed-fingerprint tier — copied-passage detection against
    * a growing corpus: each micro-batch of documents fingerprints ONCE
    * ([[graft.operators.TextOps.winnowFingerprints]]), pairs against
    * the store-so-far plus itself with exact shared counts, and
    * registers its (doc_id, fp) rows — overwrite-per-batch both sides,
    * union of emissions equals the one-shot
    * [[graft.operators.TextOps.winnowedOverlapPairs]]. */
  def winnowStream(stream: DataFrame, storeDir: String,
                   pairsDir: String, checkpointDir: String,
                   k: Int = 3, w: Int = 4, minShared: Int = 2)
      : DataStreamWriter[Row] =
    eachBatch(stream, checkpointDir) { (batch, id) =>
      if (!batch.isEmpty)
        graft.operators.TextOps.streamBatchWinnow(batch, storeDir,
          pairsDir, id, k, w, minShared)
    }

  /** Live video-dedup tier — the [[vfp64]] twin of [[imageDedupStream]]
    * over the same store layout and exactly-once discipline. */
  def videoDedupStream(stream: DataFrame, storeDir: String,
                       pairsDir: String, checkpointDir: String,
                       maxHamming: Int = 7)
      : DataStreamWriter[Row] =
    eachBatch(stream, checkpointDir) { (batch, id) =>
      if (!batch.isEmpty)
        graft.operators.Multimodal.streamBatchVideoDedup(batch, storeDir,
          pairsDir, id, maxHamming)
    }

  /** Live ANN-index maintenance — the vector-side twin of
    * [[nearDupStream]]: each micro-batch of new vectors is encoded with
    * the STORED codebooks (zero retrain, the old corpus is never
    * re-read) and registered in its own `batch=N` codes partition
    * ([[graft.operators.VectorOps.pqAppendToIndexBatch]]), so a
    * crash-replayed batch replaces rather than duplicates its codes,
    * and one replayed after a compaction is a no-op. Seed with
    * [[graft.operators.VectorOps.pqWriteIndex]]; searches run off the
    * growing index at any point between batches. Quantization drift
    * from streamed data remains an offline retrain decision
    * (`pqWriteIndex` over the full corpus); file splinter from many
    * batches is [[graft.operators.VectorOps.pqCompactIndex]]. Serves
    * BOTH index families: a `centroids` table in the index dir marks
    * IVF-PQ (seeded by [[graft.operators.VectorOps.ivfPqWriteIndex]],
    * appended by [[graft.operators.VectorOps.ivfPqAppendToIndexBatch]]
    * — cells assigned with the stored coarse centroids, partition
    * pruning unchanged); its absence marks flat PQ. */
  def annIndexStream(stream: DataFrame, indexDir: String,
                     checkpointDir: String)
      : DataStreamWriter[Row] =
    eachBatch(stream, checkpointDir) { (batch, id) =>
      val V = graft.operators.VectorOps
      // a zero-row micro-batch would NPE the dim check and wedge the
      // stream (the checkpoint replays the batch on every restart)
      if (!batch.isEmpty) {
        if (java.nio.file.Files.exists(
            java.nio.file.Paths.get(indexDir, "centroids")))
          V.ivfPqAppendToIndexBatch(batch, indexDir, id)
        else V.pqAppendToIndexBatch(batch, indexDir, id)
      }
    }

  /** Live global-index maintenance with CUSTOM streaming state — the
    * GlobalIndexUidAggregator combiner (GlobalIndexUidAggregator.java:
    * 21-25) that the reference runs at Accumulo compaction, expressed as
    * `flatMapGroupsWithState`: per (field, value) key the state holds the
    * exact observation count plus a capped uid list, updated every
    * micro-batch. Output mode Update emits the refreshed index row. */
  def liveUidIndex(long: DataFrame, maxUids: Int = 20): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = long.sparkSession
    import spark.implicits._
    long.select(col("field").cast("string"), col("value").cast("string"),
        col("uid").cast("string"))
      .as[(String, String, String)]
      .groupByKey { case (f, v, _) => (f, v) }
      .flatMapGroupsWithState[UidState, (String, String, Long, Seq[String])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((f, v), rows, state: GroupState[UidState]) =>
          val prev = state.getOption.getOrElse(UidState(0L, Nil))
          val incoming = rows.map(_._3).toSeq
          val merged = UidState(prev.count + incoming.size,
            (prev.uids ++ incoming).distinct.take(maxUids))
          state.update(merged)
          Iterator((f, v, merged.count, merged.uids))
      }
      .toDF("field", "value", "cnt", "uid_sample")
  }

  /** Streaming COMPOSED curation — the live face of the batch
    * corpusPipeline (quality → exact dedup → domain cap → split):
    * each micro-batch pays only the per-ROW work (the Gopher rules and
    * the dedup fingerprint evaluate in one projection of the batch)
    * and registers its kept rows `(doc_id, source, fingerprint)` in a
    * batch-partitioned ledger — OVERWRITE of `batch=N`, the same
    * exactly-once discipline as [[nearDupStream]]'s store, so a
    * crash-replayed micro-batch replaces its registration. The
    * corpus-LEVEL decisions (min-id survivor per fingerprint, the
    * domain cap's order statistic, the split) are not approximated
    * per batch: [[curationResult]] derives them from the ledger — two
    * windows over id+hash-sized rows, the text never re-read — and
    * equals the batch pipeline's answer EXACTLY however the corpus was
    * split into batches (StreamingSpec pins split-invariance and
    * replay idempotence; the stream_pipeline gate pins hash-equality
    * to the corpus_pipeline oracle). */
  def curationStream(stream: DataFrame, ledgerDir: String,
                     checkpointDir: String,
                     minTokens: Int = 50, maxTokens: Int = 100000,
                     minMeanTokLen: Double = 3.0,
                     maxMeanTokLen: Double = 10.0,
                     minAlphaRatio: Double = 0.6,
                     minStopwordRatio: Double = 0.02)
      : DataStreamWriter[Row] =
    eachBatch(stream, checkpointDir) { (batch, id) =>
      // an empty micro-batch registers nothing (and must not seed an
      // empty batch partition the ledger read would still list)
      if (!batch.isEmpty)
        graft.operators.TextOps.qualityFilter(batch,
            minTokens = minTokens, maxTokens = maxTokens,
            minMeanTokLen = minMeanTokLen, maxMeanTokLen = maxMeanTokLen,
            minAlphaRatio = minAlphaRatio,
            minStopwordRatio = minStopwordRatio,
            carry = Seq("source", "text"))
          .filter(col("keep"))
          .select(col("doc_id"), col("source"),
            graft.operators.TextOps.fingerprint(col("text"))
              .as("fingerprint"))
          .write.mode("overwrite").parquet(s"$ledgerDir/kept/batch=$id")
    }

  /** The curated-corpus answer as of the ledger's current batches —
    * [[curationStream]]'s read side. Exact-dedup survivor = min id per
    * fingerprint (one window), then the one-pass domain cap and the
    * hash-range split — identical operators to the batch pipeline, fed
    * from the ledger's (id, source, 128-bit) rows. */
  def curationResult(spark: SparkSession, ledgerDir: String, cap: Int,
                     splits: Seq[(String, Double)],
                     splitSalt: String = "graft"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept = spark.read.parquet(s"$ledgerDir/kept")
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    val surv = kept.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).select("doc_id", "source")
    graft.operators.Sampling.splitAssign(
        graft.operators.Sampling.domainCapOnePass(surv, "source", cap),
        "doc_id", splits, splitSalt)
      .select("doc_id", "source", "n_domain", "split")
  }

  /** Streaming exact-dedup ledger — the LIVE analog of
    * [[graft.operators.Dedup.exact]] for a landing-zone corpus: per
    * content hash the state carries the winning keeper (MIN doc id —
    * order-independent, so the streamed ledger converges to the batch
    * answer no matter how micro-batches split the corpus) and the total
    * observation count. Update mode emits the refreshed ledger row per
    * touched hash each micro-batch; folding the emissions with
    * min(keeper)/max(n) yields the final ledger (both measures are
    * monotone across batches). At scale the state is one small struct
    * per DISTINCT hash — the dedup ledger a live ingest tier keeps so
    * arriving duplicates are droppable on sight. */
  def dedupLedger(docs: DataFrame, idCol: String = "doc_id",
                  hashCol: String = "h"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(hashCol).cast("string"), col(idCol).cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DedupState, (String, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (h, rows, state: GroupState[DedupState]) =>
          val ids = rows.map(_._2).toSeq
          val prev = state.getOption.getOrElse(DedupState(Long.MaxValue, 0L))
          val merged = DedupState(math.min(prev.keeper, ids.min),
            prev.n + ids.size)
          state.update(merged)
          Iterator((h, merged.keeper, merged.n))
      }
      .toDF("h", "keeper", "n_docs")
  }

  /** Streaming per-domain frequency-cap ledger — the LIVE analog of
    * [[graft.operators.Sampling.domainCap]]: per domain the state
    * carries the best-`cap` survivors in (salted hash bucket, id) order
    * plus the rows-seen count. The survivor set is the MINIMUM-`cap`
    * of a pure hash order, so merging is order-independent and the
    * streamed ledger converges to the batch answer however
    * micro-batches split the corpus. Update mode emits the refreshed
    * domain row each touched batch; `n_seen` strictly grows per domain,
    * so the final ledger is each domain's max-`n_seen` emission.
    * At scale the state is `cap` (bucket, id) pairs per domain —
    * domains-sized, bounded by construction. */
  def domainCapLedger(docs: DataFrame, domainCol: String, cap: Int,
                      idCol: String = "doc_id",
                      salt: String = "dcap"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(domainCol).cast("string"), col(idCol).cast("long"),
        graft.operators.Sampling.hashBucket(col(idCol), salt))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CapState, (String, Long, Seq[Long])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (dom, rows, state: GroupState[CapState]) =>
          val arrived = rows.map(r => (r._3, r._2)).toSeq
          val prev = state.getOption.getOrElse(CapState(0L, Nil))
          val merged = CapState(prev.n + arrived.size,
            (prev.best ++ arrived).sorted.take(cap))
          state.update(merged)
          Iterator((dom, merged.n, merged.best.map(_._2)))
      }
      .toDF("domain", "n_seen", "survivors")
  }

  /** Age-off maintenance (age-off filter analog,
    * FieldAgeOffFilter.java:39): retention as a scheduled DELETE — in
    * plain parquet terms, rewrite keeping young rows. Returns the surviving
    * frame; a Delta deployment issues `DELETE WHERE` instead. For
    * rule-ordered retention (per-datatype / visibility-token TTLs,
    * short-circuit horizon) use [[graft.ingest.AgeOff]]; this helper is
    * the single-TTL fast path. */
  def ageOff(df: DataFrame, tsCol: String, ttl: String): DataFrame =
    df.filter(col(tsCol) >= current_timestamp() - expr(s"INTERVAL $ttl"))
}
