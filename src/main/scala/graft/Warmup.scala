package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
import graft.content.{AnalyzedContent, Analyzer}
import graft.operators.Dedup

/** Kernel warm-up: tiny in-memory frames carrying the SAME taxed
  * expression combos as the most expensive tagged warm-up gates. The
  * one-time interpreter/JIT bill for higher-order expression trees is per
  * expression SHAPE, not per data size, so paying it over ~50 rows
  * replaces the 5-20 s sf0.001 runs of analyzer_tokens /
  * dedup_minhash_lsh / dedup_ngram_jaccard (r4 verdict item 6).
  *
  * WarmupSpec verifies each kernel reproduces its gate's combo EXACTLY
  * (same shape-feature subset in the optimized plan), so the rot-guard
  * stays as strict as the gate-tag list: a gate whose combo no kernel and
  * no tagged representative carries still fails the spec.
  */
object Warmup {

  def kernelFrames(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta", "eta", "theta")
    // repartition keeps Catalyst's ConvertToLocalRelation from evaluating
    // a projection-only kernel at optimization time (which would erase
    // the taxed shapes from the optimized plan AND skip executor-side
    // warming)
    val docs = (0L until 48L).map(i =>
      (i, (0 until 24).map(j => words(((i + j) % 8).toInt)).mkString(" ")))
      .toDF("doc_id", "text").repartition(2)
    Seq(
      // analyzer_tokens: transform(|filter(|explode|posexplode|generate|collect_
      "analyzer" -> {
        val an = Analyzer(synonyms = Map("alpha" -> Seq("alef")),
          maxTokenLength = 8)
        AnalyzedContent.buildTfWith(docs, an)
          .select(col("doc_id"), col("term"),
            size(col("positions")).cast("long").as("occurrences"),
            element_at(col("positions"), 1).cast("long").as("first_pos"))
      },
      // dedup_ngram_jaccard: transform(|aggregate(|filter(|explode|generate
      "ngram" -> Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.8),
      // dedup_minhash_lsh: transform(|aggregate(|filter(|explode|posexplode|generate
      "minhash" -> Dedup.minhashLshPairs(docs, n = 3, threshold = 0.8),
      // dedup_incremental: transform( (the batch's shingle hashes — the
      // driver-side probe builds candidates without an explode)
      "shingle_hashes" -> docs.select(col("doc_id"),
        Dedup.hashedShingles(col("text"), 3).as("sh")),
      // the vector gates (ann_*, emb_*) score through native expressions
      // (graft.functions.VectorExprs): none carries a higher-order
      // function, and ann_lsh / emb_neardup_cell's explode|generate is
      // the surprisal kernel's combo, so they need no kernel of their own
      // text_repetition: transform(|zip_with(|filter(|explode|generate
      "repetition" -> graft.operators.TextOps.repetition(docs),
      // text_surprisal: filter(|explode|generate (the model-total collect
      // inside surprisal() runs two tiny jobs at construction — part of
      // the warming)
      "surprisal" -> graft.operators.TextOps.surprisal(docs, 1.0, 2.0),
      // rel_facets_cms: explode|generate|udf( (the CMS union Aggregator +
      // estimate UDF + map explode)
      "cms_facets" -> {
        val rows = (0L until 48L).map(i =>
          (s"b${i % 2}", s"k${i % 2}", s"v${i % 4}"))
          .toDF("batch", "key", "v").repartition(2)
        graft.ingest.Facets.cmsEstimates(
          graft.ingest.Facets.cmsMerge(
            graft.ingest.Facets.cmsBatches(rows, "batch", "key", "v"), "key"),
          "key", Seq("v0", "v1"))
      },
      // ancestor_query (document-tree flatten): transform(|explode|generate
      // — no filter/aggregate, so the subset stays exact
      "tree" -> docs.select(col("doc_id"),
        explode(transform(split(col("text"), " "), t => upper(t))).as("t")))
  }

  /** Execute every kernel once (untimed warm pass). */
  def run(spark: SparkSession, debug: Boolean = false): Unit =
    kernelFrames(spark).foreach { case (name, df) =>
      try {
        val t0 = System.nanoTime()
        df.count()
        if (debug) System.err.println(
          f"[warm] kernel:$name%-17s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      } catch {
        // a warm pass is best-effort: a kernel that fails here fails
        // again, with its cause, in the gate that runs it
        case NonFatal(e) =>
          System.err.println(s"[warm] kernel:$name failed: $e")
      }
    }
}
