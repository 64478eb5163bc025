package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over a `text`
  * column: tokenization, quality scoring, language-ID heuristic, document
  * fingerprinting. All native expressions (codegen'd, distributed); the
  * oracle mirrors each formula exactly, so every op is hash-checkable.
  */
object TextOps {

  /** Lowercased word tokens: split on non-alphanumeric runs, drop empties.
    * (The reference tokenizes content at ingest with a Lucene-style
    * analyzer — ContentIndexingColumnBasedHandler.java:63; this is the
    * equivalent normalize+split for analysis purposes.) */
  /** Lowercased alphanumeric tokens. Implemented HOF-free — normalize
    * separators to single spaces, trim, split on the single space — so
    * the whole expression stays inside whole-stage codegen: the
    * previous `filter(split(…))` form carried a higher-order function,
    * which drops the ENTIRE enclosing projection to interpreted
    * evaluation (measured ~5× on the sf1 token-stream probes; tokens()
    * sits under nearly every text operator). Token-for-token identical
    * to `list_filter(regexp_split_to_array(lower(t), '[^a-z0-9]+'),
    * x -> x <> '')`, which the oracles replay. */
  def tokens(text: Column): Column = {
    val norm = trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))
    when(norm === "", array().cast("array<string>"))
      .otherwise(split(norm, " "))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer pattern, simplified to the subset whose
    * semantics are IDENTICAL under Java regex (Spark codegen) and RE2
    * (DuckDB oracle): no lookarounds, no \s/\w class differences
    * (explicit character classes), leftmost-first alternation in both.
    * Pieces: apostrophe contractions, words with their leading space,
    * digit runs, punctuation runs — whitespace itself is not a piece
    * (it rides in as the next word's leading space, like the real BPE
    * pre-tokenizers), so the count approximates a subword-token budget
    * from the raw bytes without a merges table. */
  val PreTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\r\\n]+"

  /** Count of BPE-ish pre-token pieces (codegen'd regexp scan,
    * map-side). */
  def preTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PreTokenPattern), lit(0))).cast("long")

  /** Count of whitespace-delimited words — the cheap token-budget
    * estimator [[preTokenCount]] refines. */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "[ \\t\\r\\n]+"), t => t =!= "")).cast("long")

  /** Normalized text for fingerprinting: lowercase, collapse whitespace. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Deterministic document fingerprint (content hash) — exact-dedup key. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  // --- winnowing (local document fingerprints) -------------------------

  /** Winnowed LOCAL fingerprints of a document (Schleimer, Wilkerson &
    * Aiken 2003, "Winnowing: Local Algorithms for Document
    * Fingerprinting" — the MOSS scheme): the ORDERED overlapping
    * k-token gram sequence (one codegen'd boundary-lookahead regex, no
    * token array), each gram hashed to the md5-prefix integer every
    * oracle-replayable hash here uses, then the MINIMUM hash of every
    * w-wide window, distinct. Guarantee: two documents sharing a token
    * run of length ≥ w + k − 1 share at least one fingerprint, and
    * selection is position-local (robust to edits elsewhere) — the
    * property whole-document hashes lack and shingle SETS only
    * approximate. Documents shorter than k tokens yield none; gram
    * sequences shorter than w winnow to their overall minimum. */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column = {
    val norm = trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))
    val grams = regexp_extract_all(norm,
      lit(s"(?=\\b((?:[a-z0-9]+ ){${k - 1}}[a-z0-9]+))"), lit(1))
    val hashes = transform(grams,
      g => conv(substring(md5(g), 1, 8), 16, 10).cast("long"))
    // filter(isNotNull): a gram-less doc's single window winnows to
    // array_min(empty) = null — "no fingerprints", not a null one
    filter(
      array_distinct(transform(
        sequence(lit(1), greatest(size(hashes) - (w - 1), lit(1))),
        i => array_min(slice(hashes, i, lit(w))))),
      x => x.isNotNull)
  }

  /** Winnowed-fingerprint overlap pairs: (id_a, id_b, shared) for
    * document pairs sharing ≥ `minShared` winnowed fingerprints,
    * id_a < id_b — copied-passage detection at corpus scale. Plan:
    * fingerprints explode (≈ 2/(w+1) of the gram count per doc) into a
    * fingerprint-keyed self-join — work is per-bucket, never all-pairs
    * — and the group count IS the shared-fingerprint count (per-doc
    * fingerprints are distinct). `hotFpCap` drops fingerprints whose
    * document frequency reaches the cap (boilerplate runs — the
    * spanProfile hot-span discipline) BEFORE the join, killing bucket
    * skew at lake scale; None = exact, as the oracle replays. The
    * returned frame is PERSISTED (materialized here so the exploded
    * fingerprint frame can drop before return) — the caller owns its
    * unpersist once consumed. */
  def winnowedOverlapPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
                           minShared: Int = 2,
                           hotFpCap: Option[Int] = None,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val fps0 = graft.core.Spread(
        docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(winnowFingerprints(col(textCol), k, w)).as("fp"))
      .persist()
    // one winnow pass: the self-join's two input stages materialize
    // CONCURRENTLY under AQE, and on a cold cache each recomputes the
    // regex+md5 subtree — the gate's whole CPU bill — while contending
    // for the same cores (the one-evaluation rule, see
    // Dedup.ngramJaccardPairs)
    fps0.count()
    val fps = hotFpCap match {
      case Some(cap) =>
        val hot = fps0.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") >= cap).select("fp")
        fps0.join(hot, Seq("fp"), "left_anti")
      case None => fps0
    }
    val out = fps.as("x").join(fps.as("y"),
        col("x.fp") === col("y.fp") && col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .persist()
    out.count()
    fps0.unpersist()
    out
  }

  /** Seed an empty batch-partitioned winnow-fingerprint store
    * (`fps/batch=seed`) — the text-fingerprint twin of
    * [[graft.operators.Multimodal.seedPhashStoreBatched]]; the same
    * overwrite-per-batch replay discipline. */
  def seedWinnowStoreBatched(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Unit = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("fp", LongType)))
    graft.core.BatchStore.seed(
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
      s"$dir/fps")
  }

  /** The highest batch id a [[compactWinnowStore]] has folded in
    * (-1 = never compacted) — the [[graft.core.BatchStore]] horizon. */
  def winnowCompactedThrough(dir: String): Long =
    graft.core.BatchStore.compactedThrough(s"$dir/fps")

  /** Register a processed batch's (doc_id, fp) rows under `batch=N`
    * (overwrite — a crash-replayed batch replaces its registration; a
    * batch at or below the compaction horizon is a no-op, its rows
    * already live in `batch=compacted`). */
  def appendWinnowStoreBatch(fps: DataFrame, dir: String,
                             batchId: Long): Unit =
    graft.core.BatchStore.registerBatch(fps.select("doc_id", "fp"),
      s"$dir/fps", batchId)

  /** Offline compaction for the batch-partitioned winnow store —
    * months of micro-batches splinter `fps/` into one directory per
    * batch and every incremental probe pays per-file open overhead on
    * the stored 16-byte rows; collapse to `batch=compacted` behind the
    * crash-safe swap + horizon marker ([[graft.core.BatchStore
    * .compact]]). Identical pair results, spec-pinned with a
    * part-file-count assertion. Run only while the stream is stopped. */
  def compactWinnowStore(spark: org.apache.spark.sql.SparkSession,
                         dir: String, filesPerTable: Int = 1): Unit =
    graft.core.BatchStore.compact(spark, s"$dir/fps", filesPerTable)

  /** Overlap pairs a NEW document batch forms with the stored corpus
    * and with itself — the [[winnowedOverlapPairs]] contract computed
    * incrementally: the batch fingerprints ONCE, the stored corpus is
    * never re-read as text (only its 16-byte (doc_id, fp) rows scan),
    * and the store side anti-joins the batch's own ids so a batch
    * replayed AFTER its append computes identical pairs. A cross-batch
    * pair emits in the LATER document's batch with its FULL shared
    * count (old fps from the store + new fps from the batch), so the
    * union of per-batch emissions equals the one-shot pair set.
    * The batch's fingerprint frame (roughly one long per document
    * token — unbounded in micro-batch size) is hinted as the broadcast
    * side only while the batch's input fits under the session's
    * broadcast ceiling ([[graft.core.DriverSet]]); a larger batch runs
    * every leg as a plain join, because a driver OOM is not an
    * acceptable failure mode for an oversized batch.
    * Returns (pairs, the batch's fingerprint frame to register). */
  def incrementalWinnowPairs(newDocs: DataFrame, dir: String,
                             k: Int = 3, w: Int = 4, minShared: Int = 2,
                             idCol: String = "doc_id",
                             textCol: String = "text"): (DataFrame, DataFrame) = {
    val spark = newDocs.sparkSession
    graft.core.Fs.recoverSwap(s"$dir/fps")
    // persist: the batch fingerprints ONCE — three join legs read it
    // (caller unpersists after registering, see streamBatchWinnow).
    // Spread first: a micro-batch often arrives as ONE input split
    // (one file per trigger), and the winnow regex + per-gram md5 is
    // the batch's CPU bill — without the barrier it runs in a single
    // task regardless of cores (measured 3× the whole gate's cost; a
    // real lake batch has many splits, where this is a no-op).
    val newFps = graft.core.Spread(
        newDocs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"),
        explode(winnowFingerprints(col(textCol), k, w)).as("fp"))
      .persist()
    // no eager count: an extra job per micro-batch measured as pure
    // serial wall (+1.6 s on stream_winnow's 3-batch gate) while the
    // cold-cache duplicate evaluations ran on idle task slots
    // the anti-join and self-join sides are hinted too while the batch
    // fits — the size-blind planner otherwise schedules SortMergeJoins
    // (the Spread barrier hides the batch's size) whose exchanges cost
    // one AQE job each per trigger (guide §3.1 + §1.2)
    val batchBytes = graft.core.DriverSet.planBytes(newDocs)
    def side(df: DataFrame): DataFrame =
      graft.core.DriverSet.broadcastIfFits(df, batchBytes)
    val stored = spark.read.parquet(s"$dir/fps")
      .select("doc_id", "fp")
      .join(side(newFps.select("doc_id")), Seq("doc_id"), "left_anti")
    val cross = stored.as("y").join(side(newFps.as("x")),
        col("x.fp") === col("y.fp") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"))
    val self = newFps.as("x").join(side(newFps.as("y")),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    val pairs = cross.unionByName(self)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    (pairs, newFps)
  }

  /** One streamed micro-batch of the winnow tier: pairs overwrite
    * `batch_id=N`, fingerprints register under `batch=N` — replay
    * replaces, union of emissions equals the one-shot answer
    * (spec-pinned). The [[graft.operators.Multimodal
    * .streamBatchImageDedup]] discipline for text passages. */
  def streamBatchWinnow(batch: DataFrame, storeDir: String,
                        pairsDir: String, batchId: Long,
                        k: Int = 3, w: Int = 4, minShared: Int = 2): Unit = {
    val (pairs, newFps) = incrementalWinnowPairs(batch, storeDir, k, w,
      minShared)
    graft.core.BatchStore.emitAndRegister(pairs,
      newFps.select("doc_id", "fp"), s"$storeDir/fps", pairsDir, batchId)
    newFps.unpersist()
    ()
  }

  // --- quality scoring -----------------------------------------------

  /** Count of alphabetic characters. */
  def alphaChars(text: Column): Column =
    length(regexp_replace(text, "[^a-zA-Z]", ""))

  /** Count of punctuation characters. */
  def punctChars(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?'\"()-]", ""))

  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that", "are", "be")

  /** Fraction of tokens that are (English) stopwords — a fluency signal. */
  def stopwordRatio(text: Column, stops: Seq[String] = EnStopwords): Column = {
    val t = tokens(text)
    when(size(t) > 0,
      size(filter(t, x => x.isin(stops.map(lit(_)): _*)))
        .cast("double") / size(t).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Structured quality row: counts + ratios + a keep/drop heuristic in
    * the spirit of C4/Gopher-style filters (length bounds, alpha ratio,
    * stopword presence).
    *
    * Deliberately the token-ARRAY forms: a measured r9 head-to-head at
    * sf0.1 had the all-string rewrite (separators+1 counts, anchored
    * \b-alternation regexp_count) 3× SLOWER — the rules predicate
    * duplicates each stat subtree, and re-running regexes per duplicate
    * costs more than one split + interpreted array folds. The regex
    * trick pays where it removes per-window array materialization
    * (tokens/bigrams/shingles), not single-pass folds. */
  def qualityColumns(text: Column): Seq[Column] = {
    val t = tokens(text)
    val nTok = size(t)
    val nChars = length(text)
    val alphaRatio = when(nChars > 0,
      alphaChars(text).cast("double") / nChars.cast("double")).otherwise(0.0)
    val meanTokLen = when(nTok > 0,
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double")
        / nTok.cast("double")).otherwise(0.0)
    Seq(
      nChars.as("n_chars"),
      nTok.as("n_tokens"),
      alphaRatio.as("alpha_ratio"),
      meanTokLen.as("mean_token_len"),
      stopwordRatio(text).as("stopword_ratio"),
      (nTok >= 5 && nTok <= 100000 && alphaRatio > 0.6).as("quality_keep"))
  }

  /** Quality FILTER with per-rule drop reasons — the Gopher-rules
    * keep/drop stage (Rae et al. 2021 appx. A1.1; C4's heuristics)
    * every production corpus pipeline runs and audits: an ORDERED rule
    * list evaluates map-side and each dropped document reports the
    * FIRST rule it failed (the per-reason counts pipelines publish).
    * Pure codegen'd projection — no shuffle, no UDF; thresholds are
    * operator parameters. */
  def qualityFilter(docs: DataFrame,
                    minTokens: Int = 50, maxTokens: Int = 100000,
                    minMeanTokLen: Double = 3.0, maxMeanTokLen: Double = 10.0,
                    minAlphaRatio: Double = 0.6,
                    minStopwordRatio: Double = 0.02,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    carry: Seq[String] = Nil): DataFrame = {
    // `carry` columns ride along so a composed pipeline can keep
    // filtering AND hand the kept rows to its next stage without a
    // semi-join back to the corpus (each join probe re-runs this scan).
    //
    // The token array and the reason fold are each bound ONCE per row
    // via 1-element `transform` lambda-lets: Catalyst collapses the
    // stats projection into whoever references it (the keep filter, the
    // drop_reason output, downstream selects), textually duplicating
    // the split()+fold subtree per reference — measured 2× the whole
    // scan at sf1 (QualProbe9Main: 5.6 s collapsed vs 2.7 s behind a
    // barrier). A subtree closed over by a lambda VariableReference is
    // evaluated once no matter how many rule branches read it, and a
    // pushed `keep` filter costs exactly one tokenization per row.
    val rulesOf: Column => Column = { t =>
      val nTok = size(t)
      val meanTokLen = when(nTok > 0,
        aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double")
          / nTok.cast("double")).otherwise(0.0)
      val stopR = when(nTok > 0,
        size(filter(t, x => x.isin(EnStopwords.map(lit(_)): _*)))
          .cast("double") / nTok.cast("double")).otherwise(0.0)
      val nChars = length(col(textCol))
      val alphaR = when(nChars > 0,
        alphaChars(col(textCol)).cast("double") / nChars.cast("double"))
        .otherwise(0.0)
      val rules: Seq[(String, Column)] = Seq(
        "too_few_tokens" -> (nTok < minTokens),
        "too_many_tokens" -> (nTok > maxTokens),
        "mean_token_len_low" -> (meanTokLen < minMeanTokLen),
        "mean_token_len_high" -> (meanTokLen > maxMeanTokLen),
        "alpha_ratio_low" -> (alphaR < minAlphaRatio),
        "stopword_ratio_low" -> (stopR < minStopwordRatio))
      val reason = rules.foldRight(lit(null).cast("string")) {
        case ((name, failed), acc) => when(failed, name).otherwise(acc)
      }
      // inner let: drop_reason and keep both read the bound reason
      element_at(transform(array(reason), r =>
        struct(nTok.as("n_tokens"), r.as("drop_reason"),
          r.isNull.as("keep"))), 1)
    }
    val m = element_at(
      transform(array(tokens(col(textCol))), rulesOf), 1)
    docs
      .withColumn("_q", m)
      .select(Seq(col(idCol)) ++ carry.map(col) ++ Seq(
        col("_q.n_tokens").as("n_tokens"),
        col("_q.drop_reason").as("drop_reason"),
        col("_q.keep").as("keep")): _*)
  }

  // --- language identification ----------------------------------------

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic.
    * Deterministic: score = #distinct stopwords of that language present;
    * argmax with fixed preference order (en,de,es,fr), 'und' if all 0. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "en", "un", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "un", "une", "dans", "pour"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val t = array_distinct(tokens(text))
    LangStopwords.map { case (lang, stops) =>
      lang -> size(array_intersect(t, array(stops.map(lit(_)): _*)))
    }
  }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // fold from the right so earlier languages win ties (fixed preference
    // order keeps the heuristic deterministic and oracle-expressible)
    scores.foldRight(lit("und"): Column) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  // --- PII redaction ----------------------------------------------------

  /** PII patterns in RE2-compatible syntax (no backrefs/lookarounds), so
    * the exact same pattern runs under Java regex here and RE2 in the
    * oracle. Applied in a fixed order; the replacement tags cannot
    * themselves match a later pattern. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("card", "\\b\\d{16}\\b", "<CARD>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Scrubbed text: every PII pattern replaced by its tag. Pure codegen'd
    * `regexp_replace` chain — map-side, shuffle-free at any scale. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** Per-kind PII match counts (for audit ledgers), computed on the same
    * progressively-redacted view the replacement chain sees, so overlapping
    * patterns (a card number is also 16 digits of phone-ish material) are
    * attributed to exactly one kind, identically to [[redactPii]]. */
  def piiCounts(text: Column): Seq[Column] = {
    val staged = PiiPatterns.scanLeft(text) { case (c, (_, pat, tag)) =>
      regexp_replace(c, pat, tag)
    }
    PiiPatterns.zip(staged).map { case ((kind, pat, _), pre) =>
      size(regexp_extract_all(pre, lit(pat), lit(0))).cast("long").as(s"n_$kind")
    }
  }

  // --- repetition (Gopher-style) ---------------------------------------

  /** Word bigrams of the token array. */
  /** Adjacent-token bigrams as "t0 t1" strings. Derived straight off
    * the space-normalized token string with ONE overlapping-window
    * regex — a zero-width lookahead succeeds at every token start that
    * another token follows, capturing the pair — instead of
    * slice/zip_with over the token array: the array form built two
    * sliced copies plus a zipped result per document (and the zip_with
    * HOF dropped the projection out of codegen); the regex is a single
    * codegen'd regexp_extract_all and measured 4.5× faster on the
    * corpus-sized gram stream (sf1 probe, bit-identical output). */
  def bigrams(text: Column): Column = {
    val norm = trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))
    regexp_extract_all(norm, lit("(?=\\b([a-z0-9]+ [a-z0-9]+))"), lit(1))
  }

  /** Repetition profile per document — the Gopher repetition-removal
    * signals (top-token fraction, top-bigram fraction, distinct-token
    * ratio). Implemented the 100 TB way: ONE scan, ONE explode of the
    * token and (tag-prefixed) bigram grams together, then two map-side-
    * combined shuffles — count per (doc, gram), fold per doc with
    * conditional aggregates. Never a per-row nested loop over the
    * vocabulary, never a second pass over the text. */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    // \u0001 can't appear in a token (tokenizer strips non-alphanumerics),
    // so the tag separates arities inside one gram stream
    val tagged = concat(tokens(col(textCol)),
      transform(bigrams(col(textCol)), b => concat(lit("\u0001"), b)))
    val counts = docs.select(col(idCol), explode(tagged).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
    val isBi = col("g").startsWith("\u0001")
    val agg = counts.groupBy(col(idCol)).agg(
      sum(when(!isBi, col("c")).otherwise(0L)).as("n_tok"),
      max(when(!isBi, col("c"))).as("max_tok"),
      count(when(!isBi, lit(1))).as("n_distinct"),
      sum(when(isBi, col("c")).otherwise(0L)).as("n_bi"),
      max(when(isBi, col("c"))).as("max_bi"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tok"), lit(0L)).as("n_tokens"),
        when(col("n_tok") > 0, col("n_distinct").cast("double")
          / col("n_tok").cast("double")).otherwise(1.0).as("distinct_ratio"),
        when(col("n_tok") > 0, col("max_tok").cast("double")
          / col("n_tok").cast("double")).otherwise(0.0).as("top_token_frac"),
        when(col("n_bi") > 0, col("max_bi").cast("double")
          / col("n_bi").cast("double")).otherwise(0.0).as("top_bigram_frac"))
  }

  // --- corpus-LM surprisal (CCNet-style quality bucketing) --------------

  /** Quarter-bit quantized log: floor(4·log2(x)) for 1 ≤ x < 2^15,
    * computed EXACTLY as the binary-string length of x⁴ — no floating
    * log, so the same value falls out of any engine (`length(bin(x⁴))-1`
    * in DuckDB too). Counts ≥ 2^15 saturate their fractional bits
    * (4·floor(log2 x) + 3): still monotone and engine-exact, just
    * whole-bit-coarse — high-frequency tokens contribute so little
    * surprisal that quarter-bit resolution stops mattering there, and the
    * exact branch's x⁴ stays far inside int64. */
  def qlog4(x: Column): Column =
    when(x < 32768, length(bin(x * x * x * x)) - 1)
      .otherwise((length(bin(x)) - 1) * 4 + 3).cast("long")

  /** [[qlog4]] for a driver-side scalar (the corpus token total). */
  def qlog4Long(x: Long): Long =
    if (x < 32768) BigInt(x).pow(4).bitLength - 1L
    else 4L * (63 - java.lang.Long.numberOfLeadingZeros(x)) + 3

  /** Per-document surprisal under a unigram LM trained on the corpus
    * itself — the CCNet recipe (train an LM on the corpus, score each
    * document, keep the low-perplexity "head") — with the LM's token
    * log-probs quantized to quarter bits ([[qlog4]]) so every score is
    * exact integer arithmetic and the head/middle/tail split reproduces
    * bit-for-bit on any engine.
    *
    * token surprisal (¼-bits) = qlog4(total_tokens) − qlog4(count(t));
    * doc surprisal = Σ over token instances; mean bits/token = ONE IEEE
    * division surprisal_qbits / (4·n_tokens).
    *
    * 100 TB shape: the model is a vocabulary-sized aggregate (map-side
    * combined shuffle on token); scoring is a shuffle join of the token
    * stream against the model keyed on token, then a doc-keyed integer
    * fold — shuffle volume tracks token count, never all-pairs anything.
    * The bucket cutoffs are OPERATOR PARAMETERS (CCNet chooses its
    * percentile cutoffs offline the same way), so bucketing is map-side —
    * no global sort, no single-partition window. */
  def surprisal(docs: DataFrame, headBits: Double, middleBits: Double,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    // The model is referenced exactly ONCE (the scoring join), so it
    // needs no persist — and therefore leaves no cached frame behind
    // after the op (a server calling this repeatedly must not
    // accumulate vocabulary-sized cache entries). The corpus token
    // total comes from a separate MAP-ONLY scan of the token-array
    // sizes: no explode, no shuffle — far cheaper than materializing
    // the vocabulary aggregate just to sum it.
    val model = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    // the model total is ONE scalar — a bounded driver materialization
    // (NeedleScan pattern), not a data-scale collect; null on an empty
    // corpus (SUM over zero rows) → zero tokens, empty profile
    val totalRow = docs
      .agg(sum(size(tokens(col(textCol)))).cast("long")).collect()(0)
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    val totalQ = qlog4Long(total)
    val scored = toks.join(model, Seq("tok"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_tokens"),
        sum(lit(totalQ) - qlog4(col("c"))).as("surprisal_qbits"))
    val mean = when(col("n_tokens") > 0,
      col("surprisal_qbits").cast("double")
        / (col("n_tokens") * 4L).cast("double"))
      .otherwise(lit(0.0))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("surprisal_qbits"), lit(0L)).as("surprisal_qbits"),
        mean.as("mean_surprisal"),
        when(mean < headBits, "head").when(mean < middleBits, "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  // --- relevance ranking (TF-IDF / BM25) --------------------------------

  /** Rank documents for a term set by quarter-bit-exact TF-IDF — the
    * content-relevance scoring the reference approximates with
    * `content:scoredPhrase` (TermWeight scores stored at ingest,
    * ContentFunctions.java): here computed corpus-wide from tf and df.
    * idf is quantized with [[qlog4]] (idf_q(t) = qlog4(N) − qlog4(df_t)),
    * so every score is exact integer arithmetic — any engine reproduces
    * the ranking bit-for-bit (same discipline as [[surprisal]]).
    *
    * 100 TB shape: the token stream is filtered to the query terms
    * BEFORE any shuffle (an `isin` over a handful of literals, pushed
    * into the scan projection), so shuffle volume is query-term
    * instances only — never the vocabulary. df/idf is a ≤|terms|-row
    * aggregate broadcast back onto tf; the top-k is a
    * TakeOrderedAndProject (per-partition heaps + driver merge of k
    * rows), never a global sort. */
  def rankTfIdf(docs: DataFrame, terms: Seq[String], k: Int = 20,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "rankTfIdf needs at least one query term")
    val norm = terms.map(_.toLowerCase).distinct
    // ONE scalar job (the surprisal-total pattern): N feeds the idf
    // constant, a bounded driver materialization
    val n = docs.count()
    val nQ = qlog4Long(n)
    val hits = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok").isin(norm.map(lit(_)): _*))
    val tf = hits.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // one row per (doc, term) → count(*) = documents containing t
    val idf = tf.groupBy("tok")
      .agg((lit(nQ) - qlog4(count(lit(1)))).as("idf_q"))
    tf.join(broadcast(idf), Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf") * col("idf_q")).as("score_qbits"))
      .orderBy(col("score_qbits").desc, col(idCol))
      .limit(k)
  }

  /** Okapi BM25 top-k — the standard-formula double-precision sibling of
    * [[rankTfIdf]] for callers who want the real scoring function
    * (length-normalized, tf-saturated). Same distributed shape; the
    * scores are IEEE doubles (spec-tested with tolerance, not
    * hash-gated — `ln` is not exactly reproducible across engines). */
  def rankBm25(docs: DataFrame, terms: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "rankBm25 needs at least one query term")
    val norm = terms.map(_.toLowerCase).distinct
    val n = docs.count()
    // avgdl is ONE map-only scalar; each doc's own length rides the
    // hits scan itself (carried through the explode), so the only rows
    // that ever shuffle are query-term instances — no corpus-sized
    // length table exists, let alone joins
    val avgRow = docs.agg(avg(tokenCount(col(textCol)))).collect()(0)
    val avgdl = if (avgRow.isNullAt(0)) 0.0 else avgRow.getDouble(0)
    val hits = docs
      .select(col(idCol), tokenCount(col(textCol)).as("dl"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok").isin(norm.map(lit(_)): _*))
    val tf = hits.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val idf = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .select(col("tok"),
        log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          .as("idf"))
    val tfd = tf.join(broadcast(idf), Seq("tok"))
    val denom = col("tf").cast("double") + lit(k1) *
      (lit(1.0 - b) + lit(b) * col("dl").cast("double")
        / lit(math.max(avgdl, 1e-9)))
    tfd.select(col(idCol),
        (col("idf") * (col("tf").cast("double") * (k1 + 1.0)) / denom).as("s"))
      .groupBy(col(idCol)).agg(sum(col("s")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  // --- BPE merge statistics ---------------------------------------------

  /** Adjacent-symbol pair counts over the word-frequency table — the
    * statistic one BPE merge iteration maximizes (Sennrich et al. 2016:
    * count pairs in the vocabulary weighted by word frequency, merge the
    * max). Emits the top-k (pair, count) rows with a total order
    * (count desc, pair asc), exact integer arithmetic throughout.
    *
    * 100 TB shape: the corpus collapses to its VOCABULARY first (one
    * map-side-combined shuffle on word — tokens-in, vocab-out), and the
    * pair explode runs over vocab rows, not corpus rows: a trillion-token
    * corpus with a 10M-word vocabulary pays the pair work 10M times.
    * The final top-k is a TakeOrderedAndProject over the pair aggregate. */
  def bpePairs(docs: DataFrame, k: Int = 50,
               textCol: String = "text"): DataFrame = {
    val vocab = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
    // sequence(1, len-1) must not run on len<2 words: Spark's sequence
    // DESCENDS when stop < start (sequence(1,0) = [1,0]), which would
    // fabricate pairs from one-char words
    vocab.filter(length(col("word")) >= 2)
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(k)
  }

  /** Deterministic "line" structure for corpora without newlines: the
    * token stream re-joined as consecutive `chunk`-token lines. ONE
    * definition shared by the dedup_lines gate, its DuckDB oracle
    * mirror, and the scale probe — the derivation must not drift
    * between what is gated and what is measured. */
  def chunkLines(text: Column, chunk: Int = 10): Column = {
    require(chunk > 0, "chunk must be positive")
    // HOF-free: on the space-normalized token string, every run of
    // `chunk` tokens followed by a space ends a line — one codegen'd
    // regexp_replace instead of a transform/slice loop that dropped the
    // projection to interpreted evaluation (the dedup_lines gate's
    // dominant cost on the sf1 probe). Trailing remainder tokens stay
    // on the final line, exactly like the slice form did.
    val norm = trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))
    regexp_replace(norm,
      s"((?:[a-z0-9]+ ){${chunk - 1}}[a-z0-9]+) ", "$1\n")
  }

  // --- derived DataFrames ----------------------------------------------

  def analyze(docs: DataFrame): DataFrame =
    docs.select(Seq(col("doc_id")) ++ qualityColumns(col("text"))
      :+ langId(col("text")).as("lang_pred")
      :+ fingerprint(col("text")).as("fingerprint"): _*)
}
