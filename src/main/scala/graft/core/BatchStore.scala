package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared plumbing for the write-once BATCH-PARTITIONED stores kept
  * beside a corpus — text MinHash signatures
  * ([[graft.operators.Dedup]]), winnow fingerprints
  * ([[graft.operators.TextOps]]), the image/audio/video perceptual
  * hashes ([[graft.operators.Multimodal]]), the ingest statistics
  * ([[graft.ingest.MetadataStats]]) and the PQ / IVF-PQ index codes
  * ([[graft.operators.VectorOps]]). The choreography is one discipline
  * for all of them:
  *
  *  - '''seed''': the `batch=seed` partition — empty for a stream's
  *    store, so the first micro-batch's incremental probe reads a valid
  *    store; the trained corpus for an index;
  *  - '''register''': OVERWRITE a batch's rows under `batch=N` — a
  *    crash-replayed micro-batch replaces its registration instead of
  *    duplicating store rows (exactly-once without a transaction log);
  *  - '''compact''': offline maintenance collapsing months of splinter
  *    `batch=N` dirs into ONE `batch=compacted` partition of
  *    `filesPerTable` files, behind the [[Fs.swapDir]] rename-only
  *    crash-safe swap ([[Fs.recoverSwap]] on every read/append);
  *  - '''horizon marker''': the highest batch id a compaction folded
  *    in, written BEFORE the swap — a batch at or below it skips
  *    re-registration (its rows already live in `batch=compacted`;
  *    re-registering would duplicate them and inflate every later
  *    probe's pair candidates). In every crash window the marked
  *    batches stay durably registered exactly once: under their
  *    splinter dirs if the swap never lands, under `batch=compacted`
  *    after it.
  *
  * A store may keep one more k=v level under every batch (IVF-PQ's
  * `cell`, so a probe reads only its cells' files): the writer names it
  * in `partitionBy`, and [[compact]] reads it off the folded dirs.
  *
  * The tiers used to copy-adapt this plumbing file by file; a file-wide
  * substitution editing the twins in parallel nearly shipped a wrong
  * slice predicate — one module, thin callers, removes the hazard
  * class. `tableDir` is the partitioned table's own directory (e.g.
  * `…/phashes`); the marker lives beside it as
  * `tableDir + ".compacted_through"` and the compaction temp as
  * `tableDir + ".compacting"`, both swap-safe siblings.
  */
object BatchStore {

  private def markerFile(tableDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(tableDir + ".compacted_through")

  /** The highest batch id a [[compact]] has folded into `tableDir`
    * (-1 = never compacted). */
  def compactedThrough(tableDir: String): Long = {
    val f = markerFile(tableDir)
    if (!java.nio.file.Files.exists(f)) -1L
    else new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
  }

  /** Seed the `batch=seed` partition. A stream's store seeds from a
    * zero-row frame whose SCHEMA is its row layout (taken from the real
    * corpus frame so id types never conflict with later batches'
    * footers); an index seeds with its trained corpus. */
  def seed(rows: DataFrame, tableDir: String,
           partitionBy: Seq[String] = Nil): Unit =
    overwrite(rows, s"$tableDir/batch=seed", partitionBy)

  /** Start the table over: drop it with its horizon marker and swap
    * leftovers, so a store rebuilt at `tableDir` (an index retrain)
    * keeps no batch of the one it replaces. */
  private[graft] def reset(tableDir: String): Unit = {
    Seq("", ".old", ".compacting").foreach(s => Fs.deleteRecursively(tableDir + s))
    java.nio.file.Files.deleteIfExists(markerFile(tableDir))
  }

  /** Register a processed batch's rows under `batch=batchId` —
    * overwrite, so retries and crash-replays of the same id replace
    * rather than duplicate; a no-op at or below the compaction horizon
    * (the rows already live in `batch=compacted`). `files` > 0 writes
    * that many files (a caller that knows the row count sizes them with
    * [[DriverSet.files]]); 0 keeps one file per writing task. */
  def registerBatch(rows: DataFrame, tableDir: String,
                    batchId: Long, files: Int = 0,
                    partitionBy: Seq[String] = Nil): Unit = {
    if (batchId <= compactedThrough(tableDir)) return
    Fs.recoverSwap(tableDir)
    overwrite(sized(rows, files), s"$tableDir/batch=$batchId", partitionBy)
  }

  private def sized(df: DataFrame, files: Int): DataFrame =
    if (files > 0) df.coalesce(files) else df

  /** Overwrite `path` with `rows`, one k=v directory level per
    * `partitionBy` column. */
  private def overwrite(rows: DataFrame, path: String,
                        partitionBy: Seq[String]): Unit = {
    val w = rows.write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(path)
  }

  /** The entry names directly under `dir`. */
  private def names(dir: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }

  /** Offline compaction (run only while the stream is STOPPED): every
    * partition collapses into `batch=compacted` — keeping the `batch=`
    * k=v directory level, because flattening it into a data column
    * would break partition discovery for later appends. A k=v level
    * under the batches survives the fold, one file per value. */
  def compact(spark: SparkSession, tableDir: String,
              filesPerTable: Int = 1): Unit = {
    val tmp = tableDir + ".compacting"
    Fs.recoverSwap(tableDir)
    // the layout comes from the DIRECTORY LISTING, not a whole-store
    // read: a schema-inferring read over the full table would
    // footer-probe exactly the crash-partial dirs the carry logic below
    // protects (an unreadable footer would wedge compaction entirely).
    val d = java.nio.file.Paths.get(tableDir)
    val entries = names(d)
    val subdirs = entries.filter(n =>
      java.nio.file.Files.isDirectory(d.resolve(n)))
    // "batch=N dir exists" is NOT "batch N fully registered": a crash
    // mid-registerBatch leaves a partial dir, and folding its rows
    // while advancing the horizon past N would make the checkpoint
    // replay of N skip re-registration — the missing rows lost
    // permanently. The per-dir commit proof is the parquet
    // committer's _SUCCESS marker. Only proven dirs fold; the horizon
    // stops BELOW the lowest unproven id; and EVERY dir above the
    // horizon — proven (its STREAM commit may not have landed) or
    // unproven (crash-partial, or a marker-conf flip stripped proof
    // from genuinely committed batches) — is CARRIED verbatim as a
    // splinter dir, never dropped. Carrying is the no-data-loss
    // default under every marker state: a replayed batch overwrites
    // its splinter in place (exactly-once), and a batch that will
    // never replay (conf-flip survivor) keeps serving its rows,
    // merely un-compacted until re-registered under a marker-writing
    // conf. The carry is a RAW file copy — a partial dir may have no
    // readable footers, and a Spark re-encode would forge a _SUCCESS
    // the original never earned.
    val ids = subdirs
      .collect { case s if s.startsWith("batch=") =>
        s.stripPrefix("batch=") }
      .flatMap(v => scala.util.Try(v.toLong).toOption)
    // Marker-availability guard: a deployment that disables the
    // committer's _SUCCESS files (mapreduce.fileoutputcommitter
    // .marksuccessfuljobs=false) makes every dir look unproven and
    // compaction would degenerate to carrying everything forever.
    // The conf itself is the authority (Fs.markersEnabled) — NOT
    // directory state: inferring "markers on" from any old marked dir
    // would pin a store seeded under a marker-writing conf to
    // "every new batch unproven" forever after the conf flips off.
    // Markers off → fold everything (no partial-dir protection — the
    // documented tradeoff of running marker-less; never data loss).
    // Markers on with unmarked dirs (a past marker-less period, or a
    // crash-partial) keeps full protection via the carry rule.
    val markersOn = Fs.markersEnabled(spark)
    val committed =
      if (markersOn)
        ids.filter(n => Fs.committed(d.resolve(s"batch=$n").toString))
      else ids
    val foldMax = (compactedThrough(tableDir) +: committed).max
    val horizon = ids.diff(committed).minOption
      .map(m => math.min(foldMax, m - 1)).getOrElse(foldMax)
    // fold from the PROVEN partition paths explicitly (batch=seed /
    // batch=compacted / numeric ids at or below the horizon — every
    // id <= horizon is committed by the horizon rule above): the
    // unproven dirs are never listed, so a partial dir with no
    // readable footer cannot fail schema inference and wedge the
    // maintenance op.
    // batch=seed is Spark-written INTO THE LIVE DIR (seed()), so a
    // crash mid-seed leaves a VISIBLE partial with no _SUCCESS — it
    // takes the same proof rule as the numeric dirs (unproven → not
    // folded, carried verbatim by the complement rule below; the
    // stream's restart re-seeds with mode("overwrite"), replacing the
    // splinter in place). batch=compacted needs no proof: it is only
    // ever written into the .compacting TEMP dir and becomes visible
    // through the completed swap, so a partial compacted can never be
    // listed here.
    val seedProven = subdirs.contains("batch=seed") &&
      (!markersOn || Fs.committed(d.resolve("batch=seed").toString))
    val foldNames =
      (if (seedProven) Seq("batch=seed") else Seq.empty) ++
        (if (subdirs.contains("batch=compacted")) Seq("batch=compacted")
         else Seq.empty) ++
        ids.filter(_ <= horizon).map(n => s"batch=$n")
    // the k=v level the writer kept under every batch, if any
    val levels = foldNames.flatMap { n =>
      names(d.resolve(n)).filter(c =>
        c.contains('=') && java.nio.file.Files.isDirectory(d.resolve(n).resolve(c)))
    }.map(_.takeWhile(_ != '=')).distinct
    if (foldNames.nonEmpty) {
      val folded = spark.read.option("basePath", tableDir)
        .parquet(foldNames.map(n => s"$tableDir/$n"): _*).drop("batch")
      overwrite(
        if (levels.isEmpty) folded.repartition(filesPerTable)
        else folded.repartition(levels.map(col): _*),
        s"$tmp/batch=compacted", levels)
    } else // nothing proven at all: the swap target still needs a dir
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
    // EVERYTHING not folded carries verbatim into the swap target —
    // the numeric dirs above the horizon AND any entry the fold does
    // not recognize (an operator's batch=3.bak backup, a stray file, a
    // legacy flat table's part files): compaction must never be the
    // operation that deletes data it didn't fold. The numeric
    // above-horizon dirs are a subset of this complement.
    entries.filterNot(foldNames.toSet).foreach { n =>
      Fs.copyRecursively(s"$tableDir/$n", s"$tmp/$n")
    }
    // marker BEFORE the swap — see the horizon contract above
    if (horizon >= 0)
      java.nio.file.Files.write(markerFile(tableDir),
        horizon.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Fs.swapDir(tableDir, tmp)
  }

  /** Read the PROVEN partitions of a batch-partitioned store:
    * `compacted` by existence (it only ever becomes visible through a
    * completed swap), `seed` and numeric `batch=N` dirs by their
    * write's commit proof ([[Fs.committed]], waived when the
    * committer conf disables markers — one rule with [[compact]] and
    * every other `Fs.committed` consumer). Explicit paths, so an
    * unproven crash-partial dir is never listed: it can neither fold
    * into the result nor wedge the read with an unreadable footer.
    * None = the store doesn't exist or has no proven partition yet.
    * The `batch` partition column is dropped — readers see rows. */
  def readProven(spark: SparkSession, tableDir: String): Option[DataFrame] = {
    Fs.recoverSwap(tableDir)
    val d = java.nio.file.Paths.get(tableDir)
    if (!java.nio.file.Files.isDirectory(d)) return None
    val subdirs = names(d).filter(n =>
      n.startsWith("batch=") && java.nio.file.Files.isDirectory(d.resolve(n)))
    val markersOn = Fs.markersEnabled(spark)
    val proven = subdirs.filter {
      // only ever visible through compact's completed swap — a partial
      // compacted cannot be listed, so existence IS its proof
      case "batch=compacted" => true
      // Spark-written into the live dir (seed()): a crash mid-seed
      // leaves a visible partial, so it takes the numeric dirs' rule
      case n @ "batch=seed" =>
        !markersOn || Fs.committed(d.resolve(n).toString)
      case n =>
        val v = n.stripPrefix("batch=")
        scala.util.Try(v.toLong).isFailure || !markersOn ||
          Fs.committed(d.resolve(n).toString)
    }
    if (proven.isEmpty) None
    else Some(spark.read.option("basePath", tableDir)
      .parquet(proven.map(n => s"$tableDir/$n"): _*).drop("batch"))
  }

  /** One streamed micro-batch's WRITE choreography, shared by every
    * tier: materialize the pair frame once, emit it under
    * `pairsDir/batch_id=N` (overwrite — replay replaces), then register
    * the batch's store rows. The caller computes `pairs` and `rows`
    * from ONE signature pass and owns unpersisting any inputs; the file
    * counts follow [[registerBatch]]. */
  def emitAndRegister(pairs: DataFrame, rows: DataFrame, tableDir: String,
                      pairsDir: String, batchId: Long, pairFiles: Int = 0,
                      rowFiles: Int = 0): Unit = {
    // the pair frame is consumed by exactly ONE action (the parquet
    // write), so no persist/count round-trip — those were a second full
    // job per trigger on the hot streaming path. The caller persists
    // the SHARED inputs (signature frames feeding both the pair plan
    // and the registration) and owns their unpersist.
    sized(pairs, pairFiles).write.mode("overwrite")
      .parquet(s"$pairsDir/batch_id=$batchId")
    registerBatch(rows, tableDir, batchId, rowFiles)
  }
}
