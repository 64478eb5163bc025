package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PQ as a persisted index: codes + codebooks written ONCE, every later
  * batch search served off the stored tables with zero train/encode
  * work — the write-once/read-many contract of storage-side ANN. */
class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  // 60 deterministic 8-dim vectors in two well-separated lobes, so
  // nearest neighbours are unambiguous and PQ recall is stable
  private def corpus = {
    val rows = (0L until 60L).map { i =>
      val lobe = if (i % 2 == 0) 1.0f else -1.0f
      val v = (0 until 8).map(dd =>
        lobe * (1.0f + 0.01f * ((i * 7 + dd * 3) % 10)) +
          (if (dd % 2 == 0) 0.1f else -0.1f) * ((i % 5).toFloat))
      (i, v.toArray)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("batch search off a stored index: per-probe top-k matches brute force, index reused untouched") {
    val emb = corpus.cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-spec").toString
    VectorOps.pqWriteIndex(emb, dir, m = 4, codeK = 8, iters = 2)
    val (codes, books) = VectorOps.pqReadIndex(spark, dir)
    assert(codes.columns.toSeq == Seq("vec_id", "code"))
    assert(books.size == 4 && books.head.size == 8 && books.head.head.size == 2)

    val probeIds = Seq(0L, 1L, 5L)
    val got = VectorOps.pqTopKBatch(emb, codes, books, probeIds, k = 5,
        shortlist = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // k rows per probe, no self-hits
    assert(got.size == 15 && got.forall { case (p, v) => p != v })
    probeIds.foreach { p =>
      val exact = VectorOps.bruteForceTopK(emb, p, 5)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val approx = got.filter(_._1 == p).map(_._2).toSet
      assert((approx & exact).size >= 4, s"probe $p: $approx vs $exact")
    }
  }

  test("the shortlist scan reads ONLY stored codes (no encode, WindowGroupLimit, no raw vectors)") {
    val emb = corpus
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-spec2").toString
    VectorOps.pqWriteIndex(emb, dir, m = 4, codeK = 8, iters = 1)
    val (codes, books) = VectorOps.pqReadIndex(spark, dir)
    val probes = Seq(
      0L -> (0 until 8).map(_ => 0.5), 1L -> (0 until 8).map(_ => -0.5))
    val plan = VectorOps.pqAdcShortlistBatch(codes, books, probes, 10)
      .queryExecution.executedPlan.toString
    // one FileScan of the codes table; the rank filter became a
    // map-side group-limit; the raw embedding column never appears
    assert(plan.contains("codes") && !plan.contains("embedding"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("a second batch re-executes NOTHING but probe fetch, code-scan shortlist, needle re-rank") {
    val emb = corpus.cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-spec3").toString
    VectorOps.pqWriteIndex(emb, dir, m = 4, codeK = 8, iters = 1)
    val (codes, books) = VectorOps.pqReadIndex(spark, dir)
    val first = VectorOps.pqTopKBatch(emb, codes, books, Seq(0L, 1L), k = 5)
      .collect().toSeq
    // record every query execution the SECOND search triggers: probe
    // fetch + shortlist collect (inside pqTopKBatch) + the final
    // collect = exactly 3. A re-train (stride sample + per-round mean
    // aggregate) or re-encode would surface as extra executions and as
    // un-needled scans of the corpus — both asserted absent.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      val second = VectorOps.pqTopKBatch(emb, codes, books, Seq(0L, 1L), k = 5)
        .collect().toSeq
      assert(second == first)
      // the listener bus is async: wait for the count to settle
      var last = -1
      var spins = 0
      while (plans.size != last && spins < 50) {
        last = plans.size; Thread.sleep(100); spins += 1
      }
      import scala.jdk.CollectionConverters._
      val ps = plans.asScala.toSeq
      assert(ps.size == 3, s"expected 3 executions, got ${ps.size}")
      // the shortlist execution reads the stored codes, never raw vectors
      assert(ps.exists(p => p.contains("codes") && !p.contains("embedding")))
      // every execution touching the corpus is needle-bounded on vec_id
      ps.filter(_.contains("embedding")).foreach { p =>
        assert(p.contains("vec_id") && (p.contains(" IN ") || p.contains("INSET")
          || p.contains("isin") || p.contains("IN (")), p)
      }
    } finally spark.listenerManager.unregister(ql)
  }

  test("batched brute force matches the single-probe exact top-k per probe") {
    val emb = corpus
    val batch = VectorOps.bruteForceTopKBatch(emb, Seq(0L, 3L, 8L), k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(batch.size == 18)
    Seq(0L, 3L, 8L).foreach { p =>
      val single = VectorOps.bruteForceTopK(emb, p, 6)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(batch.filter(_._1 == p).map(_._2) == single, s"probe $p")
    }
  }

  test("append encodes new vectors with the STORED books — no retrain, appended ids findable") {
    val all = corpus.cache()
    val first = all.filter(col("vec_id") < 40L)
    val rest = all.filter(col("vec_id") >= 40L)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-app").toString
    VectorOps.pqWriteIndex(first, dir, m = 4, codeK = 8, iters = 1)
    val booksFile = new java.io.File(s"$dir/codebooks").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val booksBytes = java.nio.file.Files.readAllBytes(booksFile.toPath).toSeq

    VectorOps.pqAppendToIndexBatch(rest, dir, 0L)
    // the codebooks file is byte-identical — nothing retrained
    assert(java.nio.file.Files.readAllBytes(booksFile.toPath).toSeq
      == booksBytes)
    val (codes, books) = VectorOps.pqReadIndex(spark, dir)
    assert(codes.count() == 60)
    // appended codes came from the SAME books: re-encoding an appended
    // vector reproduces its stored code
    val stored = codes.filter(col("vec_id") === 41L)
      .select("code").head().getSeq[Int](0)
    val fresh = all.filter(col("vec_id") === 41L)
      .select(VectorOps.pqEncode(
        // normalize inline the way the writer does
        transform(col("embedding"), x => x.cast("double") /
          sqrt(aggregate(col("embedding"), lit(0.0),
            (a, y) => a + y.cast("double") * y.cast("double")))), books))
      .head().getSeq[Int](0)
    assert(stored == fresh)
    // appended vectors are FINDABLE: a probe from the appended half
    // returns appended neighbours (odd lobe lives in ids 41,43,…)
    val got = VectorOps.pqTopKBatch(all, codes, books, Seq(41L), k = 5,
        shortlist = 30)
      .collect().map(_.getLong(1)).toSet
    assert(got.exists(_ >= 40L), got.toString)
    // dimension drift fails FAST — never garbage codes in the index
    val short = (0L until 5L).map(i => (i + 100L, Array.fill(4)(0.5f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      VectorOps.pqAppendToIndexBatch(short, dir, 1L)
    }
    assert(ex.getMessage.contains("dim 4"), ex.getMessage)
  }

  test("IVF-PQ: cell-partitioned codes, probes partition-prune, within-cells answer exact") {
    val emb = corpus.cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-spec").toString
    VectorOps.ivfPqWriteIndex(emb, dir, nCells = 4, m = 4, codeK = 8,
      iters = 2)
    val (codes, books, cents) = VectorOps.ivfPqReadIndex(spark, dir)
    // the codes table is PHYSICALLY partitioned by cell
    val cellDirs = new java.io.File(s"$dir/codes/batch=seed").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(cellDirs.nonEmpty && cellDirs.subsetOf(
      (0 until 4).map(c => s"cell=$c").toSet), cellDirs.toString)
    // a cell-filtered scan prunes partitions (storage-side selection)
    val plan = codes.filter(col("cell").isin(0, 1)).queryExecution
      .executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    // the search recovers the exact within-probed-cells answer
    val probeIds = Seq(0L, 1L)
    val got = VectorOps.ivfPqTopKBatch(emb, codes, books, cents, probeIds,
      k = 5, nProbe = 2, shortlist = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.size == 10 && got.forall { case (p, v) => p != v })
    probeIds.foreach { p =>
      val pn = emb.filter(col("vec_id") === p)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val nrm = math.sqrt(pn.map(x => x * x).sum)
      val cells = VectorOps.ivfProbeCells(pn.map(_ / nrm), cents, 2)
      val exact = emb
        .withColumn("cell", VectorOps.ivfAssign(col("embedding"), cents))
        .filter(col("cell").isin(cells: _*) && col("vec_id") =!= p)
        .withColumn("sim", VectorOps.cosine(col("embedding"), typedLit(pn)))
        .orderBy(col("sim").desc, col("vec_id").asc).limit(5)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got.filter(_._1 == p).map(_._2).toSet == exact, s"probe $p")
    }
  }

  test("probes-as-data batch shortlist is identical to the single-probe ADC path per probe") {
    val emb = corpus
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-spec4").toString
    val books = VectorOps.pqWriteIndex(emb, dir, m = 4, codeK = 8, iters = 1)
    val (codes, _) = VectorOps.pqReadIndex(spark, dir)
    val single = VectorOps.pqTopK(emb, probeId = 0L, k = 10, m = 4,
        codeK = 8, books0 = Some(books))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val probe0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val n0 = { val nrm = math.sqrt(probe0.map(x => x * x).sum)
      probe0.map(_ / nrm) }
    val batch = VectorOps.pqAdcShortlistBatch(codes, books, Seq(0L -> n0), 10)
      .orderBy(col("dist").asc, col("vec_id").asc)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(batch == single)
  }

  private def partFiles(dir: String): Int = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) 0
    else d.listFiles().map { f =>
      if (f.isDirectory) partFiles(f.toString)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum
  }

  test("compaction collapses append splinters; search results identical pre/post") {
    val all = corpus.cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-cmp").toString
    VectorOps.pqWriteIndex(all.filter(col("vec_id") < 30L), dir,
      m = 4, codeK = 8, iters = 1)
    // three live batches → three more part-file sets
    Seq(30L, 40L, 50L).zipWithIndex.foreach { case (lo, b) =>
      VectorOps.pqAppendToIndexBatch(
        all.filter(col("vec_id") >= lo && col("vec_id") < lo + 10L), dir, b)
    }
    val splintered = partFiles(s"$dir/codes")
    assert(splintered >= 4, s"expected splinters, got $splintered")
    val (codes0, books) = VectorOps.pqReadIndex(spark, dir)
    val before = VectorOps.pqTopKBatch(all, codes0, books, Seq(0L, 41L),
      k = 5, shortlist = 30).collect().toSeq
    VectorOps.pqCompactIndex(spark, dir)
    assert(partFiles(s"$dir/codes") == 1, partFiles(s"$dir/codes").toString)
    val (codes1, books1) = VectorOps.pqReadIndex(spark, dir)
    val after = VectorOps.pqTopKBatch(all, codes1, books1, Seq(0L, 41L),
      k = 5, shortlist = 30).collect().toSeq
    assert(after == before)
    // IVF-PQ: compaction preserves the cell partitioning — back to one
    // file per cell, PartitionFilters still prune
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivfpq-cmp").toString
    VectorOps.ivfPqWriteIndex(all.filter(col("vec_id") < 40L), dir2,
      nCells = 4, m = 4, codeK = 8, iters = 1, coarseIters = 1)
    VectorOps.ivfPqAppendToIndexBatch(all.filter(col("vec_id") >= 40L), dir2, 0L)
    val (c2, b2, cents) = VectorOps.ivfPqReadIndex(spark, dir2)
    val ib = VectorOps.ivfPqTopKBatch(all, c2, b2, cents, Seq(0L), k = 5,
      nProbe = 2, shortlist = 40).collect().toSeq
    VectorOps.pqCompactIndex(spark, dir2)
    val cellDirs = new java.io.File(s"$dir2/codes/batch=compacted")
      .listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty && cellDirs.forall(cd =>
      cd.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      cellDirs.map(_.getName).mkString(","))
    val (c3, b3, cents3) = VectorOps.ivfPqReadIndex(spark, dir2)
    val ia = VectorOps.ivfPqTopKBatch(all, c3, b3, cents3, Seq(0L), k = 5,
      nProbe = 2, shortlist = 40).collect().toSeq
    assert(ia == ib)
    // rename-only swap: a crash between the two renames (codes.old
    // present, codes missing) recovers on the next read of either index
    // kind — identical results, leftover dropped
    for (d <- Seq(dir, dir2))
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$d/codes"),
        java.nio.file.Paths.get(s"$d/codes.old"))
    val (c4, b4) = VectorOps.pqReadIndex(spark, dir)
    val recovered = VectorOps.pqTopKBatch(all, c4, b4, Seq(0L, 41L),
      k = 5, shortlist = 30).collect().toSeq
    assert(recovered == before)
    val (c5, b5, cents5) = VectorOps.ivfPqReadIndex(spark, dir2)
    assert(VectorOps.ivfPqTopKBatch(all, c5, b5, cents5, Seq(0L), k = 5,
      nProbe = 2, shortlist = 40).collect().toSeq == ib)
    for (d <- Seq(dir, dir2))
      assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$d/codes")) &&
        !java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$d/codes.old")), d)
  }

  /** Every code row as JSON, sorted: equal multisets of rows. */
  private def codeRows(codes: org.apache.spark.sql.DataFrame): Seq[String] =
    codes.toJSON.collect().toSeq.sorted

  private def subdirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSeq

  test("PQ index: a batch replayed before or after compaction changes no code row and no search") {
    val all = corpus.cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-bat").toString
    val probeIds = Seq(0L, 41L, 55L)
    def state() = {
      val (codes, books) = VectorOps.pqReadIndex(spark, dir)
      (codes.count(), codeRows(codes.select("vec_id", "code")),
        VectorOps.pqTopKBatch(all, codes, books, probeIds, k = 5,
          shortlist = 30).collect().toSeq)
    }
    def register(lo: Long, id: Long): Unit = VectorOps.pqAppendToIndexBatch(
      all.filter(col("vec_id") >= lo && col("vec_id") < lo + 10L), dir, id)
    VectorOps.pqWriteIndex(all.filter(col("vec_id") < 40L), dir,
      m = 4, codeK = 8, iters = 1)
    register(40L, 0L)
    val s0 = state()
    assert(s0._1 == 50L)
    // a crash-replayed batch overwrites its own partition — no duplicates
    register(40L, 0L)
    assert(state() == s0)
    // offline compaction: one partition, the same rows and searches
    VectorOps.pqCompactIndex(spark, dir)
    assert(subdirs(s"$dir/codes") == Seq("batch=compacted"),
      subdirs(s"$dir/codes").mkString(","))
    assert(state() == s0)
    // the compacted index stays appendable, and replaying a batch the
    // compaction folded in is a no-op, not a second copy of its codes
    register(50L, 1L)
    val s1 = state()
    assert(s1._1 == 60L)
    register(40L, 0L)
    assert(state() == s1)
  }

  test("IVF-PQ index: a batch replayed before or after compaction changes no code row and no search; cell pruning survives") {
    val all = corpus.cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-bat").toString
    def state() = {
      val (codes, books, cents) = VectorOps.ivfPqReadIndex(spark, dir)
      // cell is a partition level under every batch — a cell filter
      // prunes files in every layout the index goes through
      val plan = codes.filter(col("cell").isin(0, 1)).queryExecution
        .executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
      (codes.count(), codeRows(codes.select("vec_id", "cell", "code")),
        VectorOps.ivfPqTopKBatch(all, codes, books, cents, Seq(0L, 41L),
          k = 5, nProbe = 2, shortlist = 40).collect().toSeq)
    }
    def register(lo: Long, id: Long): Unit = VectorOps.ivfPqAppendToIndexBatch(
      all.filter(col("vec_id") >= lo && col("vec_id") < lo + 10L), dir, id)
    VectorOps.ivfPqWriteIndex(all.filter(col("vec_id") < 40L), dir,
      nCells = 4, m = 4, codeK = 8, iters = 1, coarseIters = 1)
    register(40L, 0L)
    val s0 = state()
    assert(s0._1 == 50L)
    // a replayed batch overwrites its own subtree — no duplicates
    register(40L, 0L)
    assert(state() == s0)
    // compaction keeps the cell level under batch=compacted
    VectorOps.pqCompactIndex(spark, dir)
    assert(subdirs(s"$dir/codes") == Seq("batch=compacted"),
      subdirs(s"$dir/codes").mkString(","))
    assert(subdirs(s"$dir/codes/batch=compacted").forall(_.startsWith("cell=")))
    assert(state() == s0)
    // appendable after compaction; a folded batch's replay is a no-op
    register(50L, 1L)
    val s1 = state()
    assert(s1._1 == 60L)
    register(40L, 0L)
    assert(state() == s1)
  }

  test("IVF-PQ whole-corpus recall floor: reranked top-5 vs GLOBAL brute force >= 4/5") {
    val emb = corpus.cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-rec").toString
    VectorOps.ivfPqWriteIndex(emb, dir, nCells = 4, m = 4, codeK = 8,
      iters = 2, coarseIters = 2)
    val (codes, books, cents) = VectorOps.ivfPqReadIndex(spark, dir)
    Seq(0L, 1L).foreach { p =>
      val got = VectorOps.ivfPqTopKBatch(emb, codes, books, cents, Seq(p),
        k = 5, nProbe = 2, shortlist = 40)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val exact = VectorOps.bruteForceTopK(emb, p, 5)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert((got & exact).size >= 4, s"probe $p: $got vs $exact")
    }
  }

  test("the batch plan is CONSTANT-SIZE in the probe count (probes join as broadcast data)") {
    val emb = corpus
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-spec5").toString
    val books = VectorOps.pqWriteIndex(emb, dir, m = 4, codeK = 8, iters = 1)
    val (codes, _) = VectorOps.pqReadIndex(spark, dir)
    def plan(n: Int): String = {
      val probes = (0 until n).map(i =>
        i.toLong -> (0 until 8).map(d => math.sin(i * 8 + d)).toSeq)
      VectorOps.pqAdcShortlistBatch(codes, books, probes, 10)
        .queryExecution.executedPlan.toString
    }
    val p2 = plan(2)
    val p64 = plan(64)
    // the probe side is a broadcast (LocalTableScan → BroadcastExchange);
    // the scoring projection is the SAME expression tree at any width, so
    // the executed-plan text cannot grow with the batch (the stacked-
    // literal form this guards against grew ~linearly and fell out of
    // codegen past a few dozen probes)
    assert(p64.contains("Broadcast"), p64)
    assert(p64.length < p2.length * 2,
      s"plan grew with probe count: ${p2.length} -> ${p64.length}")
    // a 64-probe search end-to-end still returns k rows per probe off
    // the stored index (probe ids 0..59 exist in the 60-row corpus)
    val wide = VectorOps.pqTopKBatch(emb.cache(), codes, books,
      (0L until 60L).toSeq, k = 3, shortlist = 20)
    assert(wide.count() == 180)
  }
}
