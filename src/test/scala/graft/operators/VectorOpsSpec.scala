package graft.operators

import graft.SparkSpec
import graft.core.Tables
import graft.functions.IvfAssign
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** VectorOps: the native vector expressions pinned bit-equal to their
  * higher-order-function references ([[VectorOpsReference]]) on real
  * data (sf0.001 embeddings) and on the synthetic edge rows the corpus
  * never exercises (zero vector, exact ties, NaN, ±0.0, length
  * mismatch, null), plus the operators' exactness and recall floors. */
class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private val Ref = VectorOpsReference
  private def emb = Tables.embeddings(spark, sf001)

  private def bitEqual(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b)

  test("cosine basics") {
    val df = Seq((1, Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (2, Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)))
      .toDF("id", "a", "b")
    val out = df.select(col("id"), VectorOps.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1)) < 1e-12)
    assert(math.abs(out(2) - 1.0) < 1e-12)
  }

  test("kernel near-dup pairs match the Catalyst variant exactly") {
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(VectorOps.cosineNearDupPairs(emb, 0.45)) ==
      pairs(Ref.cosineNearDupPairsSql(emb, 0.45)))
  }

  test("cell-bucketed near-dup: subset of exact pairs with pinned recall") {
    def pairs(df: DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(VectorOps.cosineNearDupPairs(emb, 0.45))
    // the zero-iteration stride sample (the engine-replayable override
    // the emb_neardup_cell oracle pins)
    val cell = pairs(VectorOps.cellNearDupPairs(emb, 0.45,
      centroidsOverride = Some(VectorOps.ivfCentroids(emb, 16))))
    // within-cell pairs are a strict subset of the exact pair set
    assert(cell.subsetOf(exact))
    // SemDeDup contract: coarse clustering keeps most true near-dups
    // co-celled. Pin the measured recall floor so a centroid or
    // assignment regression fails loudly (measured 0.71 at sf0.001 /
    // 0.79 at sf0.01 with 16 stride-sampled cells and top-2
    // assignment).
    assert(exact.nonEmpty)
    val recall = cell.size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
    // the DEFAULT (Lloyd-refined kmeansCentroids) must not lose recall
    // vs the raw sample (measured: it raises it) and stays a subset of
    // exact
    val refined = pairs(VectorOps.cellNearDupPairs(emb, 0.45))
    assert(refined.subsetOf(exact))
    val krecall = refined.size.toDouble / exact.size
    assert(krecall >= recall - 1e-9, s"kmeans recall $krecall vs $recall")
  }

  test("dotN matches the fold dot bit-for-bit") {
    val dim = VectorOps.embDim(emb)
    val bad = emb.select(
        Ref.dot(col("embedding"), col("embedding")).as("a"),
        Ref.dotN(col("embedding"), col("embedding"), dim).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(bad == 0L)
  }

  test("brute-force top-k is exact and ordered") {
    val out = VectorOps.bruteForceTopK(emb, 0L, 5).collect()
    assert(out.length == 5)
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("LSH top-k recall vs brute force on sf0.001") {
    val exact = VectorOps.bruteForceTopK(emb, 0L, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val approx = VectorOps.lshTopK(emb, 0L, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"LSH recall@10 = $recall")
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("IVF cell assignment is deterministic and balanced-ish") {
    val cells = emb.withColumn("cell",
        VectorOps.ivfCellId(col("embedding"), 8, VectorOps.embDim(emb)))
      .groupBy("cell").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cells.keys.toSet.subsetOf((0 until 8).toSet))
    assert(cells.size >= 4, s"cells too concentrated: $cells")
  }

  test("PQ codes: m codes in [0, codeK), deterministic, 32x smaller than the vectors") {
    val books = VectorOps.pqCodebooks(emb, m = 8, codeK = 16)
    assert(books.size == 8 && books.forall(_.size == 16) &&
      books.forall(_.forall(_.size == 8))) // dim 64 / m 8
    def codes() = emb
      .select(col("vec_id"), VectorOps.pqEncode(
        // pqEncode expects a NORMALIZED vector; the raw fixture vectors
        // are close enough for the domain/determinism assertions
        col("embedding").cast("array<double>"), books).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val c1 = codes()
    assert(c1.values.forall(cs => cs.size == 8 && cs.forall(c => c >= 0 && c < 16)))
    assert(codes() == c1, "encoding must be deterministic")
    // 8 codes (≤8 bytes logical) vs 64 floats (256 bytes): the 32x
    // storage story the ADC scan exploits
  }

  // ---- the expressions against their HOF references ------------------
  // Edge rows assert expression == REFERENCE on the same input — not
  // expression == hardcoded expectation — so a wrong assumption about the
  // reference's tie behaviour cannot pass silently.

  private def one[T](v: Seq[Double], c: Column => Column, get: Row => T): T =
    get(Seq(Tuple1(v)).toDF("v").select(c(col("v"))).head())

  private def encodes(v: Seq[Double], books: Seq[Seq[Seq[Double]]]): (Seq[Int], Seq[Int]) =
    (one(v, VectorOps.pqEncode(_, books), _.getSeq[Int](0)),
      one(v, Ref.pqEncode(_, books), _.getSeq[Int](0)))

  private def assigns(v: Seq[Double], cents: Seq[Seq[Double]]): (Int, Int) =
    (one(v, VectorOps.ivfAssign(_, cents), _.getInt(0)),
      one(v, Ref.ivfAssign(_, cents), _.getInt(0)))

  private def assignTops(v: Seq[Double], cents: Seq[Seq[Double]],
                         n: Int): (Seq[Int], Seq[Int]) =
    (one(v, VectorOps.ivfAssignTop(_, cents, n), _.getSeq[Int](0)),
      one(v, Ref.ivfAssignTop(_, cents, n), _.getSeq[Int](0)))

  test("pqNormalized is bit-equal to the HOF reference (incl. the zero vector)") {
    val withZero = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((100000L, Array.fill(64)(0.0f)))
        .toDF("vec_id", "embedding"))
    val viaRef = withZero
      .select(col("vec_id"), Ref.pqNormalize(col("embedding")).as("nv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaOps = VectorOps.pqNormalized(withZero)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(viaOps.keySet == viaRef.keySet)
    viaRef.foreach { case (id, e) =>
      val k = viaOps(id)
      assert(k.size == e.size && k.indices.forall(i => bitEqual(k(i), e(i))),
        s"vec $id differs")
    }
  }

  test("pqEncode is bit-equal to the HOF reference on trained books") {
    val books = VectorOps.pqCodebooks(emb, m = 8, codeK = 16, iters = 2)
    val normed = VectorOps.pqNormalized(emb).persist()
    try {
      def codes(enc: Column) =
        normed.select(col("vec_id"), enc.as("code"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(codes(VectorOps.pqEncode(col("nv"), books)) ==
        codes(Ref.pqEncode(col("nv"), books)))
    } finally normed.unpersist()
  }

  test("pqEncode matches the HOF reference on an exact tie (equidistant centroids)") {
    // one subspace of dim 2, two centroids equidistant from the probe
    val (ops, ref) = encodes(Seq(0.0, 5.0), Seq(Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0))))
    assert(ops == ref)
    assert(ref == Seq(0)) // ties -> smaller code
  }

  test("ivfAssign is bit-equal to the HOF reference on kmeans centroids") {
    val cents = VectorOps.kmeansCentroids(emb, nCells = 16, iters = 2)
    def cells(assign: Column) =
      emb.select(col("vec_id"), assign.as("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(VectorOps.ivfAssign(col("embedding"), cents)) ==
      cells(Ref.ivfAssign(col("embedding"), cents)))
  }

  test("ivfAssign matches the HOF reference on an exact tie (equal dot)") {
    // v equidistant from both centroids: dot = 1.0 each
    val (ops, ref) = assigns(Seq(1.0, 1.0), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    assert(ops == ref)
    assert(ref == 1) // ties -> larger cell
  }

  test("ivfAssign matches array_max's double ordering on NaN and ±0.0 sims") {
    // NaN sims: array_max's struct ordering is NaN-greatest — all sims
    // NaN ties to the LARGER cell (a primitive >= never selects NaN; the
    // body uses java.lang.Double.compare). kmeansCentroids assigns with
    // the same body.
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.5, 0.5))
    val nan = Seq(Double.NaN, 1.0)
    val (ops, ref) = assigns(nan, cents)
    assert(ops == ref)
    assert(IvfAssign.assign(nan.toArray, cents.map(_.toArray).toArray) == ref)
    // ±0.0: Double.compare orders -0.0 < 0.0 while primitive >= treats
    // them equal — v picked so cell 0 scores 0.0 and cell 1 scores -0.0
    val zc = Seq(Seq(0.0, 1.0), Seq(0.0, -1.0))
    val (zops, zref) = assigns(Seq(-1.0, 0.0), zc)
    assert(zops == zref)
  }

  test("ivfAssignTop is bit-equal to the HOF reference (order included)") {
    val cents = VectorOps.ivfCentroids(emb, 16)
    def cells(assign: Column) =
      emb.select(col("vec_id"), assign.as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(cells(VectorOps.ivfAssignTop(col("embedding"), cents, 3)) ==
      cells(Ref.ivfAssignTop(col("embedding"), cents, 3)))
  }

  test("ivfAssignTop tie order matches the HOF reference: equal sims -> larger cell first") {
    // v = (1,1): dots = 1.0, 1.0, 1.0 — all tied
    val (ops, ref) = assignTops(Seq(1.0, 1.0),
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.5, 0.5)), 2)
    assert(ops == ref)
    assert(ref == Seq(2, 1)) // reverse(array_sort): larger cell first
  }

  test("lshSignature is bit-equal to the HOF reference (a null embedding signs 0)") {
    val dim = VectorOps.embDim(emb)
    val withNull = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((100000L, null: Array[Float])).toDF("vec_id", "embedding"))
    def sigs(sig: Column) =
      withNull.select(col("vec_id"), sig.as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaOps = sigs(VectorOps.lshSignature(col("embedding"), planes = 32, dim))
    assert(viaOps == sigs(Ref.lshSignature(col("embedding"), planes = 32, dim)))
    assert(viaOps(100000L) == 0L)
  }

  test("lshSignature edge rows: zero vector, NaN component, length mismatch") {
    def sig(v: Seq[Float], f: (Column, Int, Int) => Column) =
      Seq(Tuple1(v)).toDF("v").select(f(col("v"), 4, 3)).head().getLong(0)
    for (v <- Seq(Seq(0.0f, 0.0f, 0.0f), Seq(Float.NaN, 1.0f, 2.0f),
                  Seq(1.0f, -2.0f)))
      assert(sig(v, VectorOps.lshSignature) == sig(v, Ref.lshSignature), s"edge row $v")
  }

  test("brute-force sims and cosine are bit-equal to the HOF reference cosine") {
    val probeIds = Seq(0L, 7L, 42L)
    val fetched = emb.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaScan = VectorOps.bruteForceTopKBatch(emb, probeIds, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the crossJoin form of the same top-k, scored by either cosine
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id").asc)
    val probesDf = probeIds.map(p => p -> fetched(p)).toDF("probe_id", "pvec")
    def topK(cos: (Column, Column) => Column) =
      emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(probesDf))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("sim", cos(col("embedding"), col("pvec")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("probe_id"), col("vec_id"), col("sim"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaRef = topK(Ref.cosine)
    for (got <- Seq(viaScan, topK(VectorOps.cosine))) {
      assert(got.keySet == viaRef.keySet)
      viaRef.foreach { case (k2, e) => assert(bitEqual(got(k2), e), s"$k2 differs") }
    }
  }

  test("a written PQ index stores exactly the HOF reference's codes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vparity").toString
    try {
      val books = VectorOps.pqWriteIndex(emb, dir, m = 8, codeK = 16, iters = 1)
      val (codes, storedBooks) = VectorOps.pqReadIndex(spark, dir)
      assert(storedBooks == books)
      val viaRef = VectorOps.pqNormalized(emb)
        .select(col("vec_id"), Ref.pqEncode(col("nv"), books).as("code"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val stored = codes.collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(stored == viaRef)
    } finally graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("null and zero-norm embeddings: the expressions give null, no operator crashes on or returns them") {
    val (nullId, zeroId) = (100000L, 100001L)
    val odd = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((nullId, null: Array[Float]), (zeroId, Array.fill(64)(0.0f)))
        .toDF("vec_id", "embedding"))
      .cache()
    try {
      val cents = VectorOps.ivfCentroids(emb, 4)
      val books = VectorOps.pqCodebooks(emb, m = 8, codeK = 4, iters = 1)
      val nulls = odd.filter(col("vec_id") === nullId).select(
          VectorOps.pqNormalize(col("embedding")), VectorOps.pqEncode(col("embedding"), books),
          VectorOps.ivfAssign(col("embedding"), cents),
          VectorOps.ivfAssignTop(col("embedding"), cents, 2),
          VectorOps.cosine(col("embedding"), col("embedding")))
        .head()
      assert((0 until 5).forall(nulls.isNullAt), nulls.toString)
      assert(odd.filter(col("vec_id") === zeroId)
        .select(VectorOps.cosine(col("embedding"), col("embedding"))).head().isNullAt(0))
      val dir = java.nio.file.Files.createTempDirectory("graft-vnull").toString
      try {
        VectorOps.pqWriteIndex(odd, dir, m = 8, codeK = 4, iters = 1)
        val (codes, stored) = VectorOps.pqReadIndex(spark, dir)
        val results = Seq(
          "bruteForceTopK" -> VectorOps.bruteForceTopK(odd, 0L, 10),
          "cosineNearDupPairs" -> VectorOps.cosineNearDupPairs(odd, 0.45),
          "knnJoinExact" -> VectorOps.knnJoinExact(odd, 3),
          "ivfTopK" -> VectorOps.ivfTopK(odd, 0L, 10, nCells = 4, nProbe = 4),
          "cellNearDupPairs" -> VectorOps.cellNearDupPairs(odd, 0.45, nCells = 4),
          "knnJoinCell" -> VectorOps.knnJoinCell(odd, 5, nCells = 4),
          "lshTopK" -> VectorOps.lshTopK(odd, 0L, 10),
          "pqTopKBatch" -> VectorOps.pqTopKBatch(odd, codes, stored,
            Seq(0L, 7L), k = 10))
        results.foreach { case (name, df) =>
          val rows = df.collect()
          assert(rows.nonEmpty, name)
          assert(rows.forall(r => !r.anyNull), s"$name returned a null field")
          assert(rows.forall(r => !r.toSeq.exists(Set[Any](nullId, zeroId))),
            s"$name returned a null or zero-norm row")
        }
      } finally graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    } finally odd.unpersist()
  }
}
