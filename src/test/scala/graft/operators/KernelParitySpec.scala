package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The r13 optimization round moved the PQ/IVF corpus passes (normalize,
  * cell assign, encode) from interpreted HOF expressions into flat-loop
  * kernels (guide §4). Index bytes, search shortlists and every recall
  * gate's booleans stay identical ONLY if the kernels replicate the
  * expressions' IEEE evaluation order and tie-breaks bit-for-bit — this
  * spec pins that parity row-for-row on real data (sf0.001 embeddings)
  * plus the synthetic edge rows the corpus never exercises (zero vector,
  * exact centroid ties). */
class KernelParitySpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sf001/embeddings.parquet")

  test("normalizeKernel is bit-equal to the pqNormalize expression (incl. the zero vector)") {
    val withZero = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((100000L, Array.fill(64)(0.0f)))
        .toDF("vec_id", "embedding"))
    val viaExpr = withZero
      .select(col("vec_id"), VectorOps.pqNormalize(col("embedding")).as("nv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaKernel = VectorOps.pqNormalized(withZero)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(viaKernel.keySet == viaExpr.keySet)
    viaExpr.foreach { case (id, e) =>
      val k = viaKernel(id)
      assert(k.size == e.size && k.indices.forall(i =>
        java.lang.Double.doubleToRawLongBits(k(i)) ==
          java.lang.Double.doubleToRawLongBits(e(i))), s"vec $id differs")
    }
  }

  test("pqEncodeKernel is bit-equal to the pqEncode expression on trained books") {
    val books = VectorOps.pqCodebooks(emb, m = 8, codeK = 16, iters = 2)
    val normed = VectorOps.pqNormalized(emb).persist()
    try {
      val viaExpr = normed
        .select(col("vec_id"), VectorOps.pqEncode(col("nv"), books).as("code"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val b = books.map(_.map(_.toArray).toArray).toArray
      val viaKernel = normed.as[(Long, Array[Double])]
        .collect().map { case (id, v) =>
          id -> VectorOps.pqEncodeKernel(v, b).toSeq }.toMap
      assert(viaKernel == viaExpr)
    } finally normed.unpersist()
  }

  // Synthetic edge rows assert kernel == EXPRESSION on the same input —
  // not kernel == hardcoded expectation — so a wrong assumption about the
  // expression's tie behavior cannot pass silently (ADVICE r13).
  private def exprEncode(v: Seq[Double],
                         books: Seq[Seq[Seq[Double]]]): Seq[Int] =
    Seq(Tuple1(v)).toDF("nv")
      .select(VectorOps.pqEncode(col("nv"), books).as("code"))
      .head().getSeq[Int](0)

  private def exprAssign(v: Seq[Double], cents: Seq[Seq[Double]]): Int =
    Seq(Tuple1(v)).toDF("v")
      .select(VectorOps.ivfAssign(col("v"), cents).as("cell"))
      .head().getInt(0)

  private def exprAssignTop(v: Seq[Double], cents: Seq[Seq[Double]],
                            n: Int): Seq[Int] =
    Seq(Tuple1(v)).toDF("v")
      .select(VectorOps.ivfAssignTop(col("v"), cents, n).as("cells"))
      .head().getSeq[Int](0)

  test("pqEncodeKernel matches the expression on an exact tie (equidistant centroids)") {
    // one subspace of dim 2, two centroids equidistant from the probe
    val books = Seq(Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0)))
    val v = Seq(0.0, 5.0)
    val viaExpr = exprEncode(v, books)
    val viaKernel = VectorOps.pqEncodeKernel(v.toArray,
      books.map(_.map(_.toArray).toArray).toArray).toSeq
    assert(viaKernel == viaExpr)
    assert(viaExpr == Seq(0)) // ties -> smaller code
  }

  test("ivfAssignKernel is bit-equal to the ivfAssign expression on kmeans centroids") {
    val cents = VectorOps.kmeansCentroids(emb, nCells = 16, iters = 2)
    val viaExpr = emb
      .select(col("vec_id"),
        VectorOps.ivfAssign(col("embedding").cast("array<double>"), cents)
          .as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ca = cents.map(_.toArray).toArray
    val viaKernel = emb
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .collect().map { case (id, v) =>
        id -> VectorOps.ivfAssignKernel(v, ca) }.toMap
    assert(viaKernel == viaExpr)
  }

  test("ivfAssignKernel matches the expression on an exact tie (equal dot)") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val ca = cents.map(_.toArray).toArray
    // v equidistant from both centroids: dot = 1.0 each
    val v = Seq(1.0, 1.0)
    assert(VectorOps.ivfAssignKernel(v.toArray, ca) == exprAssign(v, cents))
    assert(exprAssign(v, cents) == 1) // ties -> larger cell
  }

  test("ivfAssignKernel matches array_max's double ordering on NaN and ±0.0 sims") {
    // NaN sims: array_max's struct ordering is NaN-greatest — all sims
    // NaN ties to the LARGER cell (ADVICE r13: a primitive >= never
    // selects NaN; the kernel uses java.lang.Double.compare)
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.5, 0.5))
    val ca = cents.map(_.toArray).toArray
    val nan = Seq(Double.NaN, 1.0)
    assert(VectorOps.ivfAssignKernel(nan.toArray, ca) == exprAssign(nan, cents))
    // ±0.0: Double.compare orders -0.0 < 0.0 while primitive >= treats
    // them equal — v picked so cell 0 scores 0.0 and cell 1 scores -0.0
    val zc = Seq(Seq(0.0, 1.0), Seq(0.0, -1.0))
    val zca = zc.map(_.toArray).toArray
    val vz = Seq(-1.0, 0.0)
    assert(VectorOps.ivfAssignKernel(vz.toArray, zca) == exprAssign(vz, zc))
  }

  test("ivfAssignTopKernel is bit-equal to the ivfAssignTop expression (order included)") {
    val cents = VectorOps.ivfCentroids(emb, 16)
    val viaExpr = emb
      .select(col("vec_id"),
        VectorOps.ivfAssignTop(col("embedding"), cents, 3).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val ca = cents.map(_.toArray).toArray
    val viaKernel = emb
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .collect().map { case (id, v) =>
        id -> VectorOps.ivfAssignTopKernel(v, ca, 3).toSeq }.toMap
    assert(viaKernel == viaExpr)
  }

  test("ivfAssignTopKernel tie order matches the expression: equal sims -> larger cell first") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.5, 0.5))
    val ca = cents.map(_.toArray).toArray
    // v = (1,1): dots = 1.0, 1.0, 1.0 — all tied
    val v = Seq(1.0, 1.0)
    val viaExpr = exprAssignTop(v, cents, 2)
    assert(VectorOps.ivfAssignTopKernel(v.toArray, ca, 2).toSeq == viaExpr)
    assert(viaExpr == Seq(2, 1)) // reverse(array_sort): larger cell first
  }

  test("the LSH signature kernel is bit-equal to the lshSignature expression") {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val withNull = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((100000L, null: Array[Float])).toDF("vec_id", "embedding"))
    val viaExpr = withNull
      .select(col("vec_id"),
        VectorOps.lshSignature(col("embedding"), planes = 32, dim).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaKernel = VectorOps.lshSigned(withNull, planes = 32, dim)
      .select("vec_id", "sig")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaKernel == viaExpr)
    assert(viaKernel(100000L) == 0L)
  }

  test("lshSigKernel edge rows: zero vector, NaN component, length mismatch") {
    val mat = Array.tabulate(4, 3)((p, i) =>
      VectorOps.planeComponent(p, i))
    def exprSig(v: Seq[Float]): Long =
      Seq(Tuple1(v)).toDF("v")
        .select(VectorOps.lshSignature(col("v"), planes = 4, dim = 3).as("s"))
        .head().getLong(0)
    for (v <- Seq(Seq(0.0f, 0.0f, 0.0f), Seq(Float.NaN, 1.0f, 2.0f),
                  Seq(1.0f, -2.0f))) {
      val dv = v.map(_.toDouble).toArray
      assert(VectorOps.lshSigKernel(dv, mat) == exprSig(v), s"edge row $v")
    }
  }

  test("the brute-force kernel sims are bit-equal to the cosine expression") {
    val probeIds = Seq(0L, 7L, 42L)
    val fetched = emb.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaKernel = VectorOps.bruteForceTopKBatch(emb, probeIds, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // expression replica of the old crossJoin + HOF-cosine leg
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id").asc)
    val probesDf = probeIds.map(p => p -> fetched(p)).toDF("probe_id", "pvec")
    val viaExpr = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(probesDf))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim", VectorOps.cosine(col("embedding"), col("pvec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("probe_id"), col("vec_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaKernel.keySet == viaExpr.keySet)
    viaExpr.foreach { case (k2, e) =>
      assert(java.lang.Double.doubleToRawLongBits(viaKernel(k2)) ==
        java.lang.Double.doubleToRawLongBits(e), s"$k2 differs")
    }
  }

  test("a written PQ index round-trips identical codes through the kernel path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kparity").toString
    try {
      val books = VectorOps.pqWriteIndex(emb, dir, m = 8, codeK = 16, iters = 1)
      val (codes, storedBooks) = VectorOps.pqReadIndex(spark, dir)
      assert(storedBooks == books)
      val normed = VectorOps.pqNormalized(emb)
      val viaExpr = normed
        .select(col("vec_id"), VectorOps.pqEncode(col("nv"), books).as("code"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val stored = codes.collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(stored == viaExpr)
    } finally graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
