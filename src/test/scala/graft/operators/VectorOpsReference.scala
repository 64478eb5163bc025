package graft.operators

import graft.functions.LshSignature
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative references for the native vector expressions: each
  * computation written with Spark's higher-order functions (`zip_with`,
  * `aggregate`, `array_max`/`array_min` over structs), the same shape the
  * DuckDB oracles replay. VectorOpsSpec pins the src/main expressions
  * bit-equal to these on real data and on synthetic edge rows. */
object VectorOpsReference {

  /** Σ aᵢ·bᵢ as a sequential left fold in doubles. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Σ aᵢ·bᵢ statically expanded for a known dimension: a flat chain of
    * `element_at` products that stays in whole-stage codegen, summed in
    * [[dot]]'s order. */
  def dotN(a: Column, b: Column, dim: Int): Column =
    (0 until dim).map { i =>
      element_at(a, i + 1).cast("double") * element_at(b, i + 1).cast("double")
    }.reduce(_ + _)

  /** Pure-Catalyst all-pairs cosine near-dup (BNLJ + [[dotN]]). */
  def cosineNearDupPairsSql(emb: DataFrame, threshold: Double): DataFrame = {
    val dim = VectorOps.embDim(emb)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
        sqrt(dotN(col("embedding"), col("embedding"), dim)).as("nrm"))
      .persist()
    val a = withNorm.select(col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = withNorm.select(col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .filter(dotN(col("emb_a"), col("emb_b"), dim) >=
        lit(threshold) * col("nrm_a") * col("nrm_b"))
      .select("id_a", "id_b")
  }

  def lshSignature(vec: Column, planes: Int, dim: Int): Column = {
    val mat = typedLit((0 until planes).map(p =>
      (0 until dim).map(i => LshSignature.planeComponent(p, i))))
    val bits = zip_with(mat, sequence(lit(0), lit(planes - 1)),
      (plane, p) => {
        val proj = aggregate(zip_with(vec, plane,
          (x, w) => x.cast("double") * w), lit(0.0), (acc, x) => acc + x)
        when(proj >= 0, call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))
      })
    aggregate(bits, lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** (sim, cell) per centroid. */
  private def scored(vec: Column, centroids: Seq[Seq[Double]]): Column =
    zip_with(typedLit(centroids), sequence(lit(0), lit(centroids.size - 1)),
      (centroid, c) => struct(
        aggregate(zip_with(vec, centroid, (x, w) => x.cast("double") * w),
          lit(0.0), (acc, x) => acc + x).as("sim"),
        c.as("cell")))

  def ivfAssign(vec: Column, centroids: Seq[Seq[Double]]): Column =
    array_max(scored(vec, centroids)).getField("cell")

  def ivfAssignTop(vec: Column, centroids: Seq[Seq[Double]],
                   nAssign: Int): Column =
    transform(slice(reverse(array_sort(scored(vec, centroids))), 1, nAssign),
      s => s.getField("cell"))

  def pqNormalize(vec: Column): Column = {
    val norm = sqrt(aggregate(vec, lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double")))
    transform(vec,
      x => when(norm === 0.0, x.cast("double"))
        .otherwise(x.cast("double") / norm))
  }

  def pqEncode(vn: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val dsub = codebooks.head.head.size
    array(codebooks.indices.map { j =>
      val sub = slice(vn, j * dsub + 1, dsub)
      val scored = zip_with(typedLit(codebooks(j)),
        sequence(lit(0), lit(codebooks(j).size - 1)),
        (cen, c) => struct(
          aggregate(zip_with(sub, cen, (x, w) => (x - w) * (x - w)),
            lit(0.0), (acc, x) => acc + x).as("dist"),
          c.as("c")))
      array_min(scored).getField("c")
    }: _*)
  }
}
