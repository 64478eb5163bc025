package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** The native vector expressions behind [[graft.operators.VectorOps]]:
  * normalize, PQ encode, IVF assign (argmax and top-n), LSH signature and
  * cosine. Each is one flat-loop body over `array<double>` children (the
  * column wrappers cast; a cast of a double array is optimized away). The
  * interpreted `eval` and the generated code call the same body — the
  * generated code through a reference to this expression, as
  * [[graft.vis.IsVisible]] does — so there is one implementation per
  * computation.
  *
  * Null semantics, defined here once: a null input, an input holding a
  * null element, or a vector whose length does not fit the parameters
  * gives null — except the LSH signature, which is 0 (every plane's
  * projection is unknown, so no bit is set). Sums fold left to right in
  * doubles, so results are bit-reproducible against any left-folding
  * oracle. Parameters are `Seq`s, so equal parameters give equal plans. */
private[graft] trait VectorExpr extends Expression {

  /** The body over the children's values (`b` is null for one child). */
  def run(a: Any, b: Any): Any

  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = children match {
    case Seq(c) => run(c.eval(input), null)
    case Seq(l, r) => run(l.eval(input), r.eval(input))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("vectorExpr", this)
    val kids = children.map(_.genCode(ctx))
    val args = (kids.map(k => s"${k.isNull} ? null : ${k.value}") ++
      Seq.fill(2 - kids.size)("null")).mkString(", ")
    val r = ctx.freshName("r")
    ev.copy(code = code"""
      ${kids.map(_.code).reduce(_ + _)}
      Object $r = $self.run($args);
      boolean ${ev.isNull} = $r == null;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ?
        ${CodeGenerator.defaultValue(dataType)} : (${CodeGenerator.boxedType(dataType)}) $r;""")
  }
}

private[graft] object VectorExpr {

  /** Σ aᵢ·bᵢ folded left to right — the one dot product every vector
    * computation and scan kernel uses. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  /** An `array<double>` value as a flat array; null when it is null or
    * holds a null element. */
  def doubles(a: Any): Array[Double] = a match {
    case ad: ArrayData =>
      val n = ad.numElements()
      var i = 0
      while (i < n) { if (ad.isNullAt(i)) return null; i += 1 }
      ad.toDoubleArray()
    case _ => null
  }

  /** A vector column as an expression child: the `array<double>` every
    * body reads. */
  def arg(c: Column): Expression = Shim.expression(c.cast("array<double>"))
}

import VectorExpr._

/** x / ‖x‖; a zero vector passes through unchanged. */
case class PqNormalize(child: Expression) extends UnaryExpression with VectorExpr {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_normalize"
  def run(a: Any, b: Any): Any = {
    val v = doubles(a)
    if (v == null) null else new GenericArrayData(PqNormalize.normalize(v))
  }
  override protected def withNewChildInternal(c: Expression): PqNormalize = copy(child = c)
}

object PqNormalize {
  private[graft] def normalize(v: Array[Double]): Array[Double] = {
    val nrm = norm(v)
    if (nrm == 0) v else v.map(_ / nrm)
  }
}

/** Per subspace the argmin-L2 code; ties go to the smaller code. */
case class PqEncode(child: Expression, books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with VectorExpr {
  @transient private lazy val bks = books.map(_.map(_.toArray).toArray).toArray
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  def run(a: Any, b: Any): Any = {
    val v = doubles(a)
    if (v == null || v.length != bks.length * bks(0)(0).length) null
    else new GenericArrayData(PqEncode.encode(v, bks))
  }
  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
}

object PqEncode {
  /** The body, shared with codebook training. */
  private[graft] def encode(v: Array[Double],
                            books: Array[Array[Array[Double]]]): Array[Int] = {
    val dsub = books(0)(0).length
    Array.tabulate(books.length) { j =>
      var best = 0; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < books(j).length) {
        var dd = 0.0; var i = 0
        while (i < dsub) {
          val d = v(j * dsub + i) - books(j)(c)(i); dd += d * d; i += 1
        }
        if (dd < bestD) { bestD = dd; best = c } // ties -> smaller code
        c += 1
      }
      best
    }
  }
}

/** The argmax-dot centroid. Ordering is `java.lang.Double.compare`, so
  * NaN sims are greatest, -0.0 < 0.0, and ties go to the larger cell. */
case class IvfAssign(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression with VectorExpr {
  @transient private lazy val cents = centroids.map(_.toArray).toArray
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ivf_assign"
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  def run(a: Any, b: Any): Any = {
    val v = doubles(a)
    if (v == null || v.length != cents(0).length) null else IvfAssign.assign(v, cents)
  }
  override protected def withNewChildInternal(c: Expression): IvfAssign = copy(child = c)
}

object IvfAssign {
  /** The body, shared with k-means refinement. */
  private[graft] def assign(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestS = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val s = dot(v, cents(c))
      if (java.lang.Double.compare(s, bestS) >= 0) { bestS = s; best = c }
      c += 1
    }
    best
  }
}

/** The `nAssign` best cells, best first, in [[IvfAssign]]'s order. */
case class IvfAssignTop(child: Expression, centroids: Seq[Seq[Double]], nAssign: Int)
    extends UnaryExpression with VectorExpr {
  @transient private lazy val cents = centroids.map(_.toArray).toArray
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_assign_top"
  override protected def stringArgs: Iterator[Any] = Iterator(child, nAssign)
  def run(a: Any, b: Any): Any = {
    val v = doubles(a)
    if (v == null || v.length != cents(0).length) null
    else {
      val sims = cents.map(dot(v, _))
      new GenericArrayData(sims.indices.sortWith { (x, y) =>
        val cmp = java.lang.Double.compare(sims(x), sims(y))
        if (cmp != 0) cmp > 0 else x > y
      }.take(nAssign).toArray)
    }
  }
  override protected def withNewChildInternal(c: Expression): IvfAssignTop = copy(child = c)
}

/** `planes` random-hyperplane sign bits packed into a BIGINT. A plane's
  * bit is set when the projection is not negative (NaN and -0.0 set it);
  * a plane whose length differs from the vector's sets none. */
case class LshSignature(child: Expression, planes: Int, dim: Int)
    extends UnaryExpression with VectorExpr {
  @transient private lazy val mat =
    Array.tabulate(planes, dim)((p, i) => LshSignature.planeComponent(p, i))
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_signature"
  def run(a: Any, b: Any): Any = {
    val v = doubles(a)
    var sig = 0L
    if (v != null) {
      var p = 0
      while (p < planes) {
        if (v.length == dim && !(dot(v, mat(p)) < 0)) sig |= 1L << p
        p += 1
      }
    }
    sig
  }
  override protected def withNewChildInternal(c: Expression): LshSignature = copy(child = c)
}

object LshSignature {
  /** Deterministic hyperplane component for (plane, dim): a value in
    * [-1, 1] from the first 60 bits of md5("plane:dim") — no RNG, so
    * signatures are stable across runs and layouts, and any engine can
    * rebuild the matrix (the ann_lsh oracle does, in DuckDB SQL). */
  private[graft] def planeComponent(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$plane:$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val v = java.lang.Long.parseLong(hex.take(15), 16) // 60 bits, positive
    ((v % 2000001L).toDouble - 1000000.0) / 1000000.0
  }
}

/** a·b / (‖a‖·‖b‖); null when the lengths differ or a norm is zero. */
case class Cosine(left: Expression, right: Expression)
    extends BinaryExpression with VectorExpr {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine"
  def run(a: Any, b: Any): Any = {
    val x = doubles(a); val y = doubles(b)
    if (x == null || y == null || x.length != y.length) null
    else {
      val den = norm(x) * norm(y)
      if (den == 0) null else dot(x, y) / den
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Cosine =
    copy(left = l, right = r)
}
