package graft.vis

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** `is_visible(visibility, auths)`: a row's ColumnVisibility label checked
  * against the caller's Authorizations inside the scan, as Accumulo's
  * VisibilityFilter does (SURVEY §1.1 "Visibility") — no pass over the
  * table runs before the query.
  *
  * Labels are policy markings, so a task sees few distinct ones: each is
  * parsed once per task and its verdict memoized (the expression is
  * deserialized per task, so the memo is too; it is concurrent because
  * driver-side evaluation — the optimizer folds filters over local
  * relations — can reach one instance from several threads).
  *
  * null and `""` are visible (Accumulo's empty expression). A label that
  * does not parse is visible to no one, as VisibilityFilter drops a key
  * whose ColumnVisibility it cannot parse.
  *
  * A case class over (child, auths), so two plans under equal auths
  * canonicalize equal and compare `sameResult`: the QueryServer's frame
  * sharing and Spark's cache treat them as one frame. */
case class IsVisible(child: Expression, auths: Set[String]) extends UnaryExpression {

  // input contract: a string label — enforced by the typed call site
  // (IsVisible.column), as MinHashSig does
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "is_visible"

  @transient private lazy val verdicts =
    new java.util.concurrent.ConcurrentHashMap[UTF8String, java.lang.Boolean]()

  /** The verdict for one label (null = unlabeled = visible). */
  def visible(label: UTF8String): Boolean = {
    if (label == null || label.numBytes == 0) return true
    val known = verdicts.get(label)
    if (known != null) return known
    val v = try Visibility.isVisible(label.toString, auths)
      catch { case _: VisParseException => false }
    // the label may point into a reused row buffer: key on a copy
    verdicts.put(label.clone(), v)
    v
  }

  override def eval(input: InternalRow): Any =
    visible(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("isVisible", this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = ${c.isNull} || $self.visible(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IsVisible =
    copy(child = newChild)
}

object IsVisible {
  /** Column wrapper: whether a string label is visible under `auths`. */
  def column(label: Column, auths: Set[String]): Column =
    Shim.column(IsVisible(Shim.expression(label.cast("string")), auths))
}
