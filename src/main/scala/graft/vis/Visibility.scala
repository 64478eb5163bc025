package graft.vis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Accumulo-style column visibility expressions: `A&(B|C)`, quoted terms,
  * `&`/`|` with parentheses (reference: every key carries a
  * ColumnVisibility, filtered server-side against user Authorizations;
  * markings recombined by MarkingFunctions — SURVEY.md §1.1).
  *
  * Empty expression = visible to everyone (Accumulo semantics).
  */
sealed trait VisNode
object VisNode {
  final case class Term(auth: String) extends VisNode
  final case class And(children: List[VisNode]) extends VisNode
  final case class Or(children: List[VisNode]) extends VisNode
}

final class VisParseException(msg: String) extends RuntimeException(msg)

object Visibility {

  /** Parse `A&(B|C)` style expression. Grammar (same precedence rules as
    * Accumulo's ColumnVisibility: `&` and `|` cannot be mixed without
    * parentheses). */
  def parse(expr: String): Option[VisNode] = {
    val trimmed = expr.trim
    if (trimmed.isEmpty) None
    else {
      val p = new VisParser(trimmed)
      val n = p.parseExpr()
      if (!p.eof) throw new VisParseException(s"trailing input in '$expr'")
      Some(n)
    }
  }

  def evaluate(node: VisNode, auths: Set[String]): Boolean = node match {
    case VisNode.Term(a) => auths.contains(a)
    case VisNode.And(cs) => cs.forall(evaluate(_, auths))
    case VisNode.Or(cs) => cs.exists(evaluate(_, auths))
  }

  /** True iff `expr` is visible under `auths`. */
  def isVisible(expr: String, auths: Set[String]): Boolean =
    parse(expr).forall(evaluate(_, auths))

  /** Least-upper-bound combination of two visibility expressions for
    * aggregated results (GroupingUtils/MarkingFunctions analog): a reader
    * must satisfy BOTH inputs → conjunction. */
  def combine(a: String, b: String): String = (a.trim, b.trim) match {
    case ("", x) => x
    case (x, "") => x
    case (x, y) if x == y => x
    case (x, y) => s"($x)&($y)"
  }

  /** Column-level [[combine]]: conjunction of two per-row markings (used
    * when one logical result row is assembled from two marked rows, e.g.
    * grouping-context pairing joins a key row to a value row). Same
    * identity/idempotence rules as the String form. */
  def combineCols(a: Column, b: Column): Column = {
    val ta = trim(a)
    val tb = trim(b)
    when(ta.isNull || ta === "", tb)
      .when(tb.isNull || tb === "", ta)
      .when(ta === tb, ta)
      .otherwise(concat(lit("("), ta, lit(")&("), tb, lit(")")))
  }

  /** Aggregate recombination of member markings for grouped results
    * (MarkingFunctions.combine / GroupingUtils analog): a reader of an
    * aggregated row must satisfy EVERY contributing row's marking, so the
    * distinct expressions conjoin — the visibility lattice join. Rendered
    * deterministically (compound expressions parenthesized, sorted,
    * '&'-joined) so engines agree byte-for-byte; empty/null markings are
    * the lattice identity (visible to everyone) and drop out. */
  def combineAgg(visCol: Column): Column = {
    val wrapped = when(visCol.rlike("[&|]"),
        concat(lit("("), visCol, lit(")")))
      .otherwise(visCol)
    array_join(
      array_sort(collect_set(when(length(trim(visCol)) > 0, wrapped))), "&")
  }

  /** Visibility filter for a DataFrame: keeps the rows whose `visCol`
    * label is visible under `auths`, evaluated in the scan by
    * [[IsVisible]]. Lazy — nothing runs until the frame does. */
  def enforce(df: DataFrame, visCol: String, auths: Set[String]): DataFrame =
    df.filter(IsVisible.column(col(visCol), auths))
}

private final class VisParser(input: String) {
  private var pos = 0
  def eof: Boolean = pos >= input.length
  private def peek: Char = input(pos)

  def parseExpr(): VisNode = {
    val first = parseTermOrParen()
    if (eof || (peek != '&' && peek != '|')) return first
    val op = peek
    val children = scala.collection.mutable.ListBuffer(first)
    while (!eof && (peek == '&' || peek == '|')) {
      if (peek != op)
        throw new VisParseException(s"cannot mix & and | without parens in '$input'")
      pos += 1
      children += parseTermOrParen()
    }
    if (op == '&') VisNode.And(children.toList) else VisNode.Or(children.toList)
  }

  private def parseTermOrParen(): VisNode = {
    if (eof) throw new VisParseException(s"unexpected end of '$input'")
    if (peek == '(') {
      pos += 1
      val n = parseExpr()
      if (eof || peek != ')') throw new VisParseException(s"missing ) in '$input'")
      pos += 1
      n
    } else if (peek == '"') {
      pos += 1
      val sb = new StringBuilder
      while (!eof && peek != '"') {
        if (peek == '\\' && pos + 1 < input.length) pos += 1
        sb += input(pos); pos += 1
      }
      if (eof) throw new VisParseException(s"unterminated quote in '$input'")
      pos += 1
      VisNode.Term(sb.toString)
    } else {
      val start = pos
      while (!eof && (peek.isLetterOrDigit || peek == '_' || peek == '-' ||
        peek == '.' || peek == ':' || peek == '/')) pos += 1
      if (pos == start) throw new VisParseException(s"expected auth token at $pos in '$input'")
      VisNode.Term(input.substring(start, pos))
    }
  }
}
