package graft.event

import graft.SparkSpec
import graft.content.{Analyzer, Content}
import graft.operators.{Edges, Grouping}
import graft.vis.{VisNode, Visibility, VisParseException}
import org.apache.spark.sql.functions._

class VisibilitySpec extends org.scalatest.funsuite.AnyFunSuite {
  test("parse and evaluate Accumulo-style expressions") {
    assert(Visibility.isVisible("A", Set("A")))
    assert(!Visibility.isVisible("A", Set("B")))
    assert(Visibility.isVisible("A|B", Set("B")))
    assert(!Visibility.isVisible("A&B", Set("B")))
    assert(Visibility.isVisible("A&(B|C)", Set("A", "C")))
    assert(!Visibility.isVisible("A&(B|C)", Set("A")))
    assert(Visibility.isVisible("(A&B)|C", Set("C")))
    assert(Visibility.isVisible("", Set.empty)) // empty = public
    assert(Visibility.isVisible("\"a-b.c\"&D", Set("a-b.c", "D")))
  }

  test("mixing & and | without parens is rejected") {
    intercept[VisParseException] { Visibility.parse("A&B|C") }
  }

  test("combine produces conjunction markings") {
    assert(Visibility.combine("A", "") == "A")
    assert(Visibility.combine("A", "A") == "A")
    assert(Visibility.combine("A", "B|C") == "(A)&(B|C)")
    assert(!Visibility.isVisible(Visibility.combine("A", "B"), Set("A")))
    assert(Visibility.isVisible(Visibility.combine("A", "B"), Set("A", "B")))
  }
}

class VisibilityEnforceSpec extends SparkSpec {
  import spark.implicits._

  test("enforce filters rows by session auths") {
    val df = Seq((1, "A"), (2, "A&B"), (3, "A|B"), (4, "C"), (5, ""))
      .toDF("id", "vis")
    val ids = Visibility.enforce(df, "vis", Set("A"))
      .select("id").collect().map(_.getInt(0)).toSet
    assert(ids == Set(1, 3, 5))
  }

  /** A frame whose reads need a job (no local-relation shortcut). */
  private def labelled(rows: (Int, String)*) =
    rows.toDF("id", "vis").repartition(2)

  private def visibleIds(df: org.apache.spark.sql.DataFrame, auths: Set[String]): Set[Int] =
    Visibility.enforce(df, "vis", auths).select("id").collect().map(_.getInt(0)).toSet

  test("null and empty labels are visible") {
    val df = labelled((1, null), (2, ""), (3, "A"), (4, "  "))
    assert(visibleIds(df, Set.empty) == Set(1, 2, 4))
    assert(visibleIds(df, Set("A")) == Set(1, 2, 3, 4))
  }

  test("enforce runs no job") {
    val df = labelled((1, "A"), (2, "B"))
    val (enforced, jobs) = org.apache.spark.graftshim.Jobs.count(spark.sparkContext)(
      Visibility.enforce(df, "vis", Set("A")))
    assert(jobs == 0)
    assert(enforced.select("id").collect().map(_.getInt(0)).toSet == Set(1))
  }

  test("two enforce calls under equal auths plan the same result") {
    val df = labelled((1, "A"), (2, "A&B"), (3, "B|C"))
    def plan(auths: Set[String]) =
      Visibility.enforce(df, "vis", auths).queryExecution.analyzed
    assert(plan(Set("A", "B")).sameResult(plan(Set("B", "A"))))
    assert(!plan(Set("A")).sameResult(plan(Set("B"))))
  }

  test("a label that does not parse is visible to no one and fails no query") {
    val df = labelled((1, "A&B|C"), (2, "A&("), (3, "A"), (4, "(A|B)&C"))
    assert(visibleIds(df, Set("A", "B", "C")) == Set(3, 4))
    assert(visibleIds(df, Set.empty) == Set.empty)
  }
}

class ContentSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "alas poor yorick i knew him well"),
    (2L, "poor alas yorick knew i"),
    (3L, "alas and then much later poor yorick"),
    (4L, "nothing relevant here"))
    .toDF("doc_id", "text")
  private lazy val tf = Content.buildTf(docs)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("tf table has sorted positions") {
    val row = tf.filter(col("doc_id") === 1 && col("term") === "alas").head()
    assert(row.getSeq[Int](row.fieldIndex("positions")).toList == List(0))
  }

  test("phrase requires exact consecutive order") {
    assert(ids(Content.phrase(tf, Seq("alas", "poor", "yorick"))) == Set(1L))
    assert(ids(Content.phrase(tf, Seq("poor", "yorick"))) == Set(1L, 3L))
  }

  test("within allows unordered proximity") {
    assert(ids(Content.within(tf, 2, Seq("alas", "poor"))) == Set(1L, 2L))
    assert(ids(Content.within(tf, 10, Seq("alas", "poor"))) == Set(1L, 2L, 3L))
    // three terms, window must cover max-min
    assert(ids(Content.within(tf, 2, Seq("alas", "poor", "yorick"))) == Set(1L, 2L))
  }

  test("adjacent = within window of k-1") {
    assert(ids(Content.adjacent(tf, Seq("alas", "poor"))) == Set(1L, 2L))
  }

  test("excerpt slices tokens around the hit") {
    val e = Content.excerpt(docs, tf, Seq("poor", "yorick"), window = 1)
      .filter(col("doc_id") === 1).head()
    assert(e.getAs[String]("excerpt") == "alas poor yorick i")
  }

  // Shared-token-index cases ported from the reference evaluator suite
  // (ContentFunctionsTest.java reverse/forward/reverseAll SharedTokenIndex:
  // synonym tokens share an offset, and a phrase step may stay in place
  // when the terms differ — ContentOrderedEvaluator.isWithIn :321-355).
  private def tfOf(rows: (String, Seq[Int])*): org.apache.spark.sql.DataFrame =
    rows.toSeq.map { case (t, ps) => (7L, t, ps) }.toDF("doc_id", "term", "positions")

  test("phrase may share a token index between DIFFERENT terms") {
    val shared = tfOf(
      "a" -> Seq(234, 239, 252, 257, 265, 281, 286, 340, 363, 367),
      "b" -> Seq(212, 229, 252, 272),
      "c" -> Seq(1, 101, 202, 213, 253, 312, 336))
    assert(ids(Content.phrase(shared, Seq("a", "b", "c"))) == Set(7L)) // a@252,b@252,c@253
    val forward = tfOf(
      "a" -> Seq(234, 239, 252, 257, 265, 281, 286, 340, 363, 367),
      "b" -> Seq(212, 229, 252, 272),
      "c" -> Seq(1, 101, 202, 213, 251, 312, 336))
    assert(ids(Content.phrase(forward, Seq("c", "b", "a"))) == Set(7L)) // c@251,b@252,a@252
    val allShared = tfOf(
      "a" -> Seq(234, 239, 252, 257), "b" -> Seq(212, 252), "c" -> Seq(213, 252))
    assert(ids(Content.phrase(allShared, Seq("a", "b", "c"))) == Set(7L)) // all @252
  }

  test("a repeated query term must advance — no double-counting one token") {
    val once = tfOf("x" -> Seq(5))
    assert(ids(Content.phrase(once, Seq("x", "x"))).isEmpty)
    val twice = tfOf("x" -> Seq(5, 6))
    assert(ids(Content.phrase(twice, Seq("x", "x"))) == Set(7L))
  }

  test("excerpt honors the same successor rule as phrase on synonym tf") {
    // Analyzer-built tf: 'fast' is a zero-position-increment synonym of
    // 'quick', so the phrase quick→fast→fox matches only via a SAME-OFFSET
    // step (quick@1, fast@1, fox@2). excerpt() must not silently drop the
    // doc the way a strict p+i offset scan would.
    val synDocs = Seq((11L, "the quick fox runs")).toDF("doc_id", "text")
    val synTf = graft.content.AnalyzedContent.buildTfWith(synDocs,
      Analyzer(synonyms = Map("quick" -> Seq("fast"))))
    val terms = Seq("quick", "fast", "fox")
    assert(ids(Content.phrase(synTf, terms)) == Set(11L))
    val e = Content.excerpt(synDocs, synTf, terms, window = 1).collect()
    assert(e.map(_.getLong(0)).toSet == Set(11L))
    assert(e.head.getAs[Int]("hit_pos") == 1)
    assert(e.head.getAs[String]("excerpt").contains("quick fox"))
  }
}

class EdgesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = Seq(
    (1L, "2024-01-01 10:00:00", 7L, "click", 1.5),
    (2L, "2024-01-01 11:00:00", 7L, "click", 2.5),
    (3L, "2024-01-01 12:00:00", 7L, "view", 1.0),
    (4L, "2024-01-02 09:00:00", 8L, "click", 3.0))
    .toDF("event_id", "ts_s", "user_id", "event_type", "value")
    .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

  private val d = Edges.EdgeDefinition("user_id", "event_type", "UE", "gen")

  test("build aggregates per (source, sink, day)") {
    val e = Edges.build(events, Seq(d), weightCol = Some("value")).collect()
    assert(e.length == 3)
    val c77 = e.find(r => r.getAs[String]("source") == "7" &&
      r.getAs[String]("sink") == "click").get
    assert(c77.getAs[Long]("cnt") == 2)
    assert(c77.getAs[Double]("weight") == 4.0)
  }

  test("JEXL edge query and drillback") {
    val edges = Edges.build(events, Seq(d))
    val q = Edges.query(edges, "EDGE_SOURCE == '7' && EDGE_SINK == 'click'")
    assert(q.count() == 1)
    val back = Edges.drillback(q, events, d)
    assert(back.select("event_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("LIST syntax: bare source values, normalized, qualifier preserved") {
    val edges = Edges.build(events, Seq(d))
    // '7' twice (deduped), a diacritic value that normalizes to nothing
    // present, and a qualified form whose qualifier just rides along
    val hit = Edges.listQuery(edges, "7; 7; Ñope", delimiter = ';')
    assert(hit.select("sink").collect().map(_.getString(0)).toSet ==
      Set("click", "view"))
    assert(Edges.listQuery(edges, "É<qual>").count() == 0)
  }

  test("raw stored vertices match through per-row normalization") {
    val edges = Seq(("Ålice", "x", "T", "r", "2024-01-01", 1L, 1.0))
      .toDF("source", "sink", "edge_type", "relationship", "day", "cnt", "weight")
    assert(Edges.listQuery(edges, "ALICE", storedNormalized = false).count() == 1)
    // a declared-normalized layout takes literals at face value
    assert(Edges.listQuery(edges, "ALICE").count() == 0)
  }

  test("LIST summary collapses per-day rows and filters edge types") {
    val edges = Edges.build(events, Seq(d)) // 7→click(2), 7→view(1), 8→click(1)
    val sum7 = Edges.listQuery(edges, "7, 8", summary = true).collect()
    assert(sum7.length == 3)
    val r = sum7.find(x => x.getAs[String]("source") == "7" &&
      x.getAs[String]("sink") == "click").get
    assert(r.getAs[Long]("total") == 2 && r.getAs[Long]("active_days") == 1)
    assert(Edges.listQuery(edges, "7", edgeTypes = Seq("NOPE")).count() == 0)
  }
}

class GroupingSpec extends SparkSpec {
  import spark.implicits._

  // WiseGuys-style grouped fields: NAME.n paired with AGE.n
  private lazy val long = Seq(
    ("u1", "0", "NAME", "santino"), ("u1", "0", "AGE", "30"),
    ("u1", "1", "NAME", "fredo"), ("u1", "1", "AGE", "34"),
    ("u2", "0", "NAME", "fredo"), ("u2", "0", "AGE", "12"),
    ("u3", "0", "NAME", "santino"), ("u3", "1", "AGE", "34"))
    .toDF("uid", "group", "field", "value")

  test("matchesInGroup requires same-group co-occurrence") {
    val hit = Grouping.matchesInGroup(long, Seq(
      Grouping.FieldMatch.eq("NAME", "fredo"),
      Grouping.FieldMatch("AGE", _.cast("int") > 20)))
    assert(hit.collect().map(_.getString(0)).toSet == Set("u1"))
    // u3 has santino in group 0 but age 34 in group 1 → no match
    val miss = Grouping.matchesInGroup(long, Seq(
      Grouping.FieldMatch.eq("NAME", "santino"),
      Grouping.FieldMatch("AGE", _.cast("int") > 20)))
    assert(miss.collect().map(_.getString(0)).toSet == Set("u1"))
  }

  test("groupByPaired pairs key and value from the same group") {
    val out = Grouping.groupByPaired(long, "NAME", "AGE")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("sum_val")).toMap
    assert(out("santino") == 30.0) // u3's AGE.1 is NOT paired with NAME.0
    assert(out("fredo") == 46.0)   // 34 (u1.1) + 12 (u2.0)
    // no visibility column → no visibility output
    assert(!Grouping.groupByPaired(long, "NAME", "AGE")
      .columns.contains("visibility"))
  }

  test("groupByPaired recombines member markings when the frame is marked") {
    // fredo group: u1.1 rows marked A (name) / B (age), u2.0 rows both A
    // → the group's marking must require A AND B AND the pair conjunction
    val marked = Seq(
      ("u1", "1", "NAME", "fredo", "A"), ("u1", "1", "AGE", "34", "B"),
      ("u2", "0", "NAME", "fredo", "A"), ("u2", "0", "AGE", "12", "A"))
      .toDF("uid", "group", "field", "value", "visibility")
    val row = Grouping.groupByPaired(marked, "NAME", "AGE")
      .filter(col("group_key") === "fredo").head()
    // distinct pair markings: (A)&(B) from u1, A from u2 — sorted, joined
    assert(row.getAs[String]("visibility") == "((A)&(B))&A")
  }
}
