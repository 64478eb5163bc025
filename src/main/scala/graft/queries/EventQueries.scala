package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.content.{Content, ContentStore}
import graft.operators.{Edges, Grouping}
import graft.vis.Visibility

/** Event-model operators: visibility enforcement, edge graph, TF/content
  * positions, grouping-context co-occurrence — the DataWave-specific
  * surface (SURVEY.md §2.1-§2.3, §3.2).
  */
object EventQueries {

  /** Deterministic synthetic visibility per event_type (the driver tables
    * carry no markings; policy labels are derived so the real parser/
    * evaluator path is exercised end-to-end). */
  private[queries] def withVisibility(events: DataFrame): DataFrame =
    events.withColumn("visibility",
      when(col("event_type") === "click", "A")
        .when(col("event_type") === "view", "A|B")
        .when(col("event_type") === "purchase", "A&B")
        .when(col("event_type") === "signup", "C")
        .otherwise("(A&B)|C"))

  /** Visibility-filtered scan under auths {A}: Accumulo-style boolean
    * expressions checked in the scan by the codegen'd `is_visible`
    * predicate, each distinct marking parsed once per task (SURVEY §1.1
    * ColumnVisibility mapping). */
  def visibilityFilter(s: SparkSession, d: String): DataFrame =
    Visibility.enforce(withVisibility(Tables.events(s, d)),
        "visibility", Set("A"))
      .select("event_id", "event_type", "visibility")

  private val userEvent = Edges.EdgeDefinition(
    "user_id", "event_type", "USER_EVENT", "generated")

  /** Edge construction from event field pairs. */
  def edgeBuild(s: SparkSession, d: String): DataFrame =
    Edges.build(Tables.events(s, d), Seq(userEvent), weightCol = Some("value"))

  /** Edge build under a JEXL precondition + vertex denylist
    * (EdgePreconditionJexlEvaluation + per-definition denylisted values):
    * only purchase/click events generate edges, and user '42' never
    * becomes a vertex. */
  def edgeBuildFiltered(s: SparkSession, d: String): DataFrame =
    Edges.build(Tables.events(s, d), Seq(userEvent.copy(
        precondition = Some("EVENT_TYPE == 'purchase' || EVENT_TYPE == 'click'"),
        denylist = Set("42"))),
      weightCol = Some("value"))

  /** Edge query via JEXL over EDGE_* fields. */
  def edgeQuery(s: SparkSession, d: String): DataFrame =
    Edges.query(edgeBuild(s, d),
      "EDGE_SOURCE == '42' && EDGE_TYPE == 'USER_EVENT'")

  /** STATS/ACTIVITY rollups. */
  def edgeStats(s: SparkSession, d: String): DataFrame =
    Edges.activityStats(edgeBuild(s, d))

  /** Edge dictionary (`/EdgeDictionary`): the deployment's edge catalog —
    * definitions with generating field pair plus observed stats. */
  def edgeDictionary(s: SparkSession, d: String): DataFrame =
    Edges.dictionary(edgeBuild(s, d), Seq(userEvent))

  /** Extended edge query, LIST syntax + summary output
    * (DefaultExtendedEdgeQueryLogic): two bare source values, no field
    * names; per-day edges collapse to per-edge summaries. */
  def edgeListSummary(s: SparkSession, d: String): DataFrame =
    Edges.listQuery(edgeBuild(s, d), "42, 7",
      edgeTypes = Seq("USER_EVENT"), summary = true)

  /** Edge→event drill-back for busy edges (cnt ≥ 4). */
  def edgeDrillback(s: SparkSession, d: String): DataFrame =
    Edges.drillback(edgeBuild(s, d).filter(col("cnt") >= 4),
        Tables.events(s, d), userEvent)
      .select("event_id", "user_id", "event_type")

  /** content:phrase over the tf position table (exact ordered offsets). */
  def tfPhrase(s: SparkSession, d: String): DataFrame =
    Content.phrase(Content.buildTf(Tables.documents(s, d)),
      Seq("fast", "scan"))

  /** content:within — two terms within 3 positions, unordered. */
  def tfWithin(s: SparkSession, d: String): DataFrame =
    Content.within(Content.buildTf(Tables.documents(s, d)), 3,
      Seq("join", "merge"))

  /** content:adjacent — terms in adjacent positions (window = k−1).
    * ('part','filter' co-occurs adjacently at every SF, so the gate
    * proves inclusion, not just exclusion.) */
  def tfAdjacent(s: SparkSession, d: String): DataFrame =
    Content.adjacent(Content.buildTf(Tables.documents(s, d)),
      Seq("part", "filter"))

  /** content:scoredPhrase — phrase + per-term score (tf) ≥ 2. */
  def tfScoredPhrase(s: SparkSession, d: String): DataFrame =
    Content.scoredPhrase(Content.buildTfScored(Tables.documents(s, d)),
      minScore = 2, Seq("fast", "scan"))

  /** Excerpt around the first phrase hit (ExcerptTransform analog). */
  def tfExcerpt(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Content.excerpt(docs, Content.buildTf(docs), Seq("fast", "scan"), window = 3)
      .select(col("doc_id"), col("hit_pos").cast("long").as("hit_pos"),
        col("excerpt"))
  }

  /** grouping:matchesInGroup over a long-format view: lineitem line
    * numbers as group instances of the order document (RETURNFLAG.n /
    * QUANTITY.n) — all conditions must hit within the SAME group. */
  def groupingMatches(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val long = li.select(col("l_orderkey").as("uid"),
        col("l_linenumber").cast("string").as("group"),
        lit("RETURNFLAG").as("field"), col("l_returnflag").as("value"))
      .unionAll(li.select(col("l_orderkey").as("uid"),
        col("l_linenumber").cast("string").as("group"),
        lit("QUANTITY").as("field"), col("l_quantity").cast("string").as("value")))
    Grouping.matchesInGroup(long, Seq(
      Grouping.FieldMatch.eq("RETURNFLAG", "R"),
      Grouping.FieldMatch("QUANTITY", _.cast("double") > 45)))
  }

  /** #GROUPBY with grouping-context pairing: group by same-line
    * RETURNFLAG, aggregate same-line QUANTITY. */
  def groupingPairedAgg(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val long = li.select(col("l_orderkey").as("uid"),
        col("l_linenumber").cast("string").as("group"),
        lit("RETURNFLAG").as("field"), col("l_returnflag").as("value"))
      .unionAll(li.select(col("l_orderkey").as("uid"),
        col("l_linenumber").cast("string").as("group"),
        lit("QUANTITY").as("field"), col("l_quantity").cast("string").as("value")))
    Grouping.groupByPaired(long, "RETURNFLAG", "QUANTITY")
  }

  /** #GROUPBY over a marked frame carries a recombined visibility column
    * (GroupingUtils / MarkingFunctions.combine analog): the group's
    * marking is the conjunction of its members' distinct markings —
    * compound expressions parenthesized, sorted, '&'-joined — so a reader
    * of the aggregate must satisfy every contributing row's marking. */
  def groupingVis(s: SparkSession, d: String): DataFrame = {
    val logic = new graft.query.ShardQueryLogic(
      policy = graft.jexl.QueryPolicy(fullTableScanEnabled = true))
    logic.query(withVisibility(Tables.events(s, d)),
        "(EVENT_TYPE == 'click' || EVENT_TYPE == 'purchase' || EVENT_TYPE == 'signup')" +
          " && VALUE > 90 && f:groupby('USER_ID')",
        graft.query.QueryParams())
      .select(col("user_id"), col("COUNT").as("cnt"),
        col("VISIBILITY").as("visibility"))
  }

  /** ContentQueryLogic fetch: `DOCUMENT:shardId/datatype/uid` terms seek
    * straight to the stored documents; response decodes the bytes. */
  def contentFetch(s: SparkSession, d: String): DataFrame = {
    val ct = ContentStore.contentTable(Tables.documents(s, d))
    val refs = ContentStore.parseDocumentQuery(
      "DOCUMENT:s01/document/3 DOCUMENT:s01/document/7 DOCUMENT:s02/document/11")
    ContentStore.decoded(ContentStore.fetchByRefs(ct, refs))
      .select(col("uid"), col("view_name"), col("text"),
        col("content_length").cast("long").as("content_length"))
  }

  /** TermFrequencyQueryTable: direct tf section lookup for a document
    * set — one row per (doc, term, position), no corpus tf build. */
  def tfLookup(s: SparkSession, d: String): DataFrame =
    Content.tfLookup(Tables.documents(s, d), Seq(0L, 2L, 4L))
      .withColumn("pos", col("pos").cast("long"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "content_fetch" -> contentFetch _,
    "tf_lookup" -> tfLookup _,
    "vis_filter" -> visibilityFilter _,
    "edge_build" -> edgeBuild _,
    "edge_build_filtered" -> edgeBuildFiltered _,
    "edge_query" -> edgeQuery _,
    "edge_stats" -> edgeStats _,
    "edge_dictionary" -> edgeDictionary _,
    "edge_list_summary" -> edgeListSummary _,
    "edge_drillback" -> edgeDrillback _,
    "tf_phrase" -> tfPhrase _,
    "tf_within" -> tfWithin _,
    "tf_adjacent" -> tfAdjacent _,
    "tf_scored_phrase" -> tfScoredPhrase _,
    "tf_excerpt" -> tfExcerpt _,
    "grouping_matches" -> groupingMatches _,
    "grouping_paired_agg" -> groupingPairedAgg _,
    "grouping_vis" -> groupingVis _,
  )

  private val edgeSql =
    """SELECT CAST(user_id AS VARCHAR) AS source, event_type AS sink,
      |   'USER_EVENT' AS edge_type, 'generated' AS relationship,
      |   strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt,
      |   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS weight
      | FROM events GROUP BY 1, 2, 3, 4, 5""".stripMargin

  private val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
  private val posSql =
    s"""(SELECT doc_id, unnest(toks) AS term, unnest(range(0, len(toks))) AS pos
       | FROM (SELECT doc_id, $toksSql AS toks FROM documents))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "content_fetch" ->
      """SELECT CAST(doc_id AS VARCHAR) AS uid, 'RAW' AS view_name, text,
        |   CAST(length(text) AS BIGINT) AS content_length
        | FROM documents WHERE doc_id IN (3, 7, 11)""".stripMargin,
    "tf_lookup" ->
      s"SELECT doc_id, term, pos FROM $posSql WHERE doc_id IN (0, 2, 4)",
    "vis_filter" ->
      """SELECT event_id, event_type,
        |   CASE event_type WHEN 'click' THEN 'A' WHEN 'view' THEN 'A|B'
        |     WHEN 'purchase' THEN 'A&B' WHEN 'signup' THEN 'C'
        |     ELSE '(A&B)|C' END AS visibility
        | FROM events WHERE event_type IN ('click', 'view')""".stripMargin,
    "grouping_vis" ->
      """SELECT user_id, count(*) AS cnt,
        |   string_agg(DISTINCT vis_w, '&' ORDER BY vis_w) AS visibility
        | FROM (SELECT user_id,
        |         CASE event_type WHEN 'click' THEN 'A'
        |           WHEN 'purchase' THEN '(A&B)' WHEN 'signup' THEN 'C'
        |         END AS vis_w
        |       FROM events
        |       WHERE event_type IN ('click', 'purchase', 'signup')
        |         AND value > 90)
        | GROUP BY user_id""".stripMargin,
    "edge_build" -> edgeSql,
    "edge_build_filtered" ->
      """SELECT CAST(user_id AS VARCHAR) AS source, event_type AS sink,
        |   'USER_EVENT' AS edge_type, 'generated' AS relationship,
        |   strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt,
        |   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS weight
        | FROM events
        | WHERE event_type IN ('purchase', 'click')
        |   AND CAST(user_id AS VARCHAR) <> '42' AND event_type <> '42'
        | GROUP BY 1, 2, 3, 4, 5""".stripMargin,
    "edge_query" ->
      s"SELECT * FROM ($edgeSql) WHERE source = '42' AND edge_type = 'USER_EVENT'",
    "edge_stats" ->
      s"""SELECT source, day, CAST(SUM(cnt) AS BIGINT) AS activity,
         |   COUNT(DISTINCT sink) AS distinct_sinks
         | FROM ($edgeSql) GROUP BY source, day""".stripMargin,
    "edge_dictionary" ->
      s"""SELECT 'USER_EVENT' AS edge_type, 'generated' AS relationship,
         |   'user_id' AS source_field, 'event_type' AS sink_field,
         |   CAST(SUM(cnt) AS BIGINT) AS edge_count,
         |   MIN(day) AS first_day, MAX(day) AS last_day
         | FROM ($edgeSql)""".stripMargin,
    "edge_list_summary" ->
      s"""SELECT source, sink, edge_type, relationship,
         |   CAST(SUM(cnt) AS BIGINT) AS total,
         |   COUNT(*) AS active_days,
         |   MIN(day) AS first_day, MAX(day) AS last_day
         | FROM ($edgeSql)
         | WHERE source IN ('42', '7') AND edge_type = 'USER_EVENT'
         | GROUP BY 1, 2, 3, 4""".stripMargin,
    "edge_drillback" ->
      s"""SELECT event_id, user_id, event_type FROM events e
         | JOIN (SELECT * FROM ($edgeSql) WHERE cnt >= 4) g
         |   ON CAST(e.user_id AS VARCHAR) = g.source
         |  AND e.event_type = g.sink
         |  AND strftime(e.ts, '%Y-%m-%d') = g.day""".stripMargin,
    "tf_phrase" ->
      s"""SELECT DISTINCT a.doc_id FROM $posSql a JOIN $posSql b
         |   ON a.doc_id = b.doc_id
         | WHERE a.term = 'fast' AND b.term = 'scan' AND b.pos = a.pos + 1""".stripMargin,
    "tf_within" ->
      s"""SELECT DISTINCT a.doc_id FROM $posSql a JOIN $posSql b
         |   ON a.doc_id = b.doc_id
         | WHERE a.term = 'join' AND b.term = 'merge' AND abs(a.pos - b.pos) <= 3""".stripMargin,
    "tf_adjacent" ->
      s"""SELECT DISTINCT a.doc_id FROM $posSql a JOIN $posSql b
         |   ON a.doc_id = b.doc_id
         | WHERE a.term = 'part' AND b.term = 'filter' AND abs(a.pos - b.pos) <= 1""".stripMargin,
    "tf_scored_phrase" ->
      s"""WITH pos AS (SELECT * FROM $posSql),
         |tfc AS (SELECT doc_id, term, count(*) AS c FROM pos GROUP BY 1, 2)
         |SELECT DISTINCT a.doc_id FROM pos a
         | JOIN pos b ON a.doc_id = b.doc_id
         | JOIN tfc fa ON fa.doc_id = a.doc_id AND fa.term = 'fast'
         | JOIN tfc fb ON fb.doc_id = a.doc_id AND fb.term = 'scan'
         | WHERE a.term = 'fast' AND b.term = 'scan' AND b.pos = a.pos + 1
         |   AND fa.c >= 2 AND fb.c >= 2""".stripMargin,
    "tf_excerpt" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |hits AS (
         |  SELECT a.doc_id, MIN(a.pos) AS hit_pos FROM $posSql a JOIN $posSql b
         |     ON a.doc_id = b.doc_id
         |   WHERE a.term = 'fast' AND b.term = 'scan' AND b.pos = a.pos + 1
         |   GROUP BY a.doc_id)
         |SELECT h.doc_id, h.hit_pos,
         |  array_to_string(t.toks[greatest(CAST(h.hit_pos AS INT) - 2, 1) :
         |    greatest(CAST(h.hit_pos AS INT) - 2, 1) + 7], ' ') AS excerpt
         | FROM hits h JOIN toks t ON t.doc_id = h.doc_id""".stripMargin,
    // group semantics, not row semantics: a group (order line number) can
    // hold several field instances, so conditions may be satisfied by
    // different rows of the SAME group — hence the self-join oracle.
    "grouping_matches" ->
      """SELECT DISTINCT a.l_orderkey AS uid FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
        | WHERE a.l_returnflag = 'R' AND b.l_quantity > 45""".stripMargin,
    "grouping_paired_agg" ->
      """SELECT a.l_returnflag AS group_key, count(*) AS cnt,
        |   CAST(SUM(CAST(CAST(b.l_quantity AS VARCHAR) AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
        |   MIN(CAST(CAST(b.l_quantity AS VARCHAR) AS DOUBLE)) AS min_val,
        |   MAX(CAST(CAST(b.l_quantity AS VARCHAR) AS DOUBLE)) AS max_val
        | FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
        | GROUP BY 1""".stripMargin,
  )
}
