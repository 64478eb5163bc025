package graft.query

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** Thin HTTP façade over the query lifecycle — the REST tier of the
  * reference (QueryExecutorBean.java:616-1383 create/next/close/plan)
  * re-expressed over the library: [[ShardQueryLogic]] plans,
  * [[QueryCursor]]+[[RunningQuery]] page, [[QueryMetrics]] records.
  * `com.sun.net.httpserver` only — no framework dependency; the server
  * is deliberately NOT part of the driver gate (SURVEY §7.1: "library +
  * thin server", the library is the product).
  *
  * Endpoints (query-string parameters, JSON responses):
  *  - `POST /query/create?table=T&query=Q[&syntax=JEXL|LUCENE]
  *    [&model=M][&pageSize=N][&orderBy=c1,c2]` → `{"queryId": "..."}`;
  *    `model` names a stored query model (the `/model` verbs); the query
  *    plans eagerly so a bad query fails at create (the reference's
  *    createQuery semantics), and the frame is persisted: duplicate,
  *    cached results, exports and predictions read that snapshot. The
  *    first page is one top-k job over the cached partitions; the
  *    second runs one job for the whole result when it fits
  *    [[graft.core.DriverSet]]'s ceiling, and the session serves it and
  *    every later page as a slice of it ([[RunningQuery.nextPageJson]]);
  *    above the ceiling every page is its own top-k job.
  *  - `POST /query/createAndNext?…` (same parameters) → create + FIRST
  *    page in one round trip — the reference's primary verb
  *    (createQueryAndNext); empty results close the query and 204.
  *  - `POST /query/define?…` → persist the definition WITHOUT executing
  *    (defineQuery); the first next/duplicate/reset resumes it.
  *  - `POST /query/execute?…` → run + STREAM all rows in one chunked
  *    response, nothing cached, no session (the execute verb).
  *  - `GET /query/get?id=…` → the stored definition (`GET /{id}`);
  *    `GET /query/predictions?id=…` → predictions for a created query;
  *    `POST /query/remove?id=…` → close + delete the definition.
  *  - `GET /query/next?id=...` → `{"rows": [...], "page": N}`, or HTTP
  *    204 when exhausted (the reference's NO_CONTENT page).
  *  - `GET /query/plan?id=...` → the executed physical plan text;
  *    `GET /query/plan?table=T&query=Q[&syntax=…][&model=M]` plans
  *    without creating.
  *  - `GET /query/metrics?id=...` → the per-page metrics recorded for
  *    the query (QueryMetricsBean surface: rows/elapsed/status per page).
  *  - `POST /query/close?id=...` → drops cursor state + unpersists.
  *  - `GET /query/list` / `GET /query/listQueryLogic` → active sessions
  *    with paging position / dispatchable logic names.
  *  - `GET /query/predict?table=T&query=Q[&syntax=…][&model=M]` → named
  *    cost predictions from the configured predictors (plan stats +
  *    metric history), no execution.
  *  - `POST /query/duplicate?id=...` → new id, same definition, page 1;
  *    `POST /query/reset?id=...` → same id, paging restarted;
  *    `POST /query/cancel?id=...` → abort + release (served pages stand).
  *  - `GET /lookupContentUUID?terms=...[&uidField=c]` → UUID lookup whose
  *    hits chase into the stored-document fetch (content.lookup=true).
  *  - `GET /lookupUUID?terms=TYPE:value[,TYPE:value…][&pageSize=N]` →
  *    the reference's `/lookupUUID/{type}/{value}` + batch form
  *    (LookupUUIDUtil.createUUIDQueryAndNext: create AND first page in
  *    one call) — `{"queryId": …, "page": 1, "rows": [...]}`; follow
  *    with `/query/next` for more pages. Types come from the server's
  *    registered [[LookupUUID.UuidType]]s; `logic` names a table.
  *
  * Threading: exchanges run on one pool of daemon threads named
  * `graft-http-N`, one per core and at least two, so the verbs of
  * different sessions overlap (each DataWave REST call runs on its own
  * container thread too). The pages of one session run one at a time:
  * every verb that pages, replaces, copies or ends a live session, and
  * every job over its frame, runs under that session's monitor
  * ([[onLive]], [[reading]]) after re-checking that the session is still
  * the live one; the pages of different sessions never wait for each
  * other. A session comes alive ([[open]]) under its own monitor, so no
  * verb sees it before its definition is on disk. [[shareLock]] may be
  * taken under a session's monitor, never the other way round (the
  * fresh monitor [[open]] takes is free by construction), and no code
  * holding it runs a Spark job or waits for one: a restart-resume plans
  * before taking it, and a close waits for the job in flight on its
  * session before. One wait remains under it: `/cachedresults/create`
  * restoring a source alias after a restart re-plans the alias's owning
  * query.
  *
  * Refusals: a verb refuses by throwing one [[QueryServer.Refusal]],
  * which its handler answers as `(status, {"error": msg})`; the checks
  * and accessors that throw it ([[need]], [[grant]], [[ownedBy]],
  * [[admin]], [[scope]], [[withSession]]) stand in front of the work.
  * The principal rule is decided in one section, the only reader of
  * `users` and `adminUsers`: with a registry configured, every entity
  * of the caller's chain (`user=`, then `proxiedEntities=`) must be
  * registered (401 naming the first unknown one); a query runs under the
  * chain's intersected grant, which `auths=` may only narrow (403); an
  * object with an owner serves its owner and the admins (401
  * QUERY_OWNER_MISMATCH); a listing shows a caller their own objects and
  * an admin every object. A verb finds what it acts on before it checks
  * the caller — a missing parameter (400), an unknown table or an
  * unconfigured tier (404) answers even an unknown caller — and an
  * object without an owner, one that does not exist included, is not
  * gated.
  */
final class QueryServer(
    tables: Map[String, DataFrame],
    logic: ShardQueryLogic = new ShardQueryLogic(),
    stateDir: String =
      java.nio.file.Files.createTempDirectory("graft-cursor").toString,
    defaultPageSize: Int = 100,
    uuidTypes: Seq[LookupUUID.UuidType] = Seq.empty,
    auditor: Audit.Auditor = new Audit.CollectingAuditor,
    auditType: Audit.AuditType = Audit.None_,
    predictors: Seq[Predict.QueryPredictor] = QueryServer.defaultPredictors,
    modificationServices: Seq[ModificationRegistry.ServiceConfig] = Seq.empty,
    mutableFields: () => Seq[(String, String)] = () => Seq.empty,
    mapReduceJobs: Seq[MapReduce.JobConfig] = Seq(MapReduce.BulkResults),
    atomTable: Option[DataFrame] = None,
    users: Map[String, Set[String]] = Map.empty,
    adminUsers: Set[String] = Set.empty,
    metricsFlush: Boolean = true,
    /** Idle timeout for query sessions — the reference's
      * QueryExpirationBean.java:39 evicts sessions untouched past the
      * configured idle time (QueryExpirationConfiguration default:
      * 15 minutes). Enforced by [[expire]], not a hot-path check. */
    queryIdleTimeoutMillis: Long = 15L * 60 * 1000,
    /** TTL for loaded CachedResults aliases and their materialized row
      * stores — CachedResultsExpirationBean.java:37 +
      * CachedResultsCleanupConfiguration.java:5 (`daysToLive = 1`).
      * Measured from the alias's last load/update. */
    cachedResultsTtlMillis: Long = 24L * 60 * 60 * 1000,
    /** When set, [[start]] schedules [[expire]] on this period (the
      * reference's timer-driven expiration beans); None = sweep only on
      * demand via [[expire]] or `/admin/expire`. */
    expirationSweepMillis: Option[Long] = None) {
  import QueryServer._

  /** The served tables. `/modification/submit` REBINDS an entry to its
    * edited frame (the reference's mutation service writes through to
    * the shard table); running sessions keep paging their persisted
    * snapshot — the same read-snapshot character an in-flight Accumulo
    * scan has across a mutation. Accepted edits also append to the
    * durable [[editLogFile]], which [[replayEditLog]] re-applies here at
    * construction — so a restarted server over the same stateDir serves
    * the edited tables, not the silently-reverted originals. */
  @volatile private var tableMap: Map[String, DataFrame] = replayEditLog(tables)

  /** Modification service dispatch (ModificationBean.java:88-134 +
    * ModificationCacheBean) over the registered configurations. */
  private val modifications =
    new ModificationRegistry(modificationServices,
      new MutableFieldCache(mutableFields))

  /** Bulk export jobs (MapReduceBean) — BulkResultsJob resolves the
    * `queryId` runtime parameter against the durable definitions, so
    * define → submit is the reference's flow (define the query, ship it
    * into the bulk job). */
  private val bulkJobs = new MapReduceManager(s"$stateDir/mapreduce",
    mapReduceJobs,
    runQuery = params => definitionFrame(params.getOrElse("queryId", "")))

  /** The planned frame of a query id: a live session's frame if one
    * exists, else re-planned from the durable definition — WITHOUT
    * creating a session or touching cursor state. */
  private def definitionFrame(queryId: String): DataFrame =
    Option(sessions.get(queryId)).map(_.df).getOrElse(plan(readDef(queryId)
      .getOrElse(throw new IllegalArgumentException(s"unknown queryId '$queryId'"))
      .defn))

  private val sessions = new ConcurrentHashMap[String, Session]()
  /** CachedResults alias registry: lowercased view name → owning query
    * id. `/cachedresults/sql` only resolves relations registered here
    * (plus CTE names local to the statement), and closing the owning
    * query drops its aliases — the reference's CachedResults table is
    * scoped to the query that exported it (CachedResultsBean), never a
    * window onto the server's whole catalog or filesystem. */
  private[query] val loadedAliases = new ConcurrentHashMap[String, String]()
  private val cursor = new QueryCursor(stateDir)
  /** Lake-backed metric ledger beside the cursor/session state: query +
    * page metrics buffer here and flush to parquet on [[stop]], so
    * `/query/metrics/summary` and the history predictor read ONE
    * history across restarts and sibling servers (the reference ingests
    * query metrics back into the shard schema — metrics-core,
    * QueryMetricQueryLogic). */
  private[query] val metricsStore = new MetricsStore(s"$stateDir/metrics")
  /** Model management (ModelBean.java:124-478) over a lake-backed model
    * table beside the rest of the durable state; `model=NAME` on the
    * query verbs resolves through it at plan time, exactly like the
    * reference's QUERY_MODEL parameter resolving against the metadata
    * table. */
  private[query] val models = new ModelStore(s"$stateDir/models")
  private def sparkOf = tableMap.values.headOption.map(_.sparkSession)
  private val pageSink: PageMetric => Unit = metricsStore.recordPage
  /** The stock predictor pair is rebuilt per-instance so its history
    * predictor reads THIS server's durable store (restart-surviving),
    * not the JVM-wide buffer; an explicit predictor list is honored
    * verbatim (empty = NoOp deployment). */
  private val effectivePredictors: Seq[Predict.QueryPredictor] =
    if (predictors eq QueryServer.defaultPredictors)
      Seq(new Predict.PlanStatsPredictor,
        new Predict.HistoryPredictor(() =>
          sparkOf.map(metricsStore.history(_)).getOrElse(Seq.empty)))
    else predictors
  private var server: HttpServer = _
  /** The exchange pool [[start]] gives the server; [[stop]] drains it. */
  private var workers: ExecutorService = _
  /** Serializes the CachedResults alias registry, [[teardown]]'s
    * unbind-and-remove step and a restart-resume's register-if-absent. A
    * session's own state is guarded by its monitor ([[onLive]]), taken
    * before this lock when both are needed. */
  private val shareLock = new Object

  // ---- state expiration ----------------------------------------------
  // The reference EXPIRES server state: QueryExpirationBean.java:39
  // evicts idle query sessions on a timer, and CachedResultsExpiration
  // Bean.java:37-95 drops cached-result tables past daysToLive. Without
  // it the durable tier (definitions, cursor state, alias bindings and
  // — since the rows became durable — full materialized row stores)
  // accumulates until an explicit close, which production clients
  // famously never send. Timestamps: a session's last use is its
  // in-memory touch or, durably, its definition file's mtime (bumped by
  // the touching verbs, so idleness survives restarts); an alias's is
  // recorded at load/update and persisted in aliases.properties. A
  // timestamp nothing recorded falls back to THIS server's construction
  // time — a restart resets the clock for pre-upgrade state rather than
  // mass-evicting it.

  private val bootMillis = System.currentTimeMillis()
  private val lastUsed = new ConcurrentHashMap[String, java.lang.Long]()
  /** Alias → last load/update millis (persisted beside the binding). */
  private val aliasTs = new ConcurrentHashMap[String, java.lang.Long]()
  private var sweeper: java.util.concurrent.ScheduledExecutorService = _

  /** Per-id time of the last DURABLE touch (the definition-mtime
    * write), distinct from [[lastUsed]]: the throttle below compares
    * against the last disk write, not the last use — comparing against
    * the last use would starve the disk record forever on a session
    * touched more often than the interval. */
  private val lastDiskTouch = new ConcurrentHashMap[String, java.lang.Long]()

  /** Record a data-verb use of `id` — in memory and, best-effort, as
    * the durable definition's mtime (so idle-eviction decisions survive
    * a restart without a new store). The disk write is THROTTLED to
    * once per min(timeout/10, 60 s): a client paging a large result
    * drives hundreds of /next calls, and an mtime syscall per page buys
    * nothing — the eviction clock's granularity is the idle timeout.
    * Cost of the lag: the durable record trails the true last use by
    * less than the interval, so after a restart a session can look up
    * to that much MORE idle than it was and be evicted early by at
    * most 1/10th of the timeout — an accepted bound (the reference's
    * eviction clock is coarse too: QueryExpirationBean sweeps on a
    * timer period). */
  private def touchSession(id: String): Unit = {
    val now = System.currentTimeMillis()
    lastUsed.put(id, java.lang.Long.valueOf(now))
    val throttle = math.min(queryIdleTimeoutMillis / 10, 60000L)
    val prev = lastDiskTouch.get(id)
    if (prev == null || now - prev.longValue() >= throttle) {
      lastDiskTouch.put(id, java.lang.Long.valueOf(now))
      try {
        val f = sessionFile(id)
        if (java.nio.file.Files.exists(f))
          java.nio.file.Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime.fromMillis(now))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[graft] query $id: idle-clock touch failed: $e")
      }
    }
  }

  private def lastUsedOf(id: String): Long = {
    val mem = Option(lastUsed.get(id)).map(_.longValue())
    val f = sessionFile(id)
    val disk =
      try {
        if (java.nio.file.Files.exists(f))
          Some(java.nio.file.Files.getLastModifiedTime(f).toMillis)
        else None
      } catch {
        // the in-memory clock still answers; an unreadable file only
        // loses the disk-side record
        case NonFatal(e) =>
          System.err.println(s"[graft] query $id: session file time unreadable: $e")
          None
      }
    (mem.toSeq ++ disk.toSeq).maxOption.getOrElse(bootMillis)
  }

  private def aliasTsOf(a: String): Long =
    Option(aliasTs.get(a.toLowerCase)).map(_.longValue()).getOrElse(bootMillis)

  /** Every id with a durable definition on disk (live or not). */
  private def durableSessionIds: Set[String] = {
    val d = java.nio.file.Paths.get(stateDir, "sessions")
    if (!java.nio.file.Files.isDirectory(d)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".properties"))
        .map(_.stripSuffix(".properties")).toSet
      finally s.close()
    }
  }

  /** One expiration sweep as of `now` — the library entry point the
    * timer (`expirationSweepMillis`) and `/admin/expire` both call.
    * Two passes, each DURABLE (the evicted state is deleted from
    * stateDir, so a restart stays expired):
    *
    *  1. CachedResults TTL, under the share lock: every alias whose last
    *     load/update is older than `cachedResultsTtlMillis` drops — view,
    *     binding, async state, materialized rows (the reference's
    *     daysToLive cleanup).
    *  2. Idle sessions: every session (live or definition-only) whose
    *     last use is older than `queryIdleTimeoutMillis` tears down
    *     exactly as close does — EXCEPT sessions still holding a loaded
    *     alias. A loaded alias serves and owner-gates THROUGH its
    *     owning query's definition; evicting the definition under it
    *     would orphan the alias and launder it ownerless. The hold is
    *     released when the alias itself expires (pass 1 runs first, so
    *     one sweep past both deadlines evicts both), mirroring the
    *     reference where the cached-results table carries its own
    *     lifetime independent of the originating query session.
    *
    * Duplicate-shared frames stay safe: teardown releases a frame only
    * when no other live session shares it. Each eviction is audited.
    * Returns (expired sessions, expired aliases). */
  def expire(now: Long = System.currentTimeMillis()): (Int, Int) = {
    import scala.jdk.CollectionConverters._
    // Candidate scan OUTSIDE the lock: listing the sessions dir and
    // stat-ing a last-use time per id is O(every session) filesystem
    // work — largest on exactly the accumulated-state servers this
    // tier exists for — and must not stall every verb behind it. Each
    // teardown below re-checks its CANDIDATE (O(expired), not O(all)).
    val idleCandidates =
      (sessions.keySet.asScala.toSet ++ durableSessionIds)
        .filter(id => now - lastUsedOf(id) > queryIdleTimeoutMillis)
    val deadAliases = shareLock.synchronized {
      val dead = loadedAliases.keySet.asScala.toSeq
        .filter(a => now - aliasTsOf(a) > cachedResultsTtlMillis)
      dead.foreach { a =>
        auditor.audit(Audit.AuditRecord(a, "<expiration>",
          s"expired cachedresults alias '$a' (ttl ${cachedResultsTtlMillis}ms)",
          "", "expire", auditType.name, Seq.empty, now))
        unbindAlias(a)
      }
      if (dead.nonEmpty) persistAliases()
      dead
    }
    // each candidate is re-checked inside its teardown's locked step: a
    // session touched since the scan, or holding a loaded alias, stays.
    // Only REAL evictions are audited (a candidate closed meanwhile
    // tears down to a no-op and is not counted)
    val torn = idleCandidates.toSeq.map(id => id -> teardown(id,
      evict = !loadedAliases.containsValue(id) &&
        now - lastUsedOf(id) > queryIdleTimeoutMillis))
    torn.foreach { case (id, (existed, _)) =>
      if (existed) auditor.audit(Audit.AuditRecord(id, "<expiration>",
        s"expired idle query '$id' (idle ${queryIdleTimeoutMillis}ms)",
        "", "expire", auditType.name, Seq.empty, now))
    }
    // the heavy filesystem deletes run after the lock released — the
    // sweep must not stall every verb for their duration
    reapRows(deadAliases ++ torn.flatMap(_._2._2))
    (torn.count(_._2._1), deadAliases.size)
  }

  /** `POST /admin/expire[?asOf=millis]` — run the expiration sweep on
    * demand (the verb face of the reference's timer beans). A
    * server-wide maintenance op: with a principal registry configured
    * only `adminUsers` may invoke it (401 otherwise, fail-closed for
    * unknown callers). `asOf` overrides the sweep clock — an
    * admin-only operational hook (evict as of a future instant =
    * forced eviction; admins can already close any object). */
  private def adminExpire(params: Map[String, String]): (Int, String) = {
    admin(params)
    val now = params.get("asOf").map(_.toLong)
      .getOrElse(System.currentTimeMillis())
    val (qs, as) = expire(now)
    (200, s"""{"expiredQueries": $qs, "expiredAliases": $as}""")
  }

  /** Alias-scoped UNBIND shared by close and the expiration sweep:
    * live view, binding, async state, timestamp — everything except
    * the materialized rows store, whose recursive delete is filesystem
    * work too heavy for the share lock. Callers pass the unbound names
    * to [[reapRows]] AFTER releasing it. */
  private def unbindAlias(a: String): Unit = {
    // the session catalog's drop, not `catalog.dropTempView`: that one
    // also uncaches every cached plan with the view's result — the
    // owning session's frame, which other live sessions of the same
    // query share and may be scanning right now. Frames are cached and
    // released by [[open]] and [[release]] alone.
    sparkOf.foreach(_.sessionState.catalog.dropTempView(a))
    loadedAliases.remove(a)
    asyncLoads.remove(a)
    aliasSql.remove(a)
    aliasTs.remove(a)
  }

  /** Delete unbound aliases' rows stores OUTSIDE the share lock (a
    * multi-GB delete must not stall every verb behind the sweep),
    * serialized per alias against writers. If the name was RE-BOUND
    * while we waited, the store is the new binding's business — its own
    * phase-2 write overwrites it, and until then the owner stamp keeps
    * the stale generation from ever restoring — so skip it. */
  private def reapRows(aliases: Seq[String]): Unit = aliases.foreach { a =>
    rowLocks.computeIfAbsent(a.toLowerCase, _ => new Object).synchronized {
      if (!loadedAliases.containsKey(a.toLowerCase)) dropRows(a)
    }
  }

  // ---- durable CachedResults aliases ---------------------------------
  // The reference's CachedResults table is DURABLE (CachedResultsBean
  // persists result tables + their metadata in MySQL — a restarted
  // service keeps serving loaded aliases). Here the alias→queryId map
  // (plus a derived view's defining SQL) persists beside the session
  // definitions; the temp VIEWS live in the Spark session, so after a
  // restart the first data verb touching an alias re-resumes its owning
  // query and re-registers the view lazily ([[ensureAliasView]]).

  private def aliasFile: java.nio.file.Path =
    java.nio.file.Paths.get(stateDir, "aliases.properties")

  /** Persist the alias registry (call under [[shareLock]]). Only
    * aliases whose owning query has a DURABLE definition persist — a
    * lookup-created ephemeral session cannot resume, so its alias dies
    * with the process like the session itself. */
  private def persistAliases(): Unit = {
    import scala.jdk.CollectionConverters._
    val p = new java.util.Properties()
    loadedAliases.asScala.foreach { case (a, q) =>
      if (java.nio.file.Files.exists(sessionFile(q))) {
        p.setProperty(a, q)
        Option(aliasSql.get(a)).foreach(sql => p.setProperty(a + " sql", sql))
        Option(aliasTs.get(a)).foreach(ts =>
          p.setProperty(a + " ts", ts.toString))
      }
    }
    java.nio.file.Files.createDirectories(aliasFile.getParent)
    val out = java.nio.file.Files.newOutputStream(aliasFile)
    try p.store(out, null) finally out.close()
  }

  /** Derived-view SQL (from `/cachedresults/create`), kept so a
    * restarted server can re-define the view. */
  private[query] val aliasSql = new ConcurrentHashMap[String, String]()

  /** Durable home of a loaded alias's MATERIALIZED rows — the
    * reference's CachedResults persists the result TABLE itself
    * (CachedRunningQuery.java:399: the MySQL table outlives the
    * service), not just the definition; without the rows a restarted
    * server re-pays the owning query on the first data verb. `/load`
    * writes them once; [[ensureAliasView]] registers the restored view
    * straight over them; close deletes them with the definition. The
    * alias is pre-validated `[A-Za-z_][A-Za-z0-9_]*`, so the path is
    * injection-safe. */
  private def rowsDir(alias: String): java.nio.file.Path =
    java.nio.file.Paths.get(stateDir, "cachedrows", alias.toLowerCase)

  /** Materialize a loaded alias's rows (overwrite = a re-load
    * refreshes). The `_SUCCESS` marker is the restore-side commit
    * proof — a crash mid-write falls back to the resume path. The store
    * is STAMPED with the owning query id (`_OWNER_QUERY`, written after
    * the data commit): the alias BINDING commits in phase 1 under
    * shareLock but the rows land in phase 2 outside it, so a crash
    * between a re-point (or a close + later re-load) and the new rows'
    * write leaves the PREVIOUS query's committed rows on disk — without
    * the stamp a restarted server would serve them as the new binding's
    * result, in the close-orphan case another principal's rows under
    * the new owner's alias. A store whose stamp is missing (crash
    * between data commit and stamp) or names a different query restores
    * through the resume path instead. */
  private def persistRows(df: DataFrame, alias: String, id: String): Unit = {
    df.write.mode("overwrite").parquet(rowsDir(alias).toString)
    java.nio.file.Files.write(rowsDir(alias).resolve("_OWNER_QUERY"),
      id.getBytes(StandardCharsets.UTF_8))
  }

  /** The query id stamped on a committed rows store (None = unstamped —
    * a pre-stamp store or a crash before the stamp landed). */
  private def rowsStamp(alias: String): Option[String] = {
    val f = rowsDir(alias).resolve("_OWNER_QUERY")
    if (!java.nio.file.Files.exists(f)) None
    else Some(new String(java.nio.file.Files.readAllBytes(f),
      StandardCharsets.UTF_8).trim)
  }

  private def dropRows(alias: String): Unit =
    graft.core.Fs.deleteRecursively(rowsDir(alias))

  /** Per-alias writer lock for the rows store. The materialization runs
    * OUTSIDE [[shareLock]] (it is a full Spark job), so two concurrent
    * loads of the SAME alias would otherwise race their overwrite jobs
    * on one directory — a torn mix that could still commit a _SUCCESS.
    * Same-alias writers serialize here; different aliases stay
    * parallel. */
  private val rowLocks = new ConcurrentHashMap[String, Object]()

  /** The unlocked write phase shared by load/update/loadAsync: under
    * the ALIAS lock, skip the write when the binding already moved on
    * (a close or re-point won the race — nothing of ours to clean),
    * write, then re-check: if the binding moved WHILE we wrote, our
    * rows are an orphan generation and drop (the next binding's own
    * write phase is serialized behind this lock, so we can only ever
    * drop our own write, never its). Returns durability. */
  private def writeRowsFor(df: DataFrame, alias: String, id: String): Boolean =
    rowLocks.computeIfAbsent(alias.toLowerCase, _ => new Object).synchronized {
      if (loadedAliases.get(alias.toLowerCase) != id) false
      else {
        val ok = try { persistRows(df, alias, id); true }
          catch { case _: Exception => false }
        if (loadedAliases.get(alias.toLowerCase) != id) {
          dropRows(alias); false
        } else ok
      }
    }

  /** The write phase of load, update and loadAsync: `alias`'s rows from
    * `s`'s frame, the one its view was registered over, under the monitor
    * of `id`'s live session ([[onLive]]) — `s` itself, or the session a
    * reset or a settings update put in its place over the same frame.
    * False when the query was closed meanwhile, or an update re-planned
    * it: the view's frame then belongs to no session. */
  private def writeStaged(id: String, s: Session, alias: String): Boolean =
    onLive(id)(cur => (cur.df eq s.df) && writeRowsFor(s.df, alias, id))
      .getOrElse(false)

  private def loadAliases(): Unit = {
    if (!java.nio.file.Files.exists(aliasFile)) return
    val p = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(aliasFile)
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.stringPropertyNames().asScala.foreach { k =>
      if (k.endsWith(" sql"))
        aliasSql.put(k.stripSuffix(" sql"), p.getProperty(k))
      else if (k.endsWith(" ts"))
        scala.util.Try(p.getProperty(k).trim.toLong).toOption.foreach(ts =>
          aliasTs.put(k.stripSuffix(" ts"), java.lang.Long.valueOf(ts)))
      else if (!k.contains(" ")) loadedAliases.put(k, p.getProperty(k))
    }
  }
  loadAliases()

  /** Make a loaded alias's temp view live, re-resuming the owning
    * session (and any source aliases a derived view reads) after a
    * restart. No-op when the view already exists. False = the alias is
    * not loaded or its owning query cannot resume. */
  private def ensureAliasView(alias: String,
                              seen: Set[String] = Set.empty): Boolean = {
    val a = alias.toLowerCase
    if (seen(a)) return true // re-pointed cycles cannot deadlock us
    val q = loadedAliases.get(a)
    if (q == null || sparkOf.isEmpty) return false
    val sp = sparkOf.get
    if (sp.catalog.tableExists(a)) return true
    Option(aliasSql.get(a)) match {
      case Some(sql) =>
        // a derived view re-registers over its re-ensured sources; if
        // ANY source cannot be restored, this view cannot either —
        // propagate false so the verb answers the documented 404
        // "cannot be restored" instead of sp.sql's raw AnalysisException
        val restored = referencedNames(sp, sql)
          .filter(n => loadedAliases.containsKey(n))
          .forall(n => ensureAliasView(n, seen + a))
        if (restored) sp.sql(sql).createOrReplaceTempView(a)
        restored
      case None =>
        // durable ROWS first (CachedRunningQuery.java:399 — the stored
        // result table outlives the service): a restart re-registers
        // the view over the materialized parquet and never re-runs the
        // owning query. Only a committed store counts (committedUnder —
        // the _SUCCESS rule, degrading under a marker-disabled
        // committer conf rather than never restoring), and only when
        // its _OWNER_QUERY stamp names THIS binding's query — a crash
        // between a re-point/re-load's binding commit and its phase-2
        // rows write must not serve the previous generation's rows
        // under the new binding. Anything else falls back to resume.
        val stored = rowsDir(a)
        if (graft.core.Fs.committedUnder(sp, stored.toString) &&
            rowsStamp(a).contains(q)) {
          sp.read.parquet(stored.toString).createOrReplaceTempView(a)
          true
        } else session(Map("id" -> q)) match {
          case Some(s) => s.df.createOrReplaceTempView(a); true
          case None => false
        }
    }
  }

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    // The JDK server writes a response's headers and its body as two TCP
    // segments; without TCP_NODELAY the body waits behind Nagle's
    // algorithm for the client's delayed ACK (~40 ms) on every response
    // that has one. The JDK reads the flag once, when the first server
    // of the JVM is created; an explicit setting wins.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // without an executor the JDK runs every exchange on the one
    // dispatcher thread, so each client's verb would wait for the others
    val n = new AtomicInteger()
    workers = Executors.newFixedThreadPool(
      math.max(2, Runtime.getRuntime.availableProcessors), r => {
        val t = new Thread(r, s"graft-http-${n.incrementAndGet()}")
        t.setDaemon(true); t
      })
    server.setExecutor(workers)
    server.createContext("/query/create", handler(create))
    server.createContext("/query/createAndNext", handler(createAndNext))
    server.createContext("/query/define", handler(define, failure = 400))
    server.createContext("/query/execute", executeHandler)
    server.createContext("/query/get", handler(getDefinition))
    server.createContext("/query/predictions", handler(predictions))
    server.createContext("/query/remove", handler(remove))
    server.createContext("/query/next", handler(next))
    server.createContext("/query/plan", handler(explain))
    server.createContext("/query/metrics", handler(metrics))
    server.createContext("/query/metrics/summary", handler(metricsSummary, failure = 400))
    server.createContext("/query/close", handler(close))
    server.createContext("/query/list", handler(list))
    server.createContext("/query/listQueryLogic", handler(listQueryLogic))
    server.createContext("/query/duplicate", handler(duplicate, failure = 400))
    server.createContext("/query/reset", handler(reset))
    server.createContext("/query/update", handler(update))
    server.createContext("/query/cancel", handler(cancel))
    server.createContext("/query/predict", handler(predict, failure = 400))
    server.createContext("/lookupUUID", handler(lookupUuid, failure = 400))
    server.createContext("/lookupContentUUID", handler(lookupContentUuid, failure = 400))
    server.createContext("/lookupUID", handler(lookupUid, failure = 400))
    server.createContext("/translateId", handler(translateId, failure = 400))
    server.createContext("/translateIDs", handler(translateId, failure = 400))
    server.createContext("/mapreduce/listConfigurations",
      handler(mrListConfigurations))
    server.createContext("/mapreduce/submit", handler(mrSubmit))
    server.createContext("/mapreduce/list", handler(mrList))
    server.createContext("/mapreduce/cancel", handler(mrCancel))
    server.createContext("/mapreduce/restart", handler(mrRestart))
    server.createContext("/mapreduce/remove", handler(mrRemove))
    server.createContext("/mapreduce/getFile", mrGetFileHandler)
    server.createContext("/modification/listConfigurations",
      handler(modListConfigurations))
    server.createContext("/modification/getMutableFieldList",
      handler(modGetMutableFields))
    server.createContext("/modification/reloadCache", handler(modReloadCache))
    server.createContext("/modification/submit", handler(modSubmit))
    server.createContext("/model/list", handler(modelList))
    server.createContext("/model/get", handler(modelGet))
    server.createContext("/model/import", handler(modelImport))
    server.createContext("/model/clone", handler(modelClone))
    server.createContext("/model/delete", handler(modelDelete))
    server.createContext("/model/insert", handler(modelInsert))
    server.createContext("/model/deleteMapping", handler(modelDeleteMapping))
    server.createContext("/cachedresults/load", handler(cachedLoad))
    server.createContext("/cachedresults/update", handler(cachedUpdate))
    server.createContext("/cachedresults/sql", handler(cachedSql, failure = 400))
    server.createContext("/cachedresults/getRows", handler(cachedGetRows))
    server.createContext("/cachedresults/loadAsync", handler(cachedLoadAsync))
    server.createContext("/cachedresults/status", handler(cachedStatus))
    server.createContext("/cachedresults/create", handler(cachedCreate, failure = 400))
    server.createContext("/atom/categories", handler(atomCategories))
    server.createContext("/atom/feed", handler(atomFeedPage, failure = 400))
    server.createContext("/atom/entry", handler(atomEntry, failure = 400))
    server.createContext("/admin/listTables", handler(adminListTables))
    server.createContext("/admin/expire", handler(adminExpire, failure = 400))
    server.createContext("/user/listEffectiveAuthorizations",
      handler(listEffectiveAuths))
    server.createContext("/user/flushCachedCredentials",
      handler(flushCachedCredentials))
    server.createContext("/accumulo/validateVisibilities",
      handler(validateVisibilities))
    server.start()
    // timer-driven expiration (QueryExpirationBean runs on an EJB
    // timer; here a daemon scheduler) — opt-in via the constructor
    expirationSweepMillis.foreach { period =>
      sweeper = java.util.concurrent.Executors
        .newSingleThreadScheduledExecutor(r => {
          val t = new Thread(r, "graft-expiration"); t.setDaemon(true); t
        })
      sweeper.scheduleAtFixedRate(
        () => try expire() catch {
          case NonFatal(e) =>
            System.err.println(s"[graft] expiration sweep failed: $e")
        },
        period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    server.getAddress.getPort
  }

  def stop(): Unit = {
    // the sweep timer must not fire into a stopping server
    if (sweeper != null) sweeper.shutdownNow()
    // stop accepting, then let in-flight handlers finish BEFORE the
    // flush and the unpersist below: a page recorded by a racing
    // /query/next still makes the durable ledger, and no handler can
    // register a session after sessions.clear() and leak its frame
    if (server != null) server.stop(1)
    if (workers != null) {
      workers.shutdown()
      if (!workers.awaitTermination(30, TimeUnit.SECONDS))
        System.err.println("[graft] handlers still running 30 s after stop")
    }
    // then the background loads those handlers started: each writes a
    // session frame's rows, and the unpersist below must not release a
    // frame under a running write (same bound as the handler pool)
    val loadDeadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    loadThreads.forEach { t =>
      t.join(math.max(1L,
        TimeUnit.NANOSECONDS.toMillis(loadDeadline - System.nanoTime())))
    }
    if (!loadThreads.isEmpty)
      System.err.println("[graft] cached-result loads still running 30 s after stop")
    // cancel live bulk exports so no thread keeps writing under a
    // state directory the caller may be about to delete, and their
    // state rows record CANCELED instead of a dangling RUNNING
    bulkJobs.shutdown()
    // one parquet append per table — the pending tail becomes durable
    // history the next server life (or a sibling) reads. `metricsFlush
    // = false` opts a throwaway (gate/test-scale) server out, so its
    // teardown measures queries, not ledger I/O — a real deployment
    // keeps the default on and pays it once per server life.
    if (metricsFlush) sparkOf.foreach(metricsStore.flush)
    // a stopped server serves nothing: release every cached frame (a
    // restart re-plans and re-persists from the durable definitions) —
    // without this a stop-without-close leaks the persisted frames in
    // the shared SparkSession forever
    import scala.jdk.CollectionConverters._
    sessions.values.asScala.toSeq.foreach(_.df.unpersist())
    sessions.clear()
  }

  // ---- endpoint implementations -------------------------------------

  private def create(params: Map[String, String]): (Int, String) =
    (200, s"""{"queryId": "${doCreate(params)}"}""")

  /** `POST /query/createAndNext?…` — the reference's PRIMARY verb
    * (QueryExecutorBean.java:616 createQueryAndNext, the path §3.1 calls
    * the main entry point): create the query AND serve its first page in
    * one round trip. An empty result closes the query and returns 204
    * (the reference's NoResultsQueryException → NO_CONTENT + close) —
    * callers never hold a session for a query with nothing to page. */
  private def createAndNext(params: Map[String, String]): (Int, String) = {
    val id = doCreate(params)
    // the session was registered by doCreate under this id; a
    // concurrent close between then and here just yields 204
    try onLive(id)(_.running.nextPageJson()).flatten match {
      case Some((rows, pageNum)) => (200, firstPage(id, rows, pageNum))
      case None => reapRows(teardown(id)._2); (204, "")
    } catch {
      case e: Exception =>
        // a first-page RUNTIME failure must not strand a session
        // the caller has no id for (the error response carries no
        // queryId) — the reference closes the query on failure
        reapRows(teardown(id)._2)
        (500, err(e.getMessage))
    }
  }

  /** Resolve a stored model name (the reference's QUERY_MODEL
    * parameter) against the model store: the logic rebinds to the
    * model's FORWARD mappings and the params gain its REVERSE result
    * renames; an unknown model refuses the query. Empty name = the
    * configured logic untouched. */
  private def resolveModel(modelName: String, qp: QueryParams)
      : (ShardQueryLogic, QueryParams) =
    if (modelName.isEmpty) (logic, qp)
    else {
      val sp = sparkOf.getOrElse(throw new IllegalStateException(
        "no table attached; model store unavailable"))
      models.getModel(sp, modelName) match {
        case Left(e) => throw new IllegalArgumentException(e.msg)
        case Right(_) =>
          val mt = models.table(sp)
          (logic.withModel(graft.jexl.QueryModelLoader.load(mt, modelName)),
           qp.copy(renameFields = qp.renameFields ++
             graft.jexl.QueryModelLoader.reverseRename(mt, modelName)))
      }
    }

  /** The one planning path for a user query against a served table: the
    * definition's model, syntax and auths through [[resolveModel]] into
    * the logic's `query`. Lazy — nothing runs until the frame is paged
    * (visibility is a filter in the plan, evaluated by the scan). */
  private def plan(d: QueryDef): DataFrame = {
    val df0 = tableMap.getOrElse(d.table,
      throw new IllegalArgumentException(s"unknown table '${d.table}'"))
    val (effLogic, qp) = resolveModel(d.model,
      QueryParams(syntax = d.syntax, auths = d.auths))
    effLogic.query(df0, d.query, qp)
  }

  /** The definition a create/define/execute/predict/plan request names,
    * or the refusal: 400 for a missing or malformed parameter, 404 for
    * an unknown table, 401/403 from [[grant]]. */
  private def queryDef(params: Map[String, String]): QueryDef = {
    val table = need(params, "table")
    val q = need(params, "query")
    if (!tableMap.contains(table)) refuse(404, s"unknown table '$table'")
    val auths = grant(params)
    try QueryDef(table, q, params.getOrElse("syntax", "JEXL"),
      params.getOrElse("model", ""), auths, ownerOf(params),
      pageSize(params, defaultPageSize),
      params.get("orderBy").map(csv).getOrElse(Seq.empty))
    catch { case e: Exception => refuse(400, e.getMessage) }
  }

  /** `d` with its default order resolved against the planned frame. */
  private def ordered(d: QueryDef, df: DataFrame): QueryDef =
    if (d.orderBy.nonEmpty) d else d.copy(orderBy = Seq(df.columns.head))

  /** The one way a session comes alive — create, lookup, duplicate,
    * reset, update and restart-resume: page `df` as query `id` under `d`
    * from `startPage` in run `attempt`, register and touch the session,
    * and persist its definition (table-less lookups stay ephemeral).
    * RunningQuery checks the order columns first, so a refused orderBy
    * caches nothing; a frame no live session holds yet is cached after
    * that, so each page reads cached partitions. */
  private def open(id: String, d: QueryDef, df: DataFrame,
                   startPage: Long = 0L, attempt: Long = 0L): Session = {
    val defn = ordered(d, df)
    val running = new RunningQuery(cursor, id, df, defn.orderBy,
      defn.pageSize, startPage = startPage, sink = pageSink, attempt = attempt)
    val s = Session(defn, df, running)
    // under the new session's monitor, which no other thread can hold
    // yet: a verb that finds it registered ([[onLive]]) waits until its
    // definition is written, so a close cannot delete the file before
    // this write recreates it, and two replacements of one id never
    // write it at once
    running.synchronized {
      frameLock.synchronized { if (!shared(df)) df.persist(); sessions.put(id, s) }
      // a birth or resume is a use for the idle clock — and for an
      // ephemeral lookup session, its ONLY last-use record
      touchSession(id)
      // page-ordinal base: pages after this write are served at THIS
      // pageSize, so a resume recovers the true ordinal as
      // base + (offsetNow - offsetBase) / pageSize even when an earlier
      // pageSize produced the prior offset rows
      if (defn.table.nonEmpty)
        writeDef(id, Saved(defn, running.pagesServed, cursor.currentOffset(id),
          attempt))
    }
    s
  }

  /** Audit-before-execute ([[Audit.audited]]) as the calling user. */
  private def audited[A](params: Map[String, String], id: String,
                         query: String, syntax: String, logicName: String,
                         selectors: Option[Seq[String]] = None)(body: => A): A =
    Audit.audited(auditor, auditType, id,
      user = params.getOrElse("user", "anonymous"), query = query,
      syntax = syntax, logicName = logicName,
      timeMillis = System.currentTimeMillis(), selectors = selectors)(body)

  /** The creation itself is a metric event (the reference ingests a
    * BaseQueryMetric per created query); pages accrue to the same id. */
  private def created(params: Map[String, String], id: String, d: QueryDef,
                      logicName: String): Unit =
    metricsStore.record(QueryMetric(id, d.query, d.syntax,
      System.currentTimeMillis(), 0L, 0L,
      user = params.getOrElse("user", "anonymous"), logicName = logicName))

  // ---- principals -----------------------------------------------------
  // The one reader of `users` and `adminUsers`. The reference runs every
  // REST verb under the caller's authenticated proxied chain
  // (web-services/security DatawaveUser, consumed at
  // LookupUUIDUtil.java:343-430), and a query, CachedResults row or bulk
  // job belongs to its creator (QueryExecutorBean.java:1094-1095
  // QUERY_OWNER_MISMATCH, repeated at :1146/:1773/:1858;
  // CachedResultsBean.java:342 keys rows by getOwnerFromPrincipal). An
  // EMPTY registry keeps the embedded-library behaviour: the deployment
  // did its own authn, and nothing here refuses anyone.

  /** The caller's chain: `user=` (default `anonymous`), then the
    * `proxiedEntities=e1,e2` between the end user and this service. ONE
    * parse, shared by enforcement and `/user/listEffectiveAuthorizations`,
    * so the verb cannot report a grant computed under another chain. */
  private def principalChain(params: Map[String, String]): Seq[String] =
    params.getOrElse("user", "anonymous") +:
      params.get("proxiedEntities").map(csv).getOrElse(Seq.empty)

  /** The registered chain, None without a registry. Every entity of the
    * chain must be registered: the first unknown one is refused 401,
    * named as the user or as a proxied entity — fail-closed on every
    * verb that reads the caller, whatever it then checks. */
  private def chain(params: Map[String, String]): Option[Seq[String]] =
    if (users.isEmpty) None
    else {
      val entities = principalChain(params)
      entities.find(e => !users.contains(e)).foreach { e =>
        refuse(401, s"unknown ${if (e == entities.head) "user" else "proxied entity"} '$e'")
      }
      Some(entities)
    }

  /** The registered calling user, None without a registry. */
  private def caller(params: Map[String, String]): Option[String] =
    chain(params).map(_.head)

  /** The auths a request runs under, None without a registry: the
    * server resolves the GRANT, and an explicit `auths=` may only
    * DOWNGRADE it (a token outside the grant is 403). A proxied chain
    * narrows the grant to the INTERSECTION of every entity's grant —
    * WSAuthorizationsUtil.mergePrincipals (web-services/common-util
    * security/util/WSAuthorizationsUtil.java:23) and
    * getDowngradedAuthorizations consumed at CompositeQueryLogic
    * .java:236: no entity in the chain may see what any other entity is
    * not cleared for. */
  private def grant(params: Map[String, String]): Option[Set[String]] =
    chain(params).map { entities =>
      val granted = entities.map(users).reduce(_ intersect _)
      params.get("auths").map(_.split(',').toSet.filter(_.nonEmpty)) match {
        case Some(req) if !req.subsetOf(granted) =>
          refuse(403, s"chain '${entities.mkString(",")}' is not granted: " +
            (req -- granted).toSeq.sorted.mkString(","))
        case Some(req) => req
        case None => granted
      }
    }

  /** Object ownership: an object with an `owner` serves that principal
    * and `adminUsers` (the reference's adminClose/adminCancel override);
    * anyone else is 401 with the bare code — the refusal must not
    * disclose WHO owns the object to a non-owner probing ids or aliases.
    * Row-level visibility at materialization is not enough when caller
    * X could page rows principal Y materialized under Y's auths. An
    * ownerless object (no registry at its creation, or none at all)
    * keeps the capability-addressed behaviour: nothing is checked. */
  private def ownedBy(params: Map[String, String], owner: String): Unit =
    if (owner.nonEmpty) caller(params).foreach { c =>
      if (c != owner && !adminUsers.contains(c)) refuse(401, "QUERY_OWNER_MISMATCH")
    }

  /** A server-wide operation: with a registry, admins only (401). */
  private def admin(params: Map[String, String]): Unit =
    caller(params).foreach { c =>
      if (!adminUsers.contains(c)) refuse(401, "admin required")
    }

  /** Whose objects a listing shows: the caller's own (and ownerless
    * ones), as the reference's persisters scan a range keyed by the
    * caller's userid; None = every object, for an admin or without a
    * registry. */
  private def scope(params: Map[String, String]): Option[String] =
    caller(params).filterNot(adminUsers.contains)

  /** Whether a listing scoped to `who` ([[scope]]) shows `owner`'s object. */
  private def shows(who: Option[String], owner: String): Boolean =
    who.forall(c => owner.isEmpty || owner == c)

  /** The recorded owner of `params("user")`-created objects: "" when no
    * registry is configured, so ownerless objects never gate. */
  private def ownerOf(params: Map[String, String]): String =
    if (users.isEmpty) "" else params.getOrElse("user", "anonymous")

  /** Query `id` once the caller passes its owner's gate. */
  private def ownedQuery(params: Map[String, String]): String = {
    val id = qid(params)
    ownedBy(params, queryOwner(id))
    id
  }

  /** `body` on the caller's session, live or resumed from its durable
    * definition, under the session's monitor ([[onLive]]): 404 when there
    * is none, and the owner gate's refusal for anyone but its owner (or
    * an admin). */
  private def withSession(params: Map[String, String])(
      body: Session => (Int, String)): (Int, String) = {
    session(params) // resumes a defined or restarted query
    onLive(qid(params)) { s => ownedBy(params, s.defn.owner); body(s) }
      .getOrElse(refuse(404, "unknown queryId"))
  }

  /** `body` on `id`'s live session under that session's monitor, looked
    * up again whenever it was replaced (reset, update) while we waited
    * for the monitor; None when no session is live. Every verb that
    * pages, replaces, copies or ends a live session runs here, so one
    * session's pages run one at a time ([[RunningQuery]]'s page counter
    * and the cursor's read-then-write offset file are not thread-safe)
    * and a close cannot slip between a page's offset read and its write.
    * [[shareLock]] may be taken under the monitor, never the reverse. */
  @annotation.tailrec
  private def onLive[A](id: String)(body: Session => A): Option[A] =
    Option(sessions.get(id)) match {
      case None => None
      case Some(s) =>
        s.running.synchronized {
          if (sessions.get(id) eq s) Some(body(s)) else None
        } match {
          case None => onLive(id)(body)
          case done => done
        }
    }

  /** `body` under the monitors of the live sessions among `owners`
    * (taken in id order, and taken again if the owners changed while we
    * waited): a job reading their frames through CachedResults views
    * runs while none of them can be released. Spark re-persists a cached
    * frame's buffers when a scan planned before its unpersist runs after
    * it, and nothing would ever drop those again — so every job the
    * server runs over a session's frame (pages, row writes, view reads)
    * holds that session's monitor, and [[release]] runs only under it. */
  private def reading[A](owners: => Seq[String])(body: => A): A = {
    val ids = owners.distinct.sorted
    def holding(held: Seq[String]): Option[A] = held match {
      case Seq() => if (owners.distinct.sorted == ids) Some(body) else None
      case id +: rest => onLive(id)(_ => holding(rest)).getOrElse(holding(rest))
    }
    holding(ids).getOrElse(reading(owners)(body))
  }

  /** Tear query `id` down ([[teardown]]) for close/cancel/remove:
    * `{"<done>": true}`, or 404 when nothing existed. */
  private def end(id: String, done: String): (Int, String) = {
    val (found, aliases) = teardown(id)
    reapRows(aliases)
    if (found) (200, s"""{"$done": true}""") else (404, err("unknown queryId"))
  }

  /** The owning principal of a query id — live session first, then the
    * durable definition ("" = ownerless). */
  private def queryOwner(id: String): String =
    definition(id).fold("")(_._1.owner)

  /** The owning principal of a loaded CachedResults alias: the alias
    * inherits its owning QUERY's principal (CachedResultsBean.java:342 —
    * rows are keyed by owner, aliases are not cross-principal handles). */
  private def aliasOwner(alias: String): String =
    Option(loadedAliases.get(alias.toLowerCase)).map(queryOwner)
      .getOrElse("")

  /** `POST /accumulo/validateVisibilities?visibilities=v1,v2,…` — the
    * reference's visibility-expression pre-check
    * (UpdateBean.java:49-52 `/Accumulo/ValidateVisibilities`): parse
    * each submitted expression with the SAME parser the enforcement
    * path uses ([[graft.vis.Visibility.parse]]) and report
    * per-expression validity, so a client can vet a marking BEFORE
    * writing rows that would then fail (or worse, fail-closed hide)
    * at read time. Purely syntactic — no data access, no principal
    * resolution; commas are not part of the visibility grammar, so the
    * comma-separated list is unambiguous. */
  private def validateVisibilities(params: Map[String, String])
      : (Int, String) = {
    val exprs = csv(need(params, "visibilities"))
    if (exprs.isEmpty) refuse(400, "no visibility expressions given")
    val results = exprs.map { e =>
      // parse may refuse by Option OR by exception — both are "invalid"
      val valid = scala.util.Try(graft.vis.Visibility.parse(e))
        .toOption.flatten.isDefined
      s"""{"visibility": ${quote(e)}, "valid": $valid}"""
    }
    (200, s"""{"results": [${results.mkString(",")}]}""")
  }

  /** `GET /user/listEffectiveAuthorizations[?proxiedEntities=e1,e2]` —
    * UserOperationsBean.java:111-115: "what authorizations will I
    * actually get?" The resolved effective GRANT for the caller — chain-
    * intersected when proxied entities are present — so a client can
    * construct a valid downgrade request instead of guessing and eating
    * 403s (ClientLoginExampleBean.java:78 calls this before querying).
    * Reports the grant itself: a stray `auths=` downgrade param is
    * ignored, not validated. 401 unknown caller/entity ([[chain]]);
    * 404 when no registry is configured — an embedded-library deployment
    * has no server-resolved grant to introspect. */
  private def listEffectiveAuths(params: Map[String, String]): (Int, String) = {
    val granted = grant(params.removed("auths"))
      .getOrElse(refuse(404, "no principal registry configured"))
    val chain = principalChain(params)
    (200, s"""{"user": ${quote(chain.head)},""" +
      s""" "proxiedEntities": [${chain.tail.map(quote).mkString(",")}],""" +
      s""" "auths": [${granted.toSeq.sorted.map(quote).mkString(",")}]}""")
  }

  /** `GET /user/flushCachedCredentials` — the reference's cache-evict
    * sibling (UserOperationsBean flush). This registry is served live
    * (no credential cache to evict), so the verb is the CONTRACT only:
    * 401 for an unknown caller or proxied entity, 200 acknowledging the
    * flush for a registered one — a client written against the
    * reference keeps working. */
  private def flushCachedCredentials(params: Map[String, String])
      : (Int, String) = {
    val user = caller(params)
      .getOrElse(refuse(404, "no principal registry configured"))
    (200, s"""{"user": ${quote(user)}, "flushed": true}""")
  }

  /** Shared create core: validate, audit, plan, open the session, record
    * the create metric; returns the new id. */
  private def doCreate(params: Map[String, String]): String = {
    val d = queryDef(params)
    val id = newId()
    // audit BEFORE execution (QueryExecutorBean.java:704-740: an
    // auditor failure fails the create — QUERY_AUDITING_ERROR); plan
    // eagerly so a bad query or orderBy fails the create call (the
    // reference's createQuery semantics), not the first page
    try {
      open(id, d, audited(params, id, d.query, d.syntax, d.table)(plan(d)))
      created(params, id, d, d.table)
      id
    } catch { case e: Exception => refuse(400, e.getMessage) }
  }

  /** `TYPE:value[,TYPE:value…]` terms — shared by every lookup
    * endpoint so the parse rules cannot drift between them. */
  private def parseTerms(raw: String): Seq[(String, String)] =
    raw.split(',').toSeq.filter(_.nonEmpty).map { t =>
      t.split(":", 2) match {
        case Array(k, v) if v.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"malformed lookup term '$t' (want TYPE:value)")
      }
    }

  /** Shared lookup-session start (createUUIDQueryAndNext shape): audit,
    * run, open the session, serve the FIRST page on the create response.
    * Both lookup endpoints delegate here so the audit/session/first-page
    * rules cannot drift between them. */
  private def lookupSession(params: Map[String, String], query: String,
                            syntax: String, logicName: String,
                            selectors: Option[Seq[String]])
                           (body: Option[Set[String]] => DataFrame): (Int, String) = {
    // lookups honor the principal registry too (unknown caller = 401,
    // escalation = 403) — and the RESOLVED set flows into the lookup
    // itself so row-level visibility enforcement applies to the served
    // rows, not just the gate (LookupUUIDUtil runs the resolved chain's
    // auths through the delegate logic)
    val auths = grant(params)
    val d = QueryDef("", query, syntax, auths = auths, owner = ownerOf(params),
      pageSize = pageSize(params, defaultPageSize))
    val id = newId()
    open(id, d,
      audited(params, id, query, syntax, logicName, selectors)(body(auths)))
    created(params, id, d, logicName)
    // the first page rides the create response
    onLive(id)(_.running.nextPageJson()).flatten match {
      case Some((rows, pageNum)) => (200, firstPage(id, rows, pageNum))
      case None => (200, firstPage(id, Array.empty, 1))
    }
  }

  private def firstPage(id: String, rows: Array[String], pageNum: Long): String =
    s"""{"queryId": "$id", "page": $pageNum, "rows": [${rows.mkString(",")}]}"""

  private def lookupUuid(params: Map[String, String]): (Int, String) = {
    val reg = uuidRegistry
    val terms = parseTerms(need(params, "terms"))
    // audit-before-execute applies to lookups too (they run full
    // queries); the rendered LUCENE disjunction is the audited query
    val rendered = LookupUUID.queryString(reg, terms)
    lookupSession(params, rendered, "LUCENE", "lookupUUID",
      selectors = None) { auths =>
      LookupUUID.lookup(reg, terms, tableMap, logic,
        QueryParams(auths = auths))
    }
  }

  /** `GET /lookupUID?uids=uid[,uid…][&pageSize=N]` — the reference's
    * `/lookupUID/{uid}` + batch form (LookupUIDQueryLogic): all terms
    * are event terms, so the event query is skipped and the stored
    * documents for the UIDs page back directly. Requires a `content`
    * table registered on the server. */
  private def lookupUid(params: Map[String, String]): (Int, String) = {
    val contentTable = content
    val raw = need(params, "uids")
    val uids = csv(raw)
    // the uids themselves are the audit selectors (the
    // SplitSelectorExtractor shape — not parseable as a query)
    lookupSession(params, raw, "UID", "lookupUID",
      selectors = Some(uids)) { auths =>
      LookupUUID.lookupUid(LookupUUID.Registry(uuidTypes),
        Seq("event" -> uids.mkString(" ")), tableMap, contentTable,
        params = QueryParams(auths = auths))
    }
  }

  /** `GET /translateId?id=X` / `GET /translateIDs?ids=a,b[,…]`
    * (IdTranslatorBean.java:155-231): probe the id(s) against EVERY
    * registered UUID type in one LUCENE disjunction; the FIRST page is
    * the whole answer and the query is auto-closed — callers never call
    * next/close (the reference's documented contract). 204 on no hits. */
  private def translateId(params: Map[String, String]): (Int, String) = {
    val reg = uuidRegistry
    val ids = params.get("id").map(Seq(_)).orElse(params.get("ids").map(csv))
      .getOrElse(refuse(400, "missing 'id' or 'ids'"))
    // translations serve data rows — the registry gates them AND the
    // resolved auths filter what the translation may reveal
    val auths = grant(params)
    val n = pageSize(params, defaultPageSize)
    val rendered = LookupUUID.translateQueryString(reg, ids)
    val result = audited(params, newId(), rendered, "LUCENE", "translateId") {
      LookupUUID.translate(reg, ids, tableMap, logic,
        QueryParams(auths = auths))
    }
    // one page, deterministic order, then done — no session survives;
    // the over-fetch by one row surfaces truncation explicitly (the
    // reference's X-Partial-Results signal) instead of dropping hits
    // silently
    val fetched = result.orderBy(result.columns.head)
      .limit(if (n == Int.MaxValue) n else n + 1)
      .toJSON.collect()
    val partial = fetched.length > n
    val rows = if (partial) fetched.dropRight(1) else fetched
    if (rows.isEmpty) (204, "")
    else (200,
      s"""{"partial": $partial, "rows": [${rows.mkString(",")}]}""")
  }

  /** `GET /query/list` — the caller's active queries (QueryExecutorBean
    * `/list`): id, definition, and paging position per session. */
  private def list(params: Map[String, String]): (Int, String) = {
    import scala.jdk.CollectionConverters._
    // with a registry, the listing is the CALLER'S queries
    // (QueryExecutorBean.java:1092 comment); admins see every session
    val who = scope(params)
    val mine = sessions.asScala.toSeq.filter { case (_, s) => shows(who, s.defn.owner) }
    val rows = mine.sortBy(_._1).map { case (id, s) =>
      s"""{"queryId": ${quote(id)}, "query": ${quote(s.defn.query)},""" +
        s""" "syntax": ${quote(s.defn.syntax)}, "pagesServed": ${s.running.pagesServed}}"""
    }
    (200, rows.mkString("[", ",", "]"))
  }

  /** `GET /query/listQueryLogic` — the dispatchable logic/table names
    * (QueryExecutorBean `/listQueryLogic`); catalog names are still
    * registry-gated like /admin/listTables (401 unknown caller). */
  private def listQueryLogic(params: Map[String, String]): (Int, String) = {
    grant(params)
    (200, tableMap.keys.toSeq.sorted.map(quote).mkString("[", ",", "]"))
  }

  /** `POST /query/duplicate?id=…[&pageSize=N]` — a NEW query id over the
    * same definition, paging restarted from page 1 (QueryExecutorBean
    * `/{id}/duplicate`). The persisted frame is shared, not re-planned. */
  private def duplicate(params: Map[String, String]): (Int, String) =
    // the read-copy-put runs under the source's monitor, so it is
    // atomic vs teardown: a concurrent close/cancel of the source
    // between our read and our put would see no other sharer and
    // unpersist the frame we are about to share (the duplicate would
    // still be correct, just uncached). Only the owner may copy a
    // session (the reference's duplicate path runs the :1146
    // ownership check); the COPY belongs to the caller — same
    // principal unless an admin duplicated it for themselves.
    withSession(params) { s =>
      val d = s.defn.copy(pageSize = pageSize(params, s.defn.pageSize),
        owner = if (ownerOf(params).nonEmpty) ownerOf(params)
                else s.defn.owner)
      val id = newId()
      // a duplicate is a NEW query and audits as one (the reference
      // re-enters createQuery with the copied definition)
      audited(params, id, d.query, d.syntax, "duplicate")(())
      open(id, d, s.df)
      // the duplicate is a query of its own: without a metric row its
      // durable pages would be orphans the summary's metric-join drops
      created(params, id, d, d.table)
      (200, s"""{"queryId": "$id"}""")
    }

  /** `POST /query/reset?id=…` — same query id, paging restarted
    * (QueryExecutorBean `/{id}/reset`: releases resources and re-runs;
    * the persisted frame survives, the cursor state does not). */
  private def reset(params: Map[String, String]): (Int, String) =
    // the read-copy-put below runs under the session's monitor, so it
    // is atomic vs a concurrent /query/update: a reset racing it could
    // put a Session built from the stale pre-update snapshot, clobbering
    // the updated definition and leaking the update's newly persisted
    // frame (no session would reference it, so release could never
    // unpersist it)
    withSession(params) { s =>
      val id = qid(params)
      try {
        // a reset is a fresh run and RE-audits as one (the reference
        // re-enters the audit path on reset, QueryExecutorBean.java:
        // 1235-1266, and fails the reset on audit error) — otherwise a
        // caller under ACTIVE auditing could replay the full result set
        // via reset with no audit record
        audited(params, id, s.defn.query, s.defn.syntax, "reset")(())
        cursor.close(id)
        // ALL pages of earlier runs stay in the ledger (served is
        // served — summary totals must not depend on flush timing); the
        // fresh run numbers its pages under the NEXT attempt so two runs
        // never collide, and the per-id view shows only the latest
        // attempt. The re-persisted (pagesServedBase, offsetBase) track
        // the RESTARTED run.
        open(id, s.defn, s.df, attempt = s.running.attempt + 1)
        (200, """{"reset": true}""")
      } catch { case e: Exception => (400, err(e.getMessage)) }
    }

  /** `GET /query/predict?table=T&query=Q[&syntax=…][&model=M]` — the
    * reference's `/{logicName}/predict` (QueryExecutorBean.java:990-1054):
    * validate and PLAN the query, then ask the configured predictors for
    * named cost predictions without running a single job: the registry
    * gates the caller, but the plan carries no auths, so no visibility
    * probe runs. No predictors → `hasResults=false` (NoOpQueryPredictor
    * deployment). */
  private def predict(params: Map[String, String]): (Int, String) = {
    val d = queryDef(params)
    predicted(plan(d.copy(auths = None)), d.table)
  }

  /** The configured predictors' answer for a planned frame — logic-aware:
    * the history predictor prices `table` off its own past runs, never a
    * cross-logic mean. */
  private def predicted(df: DataFrame, table: String): (Int, String) = {
    val preds = Predict.predict(df, table, effectivePredictors)
    if (preds.isEmpty) (200, """{"hasResults": false}""")
    else {
      val items = preds.map(p =>
        s"""{"name": ${quote(p.name)}, "value": ${p.value}}""")
      (200, s"""{"hasResults": true, "predictions": [${items.mkString(",")}]}""")
    }
  }

  /** `POST /query/update?id=…[&pageSize=N][&orderBy=…][&query=Q]` — the
    * reference's `/{id}/update` (QueryExecutorBean.java:2837-2940):
    * pageSize/orderBy take effect on SUBSEQUENT pages (paging position
    * kept — pages served stay served); a query-TEXT change is auditable
    * and must pass the auditor first (audit failure fails the update),
    * then re-plans under the session's model and auths and updates the
    * stored DEFINITION — the one reset/duplicate/restart-resume re-plan
    * from — matching the reference's settings-mutation semantics. */
  private def update(params: Map[String, String]): (Int, String) =
    withSession(params) { s =>
      try {
        val id = qid(params)
        touchSession(id)
        val d = s.defn.copy(query = params.getOrElse("query", s.defn.query),
          pageSize = pageSize(params, s.defn.pageSize),
          orderBy = params.get("orderBy").map(csv).getOrElse(s.defn.orderBy))
        // withSession holds the session's monitor and every verb that
        // replaces or ends a live session takes it, so nothing changes
        // the session between here and our put — audit-then-apply is
        // atomic (the reference audits exactly the updates it applies),
        // and the re-plan holds no server-wide lock
        if (params.contains("query") && !tableMap.contains(d.table))
          (400, err("query update requires a table-backed session"))
        else {
          val df =
            if (params.contains("query"))
              audited(params, id, d.query, d.syntax, "update")(plan(d))
            else s.df
          // paging position is KEPT: same run, and the durable cursor
          // offset survives the swap
          open(id, d, df, startPage = s.running.pagesServed,
            attempt = s.running.attempt)
          if (!(df eq s.df)) release(s) // ref-counted old frame drop
          (200, """{"updated": true}""")
        }
      } catch { case e: Exception => (400, err(e.getMessage)) }
    }

  /** `POST /query/cancel?id=…` — abort + release (QueryExecutorBean
    * `/{id}/cancel`; pages already served stay served). */
  private def cancel(params: Map[String, String]): (Int, String) =
    // owner-gated (QueryExecutorBean adminCancel is the admin override)
    end(ownedQuery(params), "canceled")

  /** `POST /query/define?table=T&query=Q[&syntax=…][&pageSize=N]
    * [&orderBy=…]` — the reference's `/{logicName}/define`
    * (QueryExecutorBean.java:622: validate + persist the definition,
    * do NOT begin execution): the query parses and plans for
    * validation, then only the DURABLE definition is written — no
    * session, no cached frame, no jobs. The first `/query/next` (or
    * duplicate/reset) resumes it through the restart-resume path.
    * Deviation, documented: the define itself is audited (our
    * audit-before-execute discipline needs the caller's user context,
    * which the lazy resume no longer has; the reference defers the
    * audit to its execute verbs). */
  private def define(params: Map[String, String]): (Int, String) = {
    val d = queryDef(params)
    val id = newId()
    // schema resolution only — a bad query or unknown orderBy fails
    // the define, but nothing executes and nothing caches
    val planned = audited(params, id, d.query, d.syntax, d.table)(plan(d))
    val defn = ordered(d, planned)
    RunningQuery.checkOrder(planned, defn.orderBy)
    writeDef(id, Saved(defn))
    created(params, id, defn, d.table)
    (200, s"""{"queryId": "$id"}""")
  }

  /** `GET /query/get?id=…` — the reference's `GET /{id}`
    * (listQueryByID): the stored definition of a live OR defined query. */
  private def getDefinition(params: Map[String, String]): (Int, String) = {
    // READ verb: must not resume — inspecting a defined-but-never-
    // executed query leaves it session-less and frame-less (define's
    // contract), so absent a live session the durable record is read
    // directly instead of through session()/resumeSession(). The stored
    // definition (query text, table) is the owner's — reading it is
    // gated like the reference's listQueryByID.
    val id = ownedQuery(params)
    val (d, served) = definition(id).getOrElse(refuse(404, "unknown queryId"))
    (200, s"""{"queryId": ${quote(id)},""" +
      s""" "table": ${quote(d.table)}, "query": ${quote(d.query)},""" +
      s""" "syntax": ${quote(d.syntax)}, "pageSize": ${d.pageSize},""" +
      s""" "orderBy": ${quote(d.orderBy.mkString(","))},""" +
      s""" "pagesServed": $served}""")
  }

  /** `GET /query/predictions?id=…` — the reference's `/{id}/predictions`:
    * the configured predictors run against the CREATED query's planned
    * frame (no execution beyond what the session already did). */
  private def predictions(params: Map[String, String]): (Int, String) = {
    // READ verb: like /query/get, resolves the durable definition
    // directly when no live session exists — the prediction plans the
    // frame (definitionFrame) but registers no session and persists
    // nothing, so a defined query does not appear in /query/list after.
    val id = ownedQuery(params)
    val (d, _) = definition(id).getOrElse(refuse(404, "unknown queryId"))
    try predicted(definitionFrame(id), if (d.table.nonEmpty) d.table else "unknown")
    catch { case e: Exception => (400, err(e.getMessage)) }
  }

  /** `POST /query/remove?id=…` — the reference's `/{id}/remove`: close
    * if running AND delete the persisted definition (close + persister
    * remove, QueryExecutorBean.java:2616). [[teardown]] already does
    * both for this storage model. */
  private def remove(params: Map[String, String]): (Int, String) =
    end(ownedQuery(params), "removed")

  /** `POST /query/execute?table=T&query=Q[&syntax=…][&orderBy=…]` — the
    * reference's `/{logicName}/execute`: run the query and STREAM every
    * result row in ONE response (the streamed-attachment verb), leaving
    * nothing behind — no session, no cached frame, no pages. Rows flow
    * through `toLocalIterator` into a chunked response, so driver
    * memory holds one partition, never the result set; as with any
    * streamed response, a mid-stream failure truncates the body after
    * the 200 committed (the reference's attachment stream shares this).
    * Validation/audit failures, arriving before the stream opens, are
    * proper error statuses. */
  private val executeHandler: HttpHandler = ex =>
    try {
      val params = requestParams(ex)
      // execute streams data — same registry gate + resolved-auths
      // enforcement as /query/create (the reference's execute verb
      // runs under the caller's principal exactly like create)
      val d = queryDef(params)
      val id = newId()
      val result = audited(params, id, d.query, d.syntax, d.table)(plan(d))
      val rows =
        if (d.orderBy.isEmpty) result
        else {
          RunningQuery.checkOrder(result, d.orderBy)
          result.orderBy(d.orderBy.map(RunningQuery.orderColumn): _*)
        }
      created(params, id, d, d.table)
      // chunked from here on: partitions stream through the driver
      // one at a time
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, 0)
      val os = ex.getResponseBody
      try {
        os.write(s"""{"queryId": "$id", "rows": ["""
          .getBytes(StandardCharsets.UTF_8))
        val it = rows.toJSON.toLocalIterator()
        var first = true
        while (it.hasNext) {
          if (!first) os.write(','.toInt)
          os.write(it.next().getBytes(StandardCharsets.UTF_8))
          first = false
        }
        os.write("]}".getBytes(StandardCharsets.UTF_8))
      } finally { os.close(); ex.close() }
    } catch {
      case r: Refusal => respond(ex, r.status, err(r.msg))
      case e: Exception =>
        // response not yet committed → proper error; committed →
        // close truncates (documented above)
        try respond(ex, 400, err(e.getMessage))
        catch { case _: Exception => ex.close() }
    }

  /** Shared close/cancel/expire teardown: remove the session, release
    * its frame (ref-counted), drop cursor state AND the durable
    * definition. A session may exist only on disk (server restarted,
    * nothing paged since) — close must still delete the stored
    * definition + cursor, matching the reference storage-service
    * delete-on-close, or the file leaks and a later `/query/next`
    * silently resurrects the supposedly-closed query. Aliases the query
    * loaded via `/cachedresults/load` UNBIND with it; the returned names
    * must be handed to [[reapRows]] (the rows deletes are too heavy for
    * the share lock). A live session ends under its monitor: a page or
    * row write in flight finishes first, none starts after, and the
    * wait holds no server-wide lock. The unbind, the definition delete
    * and the removal from `sessions` then run as one step under
    * [[shareLock]], so a load either binds its alias before (and sees
    * it unbound) or finds no query, and a restart-resume finds the
    * session or no definition. `evict` is checked in that step; when it
    * is false nothing is torn down. Returns (session existed, unbound
    * aliases). */
  private def teardown(id: String, evict: => Boolean = true)
      : (Boolean, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    def unbind(): Seq[String] = {
      val aliases =
        loadedAliases.asScala.collect { case (a, q) if q == id => a }.toSeq
      aliases.foreach(unbindAlias) // durable: reapRows deletes the stores
      if (aliases.nonEmpty) persistAliases()
      aliases
    }
    def forget(): Unit = { lastUsed.remove(id); lastDiskTouch.remove(id) }
    onLive(id) { s =>
      val ended = shareLock.synchronized {
        if (!evict) None
        else {
          val aliases = unbind()
          dropSessionFile(id)
          sessions.remove(id)
          Some(aliases)
        }
      }
      ended.foreach { _ => release(s); cursor.close(id); forget() }
      ended.fold((false, Seq.empty[String]))((true, _))
    }.getOrElse {
      // no live session: the definition alone, unless a resume opened
      // one since we looked
      shareLock.synchronized {
        if (sessions.containsKey(id)) None
        else if (!evict) Some((false, Seq.empty[String]))
        else {
          val hadFile = java.nio.file.Files.exists(sessionFile(id))
          if (hadFile) { cursor.close(id); dropSessionFile(id) }
          val aliases = unbind()
          forget()
          Some((hadFile, aliases))
        }
      }.getOrElse(teardown(id, evict))
    }
  }

  /** `GET /lookupContentUUID?terms=TYPE:value[,…][&uidField=c]` — the
    * reference's content-returning UUID lookup (`/lookupContentUUID`,
    * LookupUUIDUtil content.lookup=true): resolve the UUID terms, then
    * fetch the stored documents for the hit uids from the server's
    * `content` table. `uidField` names the hit column carrying the uid
    * (default `uid`). */
  private def lookupContentUuid(params: Map[String, String]): (Int, String) = {
    val reg = uuidRegistry
    val contentTable = content
    val raw = need(params, "terms")
    // content lookups serve stored documents — registry-gated, and the
    // resolved auths filter both the hit query AND the content fetch
    val qp = QueryParams(auths = grant(params))
    val terms = parseTerms(raw)
    val rendered = LookupUUID.queryString(reg, terms)
    val docs = audited(params, newId(), rendered, "LUCENE",
      "lookupContentUUID") {
      LookupUUID.contentLookup(contentTable,
        LookupUUID.lookup(reg, terms, tableMap, logic, qp),
        uidCol = params.getOrElse("uidField", "uid"), params = qp)
    }
    val rows = docs.toJSON.collect() // bounded by contentLookup maxDocs
    (200, s"""{"rows": [${rows.mkString(",")}]}""")
  }

  /** The UUID-type registry, or 404 on a server that registers none. */
  private def uuidRegistry: LookupUUID.Registry =
    if (uuidTypes.isEmpty) refuse(404, "no UUID types registered on this server")
    else LookupUUID.Registry(uuidTypes)

  /** The stored-document table, or 404 on a server without one. */
  private def content: DataFrame =
    tableMap.getOrElse("content",
      refuse(404, "no content table registered on this server"))

  private def next(params: Map[String, String]): (Int, String) =
    // paging is principal-bound: only the creating owner (or an admin)
    // may drain a session (QueryExecutorBean.java:1094 next-path
    // QUERY_OWNER_MISMATCH)
    withSession(params) { s =>
      touchSession(qid(params)) // paging resets the idle-eviction clock
      // a top-k job for the first page, then slices of the rows the
      // second page collected (a job per page only above the DriverSet
      // ceiling); "page" is the 1-based page NUMBER, matching the
      // pageNum /query/metrics reports for it
      s.running.nextPageJson() match {
        case Some((rows, pageNum)) =>
          (200, s"""{"page": $pageNum, "rows": [${rows.mkString(",")}]}""")
        case None => (204, "")
      }
    }

  /** Like the reference's plan response, leads with the canonical JEXL
    * rendering of the (translated) query, then the physical plan.
    * Two forms, mirroring the reference's two plan verbs:
    *  - `?id=…` — the plan of a CREATED query (GET `/{id}/plan`);
    *  - `?table=T&query=Q[&syntax=…][&model=M]` — plan WITHOUT creating
    *    (POST `/{logicName}/plan`, QueryExecutorBean.java:848-851):
    *    validate + optimize only, no session, no jobs, nothing cached —
    *    a planning probe can run thousands of these without residue. It
    *    reveals schema + plan structure, so the registry gates the
    *    caller (401 unknown), but the plan carries no auths, so the
    *    rendered plan names no grant. */
  private def explain(params: Map[String, String]): (Int, String) = {
    def render(d: QueryDef, df: DataFrame): String = {
      val jexl =
        try graft.jexl.JexlRender.render(
          if (d.syntax.equalsIgnoreCase("LUCENE")) graft.jexl.LuceneParser.parse(d.query)
          else graft.jexl.JexlParser.parse(d.query))
        catch { case _: Exception => d.query }
      s"JEXL: $jexl\n" + df.queryExecution.executedPlan.toString
    }
    if (params.contains("id"))
      withSession(params)(s => (200, render(s.defn, s.df)))
    else {
      val d = queryDef(params)
      try (200, render(d, plan(d.copy(auths = None))))
      catch { case e: Exception => (400, err(e.getMessage)) }
    }
  }

  private def metrics(params: Map[String, String]): (Int, String) = {
    // a query's page history is the owner's (QueryMetricsBean serves
    // the caller's own metrics; admins see all)
    val id = ownedQuery(params)
    // durable history outlives the session (a restarted server or a
    // closed query keeps its recorded pages); a table-less server has
    // no ledger at all
    val ledger = sparkOf.fold(Seq.empty[PageMetric])(metricsStore.pages(_, id))
    if (ledger.isEmpty && !sessions.containsKey(id) &&
        !java.nio.file.Files.exists(sessionFile(id)))
      refuse(404, "unknown queryId")
    val pages = ledger.map(p =>
      s"""{"page": ${p.pageNum}, "rows": ${p.rows},""" +
        s""" "elapsedMillis": ${p.elapsedMillis}, "status": ${quote(p.status)}}""")
    (200, s"""{"queryId": ${quote(id)}, "pages": [${pages.mkString(",")}]}""")
  }

  /** `POST /cachedresults/load?id=…&alias=A` — the reference's
    * CachedResults `load` (CachedResultsBean: materialize a finished
    * query's results as a TABLE the caller then runs SQL against; the
    * reference ships pages to MySQL, here the persisted frame registers
    * as a temp view natively). The session stays open — closing it later
    * drops the cache but the view definition remains valid (re-plans). */
  // ---- bulk export jobs (MapReduceBean.java:181-988) -----------------

  /** `GET /mapreduce/listConfigurations[?jobType=…]` — the configured
    * job catalog (MapReduceBean:181-199). */
  private def mrListConfigurations(
      params: Map[String, String]): (Int, String) = {
    val items = bulkJobs.listConfigurations(params.get("jobType")).map(c =>
      s"""{"jobName": ${quote(c.name)}, "jobType": ${quote(c.jobType)},""" +
        s""" "description": ${quote(c.description)},""" +
        s""" "requiredRoles": [${c.requiredRoles.map(quote).mkString(",")}],""" +
        s""" "requiredRuntimeParameters": [${
          c.requiredParams.map(quote).mkString(",")}]}""")
    (200, s"[${items.mkString(",")}]")
  }

  /** `POST /mapreduce/submit?jobName=…&parameters=name:value;…
    * [&roles=…]` — validate job name / roles / required parameters,
    * start the export ASYNC, answer the new job id
    * (MapReduceBean.submit:376-430). */
  private def mrSubmit(params: Map[String, String]): (Int, String) = {
    val jobName = need(params, "jobName")
    // with a registry, the submitter must be a known principal (the job
    // serves that principal's query results) and the job records them
    // as its owner — every later job verb is owner-gated
    grant(params)
    // a BulkResults job exports the rows of a DEFINED query under that
    // definition's resolved auths — shipping another principal's
    // definition into a job the caller owns would launder its rows past
    // the ownership gates, so the referenced query must be the caller's
    val runtime =
      try bulkJobs.parseParams(params.getOrElse("parameters", ""))
      catch { case _: IllegalArgumentException => Map.empty[String, String] }
    runtime.get("queryId").foreach(qId => ownedBy(params, queryOwner(qId)))
    bulkJobs.submit(jobName, params.getOrElse("parameters", ""),
      params.getOrElse("roles", "").split(',').toSet.filter(_.nonEmpty),
      owner = ownerOf(params)) match {
      case Left((st, msg)) => (st, err(msg))
      case Right(id) => (200, s"""{"jobId": "$id"}""")
    }
  }

  /** `GET /mapreduce/list[?jobId=…]` — all job ids, or one job's state
    * + result files with sizes (MapReduceInfoResponse). */
  private def mrList(params: Map[String, String]): (Int, String) =
    params.get("jobId") match {
      case None =>
        // with a registry the listing is the CALLER'S jobs (the
        // reference's state persister scans by userid; admins see all)
        val who = scope(params)
        val ids = bulkJobs.listJobIds.filter(id => shows(who, bulkJobs.jobOwner(id)))
        (200, s"[${ids.map(quote).mkString(",")}]")
      case Some(_) =>
        val (name, state, files) = bulkJobs.info(ownedJob(params))
          .getOrElse(refuse(404, "unknown jobId"))
        val fs = files.map { case (n, sz) =>
          s"""{"name": ${quote(n)}, "size": $sz}""" }
        (200, s"""{"jobName": ${quote(name)}, "state": ${quote(state)},""" +
          s""" "resultFiles": [${fs.mkString(",")}]}""")
    }

  /** `POST /mapreduce/cancel?jobId=…` — abort the job group's running
    * Spark stages (the reference kills the running application). */
  private def mrCancel(params: Map[String, String]): (Int, String) =
    // owner-gated; adminUsers retain the reference's adminCancel
    // override (MapReduceBean.java:2409 adminCancel)
    if (bulkJobs.cancel(ownedJob(params))) (200, """{"canceled": true}""")
    else (404, err("unknown jobId"))

  /** `POST /mapreduce/restart?jobId=…` — cancel + resubmit the same
    * definition as a NEW job id (MapReduceBean.restart:669-690). */
  private def mrRestart(params: Map[String, String]): (Int, String) =
    bulkJobs.restart(ownedJob(params)) match {
      case Left((st, msg)) => (st, err(msg))
      case Right(id) => (200, s"""{"jobId": "$id"}""")
    }

  /** `POST /mapreduce/remove?jobId=…` — cancel if running, drop state
    * and result files (MapReduceBean.remove:983-1010). */
  private def mrRemove(params: Map[String, String]): (Int, String) =
    if (bulkJobs.remove(ownedJob(params))) (200, """{"removed": true}""")
    else (404, err("unknown jobId"))

  /** Bulk job `jobId` once the caller passes its owner's gate. */
  private def ownedJob(params: Map[String, String]): String = {
    val jobId = params.getOrElse("jobId", "")
    ownedBy(params, bulkJobs.jobOwner(jobId))
    jobId
  }

  /** `GET /mapreduce/getFile?jobId=…&fileName=…` — stream one result
    * file's bytes (MapReduceBean.getResultFile:753; path-confined to
    * the job's results directory). */
  private val mrGetFileHandler: HttpHandler = ex =>
    try {
      val params = requestParams(ex)
      // result files hold rows materialized under the SUBMITTER'S
      // auths — streaming them is owner-gated like every data verb
      // (MapReduceBean.getResultFile serves the caller's own job)
      val path = bulkJobs.resultFile(ownedJob(params),
        params.getOrElse("fileName", ""))
        .getOrElse(refuse(404, "unknown jobId or fileName"))
      // size+copy can race a concurrent /mapreduce/remove — answer a
      // structured 404 like every handler()-wrapped endpoint rather than
      // dropping the exchange
      try {
        val size = java.nio.file.Files.size(path)
        ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
        ex.sendResponseHeaders(200, size)
        val os = ex.getResponseBody
        try java.nio.file.Files.copy(path, os) finally os.close()
      } catch {
        case _: java.io.IOException => refuse(404, "result file no longer available")
      }
    } catch {
      case r: Refusal =>
        try respond(ex, r.status, err(r.msg))
        catch { case _: java.io.IOException => () } // headers already sent
    } finally ex.close()

  // ---- modification service (ModificationBean.java:88-134) -----------

  /** `GET /modification/listConfigurations` — the registered services:
    * name, request class, description, authorized roles
    * (ModificationService.listConfigurations:58-70). */
  private def modListConfigurations(
      params: Map[String, String]): (Int, String) = {
    val items = modifications.listConfigurations.map(c =>
      s"""{"name": ${quote(c.name)},""" +
        s""" "requestClass": ${quote(c.requestClass)},""" +
        s""" "description": ${quote(c.description)},""" +
        s""" "authorizedRoles": [${c.authorizedRoles.map(quote).mkString(",")}]}""")
    (200, s"[${items.mkString(",")}]")
  }

  /** `GET /modification/getMutableFieldList`
    * (ModificationCacheBean.java:115). */
  private def modGetMutableFields(
      params: Map[String, String]): (Int, String) = {
    val items = modifications.cache.mutableFieldList.toSeq.sortBy(_._1)
      .map { case (dt, fs) =>
        s"""${quote(dt)}: [${fs.toSeq.sorted.map(quote).mkString(",")}]""" }
    (200, s"{${items.mkString(",")}}")
  }

  /** `GET /modification/reloadCache` — re-scan the mutable-field source
    * and atomically swap (ModificationCacheBean.java:86), answering the
    * refreshed list. */
  private def modReloadCache(params: Map[String, String]): (Int, String) = {
    modifications.cache.reload()
    modGetMutableFields(params)
  }

  /** `POST /modification/submit?service=…&requestClass=…&table=…&mode=
    * INSERT|DELETE|UPDATE&uid=…&datatype=…&field=…[&value=…][&oldValue=…
    * &newValue=…][&shardDate=…][&visibility=…][&user=…][&roles=r1,r2]
    * [&ts=millis]` — the `/{serviceName}/submit` verb: resolve the
    * service, validate request class / caller roles / field mutability,
    * apply the edit, REBIND the served table to the edited frame. `ts`
    * injects the history timestamp (the reference stamps server time;
    * a replayable trail needs injection). */
  private def modSubmit(params: Map[String, String]): (Int, String) = {
    val service = need(params, "service")
    val table = need(params, "table")
    val long = tableMap.getOrElse(table, refuse(404, s"unknown table '$table'"))
    // a configured principal registry gates mutations too (unknown
    // caller = 401 before any edit parses)
    grant(params)
    try {
      val edit = parseEdit(params)
      // resolve defaulted attribution NOW so the durable log replays
      // the exact same edit after a restart
      val user = params.getOrElse("user", "anonymous")
      val ts = params.get("ts").map(_.toLong)
        .getOrElse(System.currentTimeMillis())
      val edited = modifications.submit(long, service,
        params.getOrElse("requestClass", ""),
        params.getOrElse("roles", "").split(',').toSet.filter(_.nonEmpty),
        Seq(edit), user, ts)
      val insertHistory = modifications.listConfigurations
        .find(_.name == service).forall(_.insertHistory)
      appendEditLog(params + ("user" -> user) + ("ts" -> ts.toString),
        insertHistory)
      tableMap = tableMap.updated(table, edited)
      (200, """{"submitted": true}""")
    } catch {
      case e: ModificationRegistry.ModificationException =>
        (e.status, err(e.getMessage))
      case e: IllegalArgumentException => (400, err(e.getMessage))
    }
  }

  /** The FieldEdit a submit's parameters describe — shared by the live
    * verb and [[replayEditLog]]. */
  private def parseEdit(
      params: Map[String, String]): graft.ingest.Modifications.FieldEdit = {
    import graft.ingest.Modifications._
    val uid = params.getOrElse("uid",
      throw new IllegalArgumentException("missing 'uid'"))
    val datatype = params.getOrElse("datatype", "event")
    val field = params.getOrElse("field",
      throw new IllegalArgumentException("missing 'field'"))
    val shardDate = params.get("shardDate").map(java.sql.Date.valueOf).orNull
    val vis = params.getOrElse("visibility", "")
    params.getOrElse("mode", "").toUpperCase match {
      case "INSERT" => PutField(uid, datatype, field,
        params.getOrElse("value",
          throw new IllegalArgumentException("missing 'value'")),
        shardDate = shardDate, visibility = vis)
      case "DELETE" => DeleteField(uid, datatype, field,
        params.get("value"), shardDate = shardDate, visibility = vis)
      case "UPDATE" => UpdateField(uid, datatype, field,
        oldValue = params.getOrElse("oldValue",
          throw new IllegalArgumentException(
            "fieldValue parameter required for update")),
        newValue = params.getOrElse("newValue",
          throw new IllegalArgumentException("missing 'newValue'")),
        shardDate = shardDate, visibility = vis)
      case m => throw new IllegalArgumentException(
        s"mode must be INSERT, DELETE or UPDATE, got '$m'")
    }
  }

  // ---- durable modification log -------------------------------------
  // The reference's modification service writes THROUGH to the shard
  // table, so an accepted edit is durable by construction. Here the
  // served frames are in-memory bindings, so every 200-acknowledged
  // submit appends its (already-validated) edit to a log under
  // stateDir and construction replays the log over the constructor
  // tables — the same restart contract as the models / definitions /
  // metrics / MR tiers.

  private def editLogFile =
    java.nio.file.Paths.get(stateDir, "modifications", "editlog")

  private def appendEditLog(params: Map[String, String],
                            insertHistory: Boolean): Unit = synchronized {
    java.nio.file.Files.createDirectories(editLogFile.getParent)
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    val line = (params + ("insertHistory" -> insertHistory.toString))
      .toSeq.sortBy(_._1)
      .map { case (k, v) => enc(k) + "=" + enc(v) }.mkString("&") + "\n"
    java.nio.file.Files.write(editLogFile,
      line.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** Re-apply the logged edits (in acceptance order) over the
    * constructor tables. Validation already happened at accept time, so
    * the edits apply directly; a logged table this server life does not
    * serve is skipped (its edits re-apply when that table returns). */
  private def replayEditLog(
      base: Map[String, DataFrame]): Map[String, DataFrame] = {
    if (!java.nio.file.Files.exists(editLogFile)) base
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(editLogFile).asScala
        .filter(_.nonEmpty).foldLeft(base) { (m, line) =>
          val p = parseQuery(line)
          val table = p.getOrElse("table", "")
          m.get(table) match {
            case None => m
            case Some(df) =>
              val edited = graft.ingest.Modifications.applyEdits(df,
                Seq(parseEdit(p)),
                insertHistory =
                  p.getOrElse("insertHistory", "true").toBoolean,
                user = p.getOrElse("user", "anonymous"),
                timeMillis = p.get("ts").map(_.toLong).getOrElse(0L))
              m.updated(table, edited)
          }
        }
    }
  }

  // ---- model management (ModelBean.java:124-478) ---------------------

  /** `ALIAS:FIELD:DIRECTION[:VIS][;…]` → mappings of `name`; the wire
    * form of the reference's Model XML/JSON body. */
  private def parseMappings(raw: String, name: String): Seq[ModelMapping] =
    raw.split(';').toSeq.filter(_.nonEmpty).map { m =>
      m.split(':') match {
        case Array(a, f, d) => ModelMapping(name, a, f, d.toUpperCase)
        case Array(a, f, d, vis) => ModelMapping(name, a, f, d.toUpperCase, vis)
        case _ => throw new IllegalArgumentException(
          s"malformed mapping '$m' (want ALIAS:FIELD:DIRECTION[:VIS])")
      }
    }

  /** The session the model store lives in, or 500 on a server with no
    * table. */
  private def modelSpark: SparkSession =
    sparkOf.getOrElse(refuse(500, "no table attached; model store unavailable"))

  private def modelVerb(params: Map[String, String])(
      f: (SparkSession, String) => Either[ModelStore.ModelError, (Int, String)])
      : (Int, String) = {
    val sp = modelSpark
    // model management MUTATES shared planning state (every query may
    // resolve through a stored model) — with a registry configured the
    // caller must be a known principal, like /modification/submit
    grant(params)
    val name = need(params, "name")
    try f(sp, name) match {
      case Left(e) => (e.status, err(e.msg))
      case Right(ok) => ok
    } catch { case e: IllegalArgumentException => (400, err(e.getMessage)) }
  }

  /** `GET /model/list` — model names in the table (ModelBean
    * listModelNames; reserved record kinds never list). */
  private def modelList(params: Map[String, String]): (Int, String) =
    (200, s"""{"names": [${models.listNames(modelSpark).map(quote).mkString(",")}]}""")

  /** `GET /model/get?name=…` — the model and all its mappings
    * (ModelBean getModel; 404 when empty). */
  private def modelGet(params: Map[String, String]): (Int, String) =
    modelVerb(params) { (sp, name) =>
      models.getModel(sp, name).map { ms =>
        val fields = ms.sortBy(m => (m.alias, m.field, m.direction)).map(m =>
          s"""{"alias": ${quote(m.alias)}, "field": ${quote(m.field)},""" +
            s""" "direction": ${quote(m.direction)},""" +
            s""" "visibility": ${quote(m.visibility)}}""")
        (200, s"""{"name": ${quote(name)}, "fields": [${fields.mkString(",")}]}""")
      }
    }

  /** `POST /model/import?name=…&mappings=A:F:DIR[;…]` — create a NEW
    * model; 412 if the name exists (ModelBean importModel). */
  private def modelImport(params: Map[String, String]): (Int, String) =
    modelVerb(params) { (sp, name) =>
      models.importModel(sp, name, parseMappings(need(params, "mappings"), name))
        .map(_ => (200, """{"imported": true}"""))
    }

  /** `POST /model/clone?name=…&newName=…` (ModelBean cloneModel: 404 on
    * a missing source, 412 on an existing target). */
  private def modelClone(params: Map[String, String]): (Int, String) =
    modelVerb(params) { (sp, name) =>
      models.cloneModel(sp, name, need(params, "newName"))
        .map(_ => (200, """{"cloned": true}"""))
    }

  /** `POST /model/delete?name=…` — drop the whole model (ModelBean
    * deleteModel; 404 when absent). */
  private def modelDelete(params: Map[String, String]): (Int, String) =
    modelVerb(params) { (sp, name) =>
      models.deleteModel(sp, name).map(_ => (200, """{"deleted": true}"""))
    }

  /** `POST /model/insert?name=…&mappings=…` — add mappings to a model
    * (ModelBean insertMapping). */
  private def modelInsert(params: Map[String, String]): (Int, String) =
    modelVerb(params) { (sp, name) =>
      models.insertMappings(sp, name, parseMappings(need(params, "mappings"), name))
        .map(_ => (200, """{"inserted": true}"""))
    }

  /** `POST /model/deleteMapping?name=…&mappings=…` — remove exactly the
    * given mappings (ModelBean deleteMapping). */
  private def modelDeleteMapping(params: Map[String, String]): (Int, String) =
    modelVerb(params) { (sp, name) =>
      models.deleteMappings(sp, name, parseMappings(need(params, "mappings"), name))
        .map(_ => (200, """{"deleted": true}"""))
    }

  private def cachedLoad(params: Map[String, String]): (Int, String) = {
    // Phase 1 (locked): validate, CAS-reserve the alias, register the
    // live view, persist the registry. The ROW MATERIALIZATION runs
    // OUTSIDE the lock — it is a full Spark job writing every result
    // row, and holding shareLock for its duration would stall every
    // other verb (create/close/loadAsync) behind one big load.
    session(params) // a restart-resume plans before the lock is taken
    val (s, alias, id) = shareLock.synchronized {
      val s = session(params).getOrElse(refuse(404, "unknown queryId"))
      // only the query's owner may export it as a view
      // (CachedResultsBean.java:342: the CachedResults row is keyed
      // by getOwnerFromPrincipal)
      ownedBy(params, s.defn.owner)
      val alias = viewName(params, "alias")
      val id = qid(params)
      // an alias another live query already exported must not be
      // silently rebound under a caller mid-way through
      // /cachedresults/sql — first-writer-wins until its owner closes
      // (re-load by the SAME query is a no-op refresh)
      val owner = loadedAliases.putIfAbsent(alias.toLowerCase, id)
      if (owner != null && owner != id)
        refuse(409, s"alias '$alias' is bound to another query")
      s.df.createOrReplaceTempView(alias)
      // a synchronous load supersedes any stale async state (e.g. a
      // failed /loadAsync retried through /load must not keep
      // answering 500 on /status or the data verbs)
      asyncLoads.remove(alias.toLowerCase)
      aliasSql.remove(alias.toLowerCase) // a re-load re-binds a plain view
      // TTL clock: a (re-)load refreshes the alias's daysToLive
      aliasTs.put(alias.toLowerCase,
        java.lang.Long.valueOf(System.currentTimeMillis()))
      touchSession(id) // exporting is a use of the owning query
      persistAliases()
      (s, alias, id)
    }
    // Phase 2 (outside shareLock, under the per-alias writer lock):
    // materialize the rows durably (the reference's MySQL insert at
    // load, CachedResultsBean.load) so a restarted server serves
    // them WITHOUT re-running the owning query. A write failure or
    // a raced close/re-point degrades durability only — the live
    // view serves, and a restart takes the resume path (the
    // uncommitted/absent store reads as absent).
    val durable = writeStaged(id, s, alias)
    (200, s"""{"view": ${quote(alias)}, "durable": $durable}""")
  }

  /** `params(key)` as a view name, `[A-Za-z_][A-Za-z0-9_]*` (400
    * otherwise): it becomes a catalog view and a rows-store path. */
  private def viewName(params: Map[String, String], key: String): String = {
    val name = need(params, key)
    if (!name.matches("[A-Za-z_][A-Za-z0-9_]*")) refuse(400, s"invalid $key '$name'")
    name
  }

  /** `POST /cachedresults/update?id=…&alias=A[&from=OLDID]` — the
    * reference's CachedResults `update` (CachedResultsBean update:
    * re-point the caller's alias at a different finished query). The
    * re-point is a CAS on ownership: taking over an alias another
    * query holds requires naming that owner in `from` — a caller who
    * cannot name the owner cannot hijack a view someone else's
    * `/cachedresults/sql` pages are flowing through. The new owner
    * takes over the alias-scoped teardown. */
  private def cachedUpdate(params: Map[String, String]): (Int, String) = {
    // same three-phase shape as [[cachedLoad]]: the re-point and view
    // registration commit under the lock, the row materialization runs
    // outside it (a multi-second Spark job must not stall the server),
    // and a raced teardown drops the orphan store afterwards
    session(params) // a restart-resume plans before the lock is taken
    val (s, alias, id) = shareLock.synchronized {
      val s = session(params).getOrElse(refuse(404, "unknown queryId"))
      ownedBy(params, s.defn.owner)
      val alias = need(params, "alias")
      val owner = Option(loadedAliases.get(alias.toLowerCase))
        .getOrElse(refuse(404, s"alias '$alias' is not loaded"))
      // re-pointing steals the view from its current owning QUERY —
      // the caller must also be that query's principal
      ownedBy(params, queryOwner(owner))
      val id = qid(params)
      if (owner != id && !params.get("from").contains(owner))
        refuse(409, s"alias '$alias' is owned by another query;" +
          " pass from=<ownerId> to re-point it")
      loadedAliases.put(alias.toLowerCase, id)
      s.df.createOrReplaceTempView(alias)
      aliasSql.remove(alias.toLowerCase)
      // the reference's lastUpdated: an update refreshes the TTL
      aliasTs.put(alias.toLowerCase,
        java.lang.Long.valueOf(System.currentTimeMillis()))
      touchSession(id)
      persistAliases()
      (s, alias, id)
    }
    // the re-point replaces the durable rows too — a restart must
    // serve the NEW query's materialization; a failed write or a
    // raced close/re-point degrades to the resume path
    val durable = writeStaged(id, s, alias)
    (200, s"""{"view": ${quote(alias)}, "durable": $durable}""")
  }

  /** `GET /cachedresults/sql?sql=…[&pageSize=N]` — CachedResults
    * retrieval: arbitrary SELECT over the loaded view(s)
    * (CachedRunningQuery.java:399,486-495 builds exactly this SQL
    * against its MySQL copy; Spark SQL runs it against the cached frame
    * directly). One page of rows, bounded by pageSize. */
  private def cachedSql(params: Map[String, String]): (Int, String) = {
    val sql = need(params, "sql")
    val n = pageSize(params, defaultPageSize)
    val spark = tablesSpark
    // the reference's CachedRunningQuery only ever builds SELECTs —
    // [[guardSelect]] refuses anything else
    val refs = referencedNames(spark, sql) // one parse, reused below
    asyncGate(refs)
    // every loaded alias the statement touches is principal-bound:
    // a caller who merely knows another principal's alias NAME must
    // not read the rows that principal materialized under their own
    // auths (CachedResultsBean.java:1128 QUERY_OWNER_MISMATCH on the
    // retrieval path)
    refs.filter(n => loadedAliases.containsKey(n)).foreach(restoredOwned(params, _))
    guardSelect(spark, sql)
    val rows = reading(refs.flatMap(r => Option(loadedAliases.get(r)))) {
      spark.sql(sql).limit(n).toJSON.collect()
    }
    (200, s"""{"rows": [${rows.mkString(",")}]}""")
  }

  /** Loaded alias `n` once the caller passes its owner's gate, its view
    * live: after a restart the durable alias re-registers its view
    * lazily, and one that cannot be restored answers 404, not a raw
    * TABLE_OR_VIEW_NOT_FOUND. */
  private def restoredOwned(params: Map[String, String], n: String): Unit = {
    ownedBy(params, aliasOwner(n))
    if (!ensureAliasView(n)) refuse(404, s"alias '$n' cannot be restored")
  }

  /** The served tables' session, or 500 on a server with no table. */
  private def tablesSpark: SparkSession =
    sparkOf.getOrElse(refuse(500, "no tables registered"))

  /** The SELECT-only + loaded-relations-only guard shared by
    * /cachedresults/sql and /cachedresults/create. Gate on the PARSED
    * plan, not string prefixes: a WITH-prefixed INSERT parses fine and
    * a head-keyword check would let it mutate the shared
    * catalog/filesystem through this verb. Any Command (DDL, SET, …) or
    * insert node anywhere in the plan (subqueries included) is refused.
    * SELECT-only is not enough: runSQLOnFiles makes
    * `FROM parquet.`/any/path`` (or text.`/etc/hosts`) a read of the
    * server's entire filesystem, and bare identifiers can reach temp
    * views other callers registered. The reference's CachedResults
    * retrieval only ever reads its OWN exported table — so every
    * relation must be an alias loaded via /cachedresults/load (CTE
    * names defined by the statement itself are local and fine). */
  private def guardSelect(spark: SparkSession, sql: String): Unit = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    val mutating = parsed.collectWithSubqueries {
      case c: org.apache.spark.sql.catalyst.plans.logical.Command => c
      case i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement => i
      case d: org.apache.spark.sql.catalyst.plans.logical.InsertIntoDir => d
    }.headOption
    require(mutating.isEmpty,
      s"only SELECT statements are allowed, got ${mutating.get.nodeName}")
    val cteNames = parsed.collectWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    val unknown = parsed.collectWithSubqueries {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        r.multipartIdentifier
    }.filterNot(ident => ident.length == 1 &&
      (cteNames(ident.head.toLowerCase) ||
        loadedAliases.containsKey(ident.head.toLowerCase)))
    require(unknown.isEmpty,
      s"unknown relation '${unknown.headOption.map(_.mkString(".")).getOrElse("")}':" +
        " only aliases loaded via /cachedresults/load are queryable")
  }

  // ---- CachedResults async load + create-from-alias -----------------

  /** Async load states for `/cachedresults/status`
    * (alias-lowercase → LOADING | LOADED | ERROR:msg). */
  private[query] val asyncLoads = new ConcurrentHashMap[String, String]()

  /** The running `graft-crload-*` threads; [[stop]] joins them before it
    * releases the session frames they write from. */
  private val loadThreads = ConcurrentHashMap.newKeySet[Thread]()

  /** The status verb's contract applied to the DATA verbs (sql /
    * getRows / create): `/loadAsync` reserves the alias in
    * `loadedAliases` synchronously but the temp view registers later on
    * the background thread, so in that window the alias guard passes
    * while resolution would fail. An alias still LOADING answers the
    * same 412 precondition `/status` reports, and one whose background
    * load FAILED (and was not since re-loaded) answers 500 with the
    * recorded error — never a raw TABLE_OR_VIEW_NOT_FOUND. */
  private def asyncGate(names: Iterable[String]): Unit =
    names.foreach { name =>
      val n = name.toLowerCase
      asyncLoads.get(n) match {
        case "LOADING" => refuse(412, s"alias '$n' is not yet loaded")
        case s if s != null && s.startsWith("ERROR:") &&
            !loadedAliases.containsKey(n) =>
          refuse(500, s"alias '$n' failed to load: " + s.stripPrefix("ERROR:"))
        case _ => ()
      }
    }

  /** Single-part relation names referenced by `sql` (lowercased) — what
    * [[asyncGate]] screens before [[guardSelect]] reports a mid-load
    * alias as an unknown relation. */
  private def referencedNames(spark: SparkSession, sql: String): Seq[String] =
    spark.sessionState.sqlParser.parsePlan(sql).collectWithSubqueries {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if r.multipartIdentifier.length == 1 =>
        r.multipartIdentifier.head.toLowerCase
    }

  /** `POST /cachedresults/loadAsync?id=…&alias=A` — the reference's
    * `/CachedResults/async/load` (CachedResultsBean.loadAsync:884-905):
    * the load (definition resume, plan, persist, view registration)
    * runs on a background thread; the caller polls
    * `/cachedresults/status?alias=A`. The alias CAS happens
    * SYNCHRONOUSLY, so the 200 response already reserves the name. */
  private def cachedLoadAsync(params: Map[String, String]): (Int, String) =
    shareLock.synchronized {
      val alias = viewName(params, "alias")
      val id = qid(params)
      if (Option(sessions.get(id)).isEmpty &&
          !java.nio.file.Files.exists(sessionFile(id)))
        refuse(404, "unknown queryId")
      ownedBy(params, queryOwner(id))
      val owner = loadedAliases.putIfAbsent(alias.toLowerCase, id)
      if (owner != null && owner != id)
        refuse(409, s"alias '$alias' is bound to another query")
      aliasTs.put(alias.toLowerCase,
        java.lang.Long.valueOf(System.currentTimeMillis()))
      asyncLoads.put(alias.toLowerCase, "LOADING")
      val t = new Thread(() => {
        // The binding can be UNBOUND under the load (an expiration
        // sweep, a close, an admin re-point) — every leg re-checks
        // ownership under shareLock before touching shared state, so a
        // lost race leaves the winner's state alone: no ghost view in
        // the shared catalog, no LOADED/ERROR status for an alias the
        // data verbs already answer 404 for (unbindAlias dropped our
        // LOADING marker with the binding). The view registers AFTER
        // the materialization, inside the same ownership check — the
        // status stays LOADING (412) until the alias actually serves.
        def ifStillOurs(f: => Unit): Unit = shareLock.synchronized {
          if (loadedAliases.get(alias.toLowerCase) == id) { f; persistAliases() }
        }
        try session(Map("id" -> id)) match {
          case Some(s) =>
            writeStaged(id, s, alias)
            ifStillOurs {
              s.df.createOrReplaceTempView(alias)
              asyncLoads.put(alias.toLowerCase, "LOADED")
            }
          case None =>
            ifStillOurs {
              loadedAliases.remove(alias.toLowerCase, id)
              aliasTs.remove(alias.toLowerCase) // no binding, no TTL clock
              asyncLoads.put(alias.toLowerCase, "ERROR:unknown queryId")
            }
        } catch {
          case e: Throwable =>
            ifStillOurs {
              loadedAliases.remove(alias.toLowerCase, id)
              aliasTs.remove(alias.toLowerCase)
              asyncLoads.put(alias.toLowerCase,
                "ERROR:" + Option(e.getMessage).getOrElse(e.getClass.getName))
            }
        } finally loadThreads.remove(Thread.currentThread())
      }, s"graft-crload-$alias")
      t.setDaemon(true)
      loadThreads.add(t)
      t.start()
      (200, s"""{"alias": ${quote(alias)}, "status": "LOADING"}""")
    }

  /** `GET /cachedresults/status?alias=A` — CachedResultsBean.status
    * (:748-763): 200 LOADED, 412 while the async load is in flight (the
    * reference's "not yet loaded" precondition), 404 unknown, 500 with
    * the recorded error when the background load failed. */
  private def cachedStatus(params: Map[String, String]): (Int, String) = {
    val alias = need(params, "alias").toLowerCase
    // even the load state is the owner's (uniform enforcement — an
    // alias name another principal chose reveals nothing)
    ownedBy(params, aliasOwner(alias))
    asyncLoads.get(alias) match {
      case null =>
        if (loadedAliases.containsKey(alias))
          (200, """{"status": "LOADED"}""")
        else (404, err(s"alias '$alias' is not loaded"))
      case "LOADING" => (412, """{"status": "LOADING"}""")
      case "LOADED" => (200, """{"status": "LOADED"}""")
      case e => (500, err(e.stripPrefix("ERROR:")))
    }
  }

  /** `POST /cachedresults/create?alias=SRC&view=NEW[&fields=f1,f2]
    * [&conditions=…][&grouping=g1][&order=o1]` — the create-from-alias
    * flow (CachedResultsBean.create:1189-1258 + CachedRunningQuery
    * .generateSql): define a NEW cached-results view over an
    * already-loaded one from field/condition/grouping/order parameters.
    * 412 when the source is not loaded (QUERY_NOT_CACHED). The derived
    * view binds to the SOURCE's owning query, so closing that query
    * tears down both. The assembled SQL passes the same parsed-plan
    * guard as /cachedresults/sql — `conditions` cannot smuggle a
    * subquery over an unloaded relation or a mutation. */
  private def cachedCreate(params: Map[String, String]): (Int, String) =
    shareLock.synchronized {
      val src = need(params, "alias")
      asyncGate(Seq(src))
      val owner = Option(loadedAliases.get(src.toLowerCase))
        .getOrElse(refuse(412, s"alias '$src' is not loaded"))
      // deriving a view reads the source's rows — owner-gated like
      // /cachedresults/sql (the derived view inherits the source's
      // owning query, and with it the same principal)
      ownedBy(params, queryOwner(owner))
      val view = viewName(params, "view")
      val prior = loadedAliases.putIfAbsent(view.toLowerCase, owner)
      if (prior != null && prior != owner)
        refuse(409, s"alias '$view' is bound to another query")
      // parts may be expressions (the reference's fields list carries
      // aggregates when grouping is set) — structural safety comes
      // from guardSelect on the ASSEMBLED single statement, which
      // refuses mutations, unloaded relations, and file-path reads;
      // a part smuggling a second statement fails the single-
      // statement parse outright
      def part(name: String): Option[String] =
        params.get(name).map(_.trim).filter(_.nonEmpty)
      val sql = s"SELECT ${part("fields").getOrElse("*")} FROM $src" +
        part("conditions").map(c => s" WHERE $c").getOrElse("") +
        part("grouping").map(g => s" GROUP BY $g").getOrElse("") +
        part("order").map(o => s" ORDER BY $o").getOrElse("")
      try {
        val spark = tablesSpark
        val refs = referencedNames(spark, sql) // one parse, reused below
        // conditions may reference OTHER loaded aliases via subqueries —
        // those must also be past their async load
        asyncGate(refs)
        // EVERY loaded alias the assembled statement touches is
        // owner-gated, exactly as /cachedresults/sql gates its refs: a
        // `conditions` subquery like `x IN (SELECT s FROM other_alias)`
        // reads that alias's rows into a view the CALLER then owns —
        // without this gate the derived view launders another
        // principal's materialized data through /getRows.
        refs.filter(n => loadedAliases.containsKey(n)).foreach(restoredOwned(params, _))
        guardSelect(spark, sql)
        spark.sql(sql).createOrReplaceTempView(view)
      } catch {
        // the reservation above must not outlive a FAILED create: a
        // phantom binding would squat the name (409 for everyone else),
        // answer /status as LOADED, and a restart's persistAliases could
        // even make it durable. Only OUR reservation releases (a
        // re-create over an existing binding keeps it — CAS remove on
        // the owner value).
        case e: Throwable =>
          if (prior == null) loadedAliases.remove(view.toLowerCase, owner)
          throw e
      }
      // the derived view's defining SQL travels with the alias so a
      // restarted server can re-define it (CachedResults durability)
      aliasSql.put(view.toLowerCase, sql)
      aliasTs.put(view.toLowerCase,
        java.lang.Long.valueOf(System.currentTimeMillis()))
      persistAliases()
      (200, s"""{"view": ${quote(view)}, "sql": ${quote(sql)}}""")
    }

  /** `GET /cachedresults/getRows?alias=A[&rowBegin=N][&rowEnd=M]` — the
    * reference's CachedResults row-range retrieval
    * (CachedResultsBean getRows: 1-based inclusive row positions over
    * the materialized table's stable order). Deterministic order =
    * the view's first column (the reference's MySQL table is ordered by
    * its row id); the range is bounded like every other page. */
  private def cachedGetRows(params: Map[String, String]): (Int, String) = {
    val alias = need(params, "alias")
    asyncGate(Seq(alias))
    if (!loadedAliases.containsKey(alias.toLowerCase))
      refuse(404, s"alias '$alias' is not loaded")
    // alias names are CALLER-CHOSEN strings, not unguessable handles —
    // the row retrieval is owner-gated (CachedResultsBean getRows runs
    // the :1393 ownership check)
    restoredOwned(params, alias)
    try {
      val rowBegin = params.get("rowBegin").map(_.toLong).getOrElse(1L)
      val rowEnd = params.get("rowEnd").map(_.toLong)
        .getOrElse(rowBegin + defaultPageSize - 1)
      require(rowBegin >= 1 && rowEnd >= rowBegin,
        s"need 1 <= rowBegin <= rowEnd, got [$rowBegin, $rowEnd]")
      // offset() takes an Int — refuse rather than silently wrap (a
      // 2^32-off range would return the WRONG rows labeled correctly)
      require(rowEnd <= Int.MaxValue,
        s"row positions beyond ${Int.MaxValue} are not addressable")
      val n = rowEnd - rowBegin + 1
      require(n <= 100000, s"row range too large ($n; max 100000)")
      val spark = tablesSpark
      // TOTAL order: every column participates, so tied leading values
      // cannot shuffle rows across page boundaries between requests
      // (only fully-identical rows are interchangeable — unobservable).
      // Each page re-sorts the view; a deployment paging huge results
      // materializes a row-id column at load time instead (the
      // reference's MySQL table has its row id for exactly this).
      val rows = reading(Option(loadedAliases.get(alias.toLowerCase)).toSeq) {
        val view = spark.table(alias)
        view.orderBy(view.columns.map(view.col): _*)
          .offset((rowBegin - 1).toInt).limit(n.toInt).toJSON.collect()
      }
      (200, s"""{"rowBegin": $rowBegin, "rowEnd": $rowEnd,""" +
        s""" "rows": [${rows.mkString(",")}]}""")
    } catch { case e: Exception => (400, err(e.getMessage)) }
  }

  // ---- Atom service tier (web-services/atom: AtomServiceBean) -------

  private lazy val atomFeedSvc: Option[AtomFeed] = atomTable.map(new AtomFeed(_))

  /** The atom feed once the caller passes the registry: atom documents
    * are DATA, gated like every other data-serving verb (unknown caller
    * 401); 404 on a server with no atom table. */
  private def atomFeed(params: Map[String, String]): AtomFeed = {
    val svc = atomFeedSvc.getOrElse(refuse(404, "no atom table configured"))
    grant(params)
    svc
  }

  /** `GET /atom/categories` — the category-names document
    * (AtomServiceBean.java:118 getCategories); empty → 204 (the
    * reference's NoResultsException → NO_CONTENT). */
  private def atomCategories(params: Map[String, String]): (Int, String) = {
    val cats = atomFeed(params).categories()
    if (cats.isEmpty) (204, "")
    else (200, s"""{"categories": [${cats.map(quote).mkString(",")}]}""")
  }

  /** `GET /atom/feed?category=C[&pagesize=N][&l=cursor]` — one paged
    * feed document (AtomServiceBean.java:190 getFeed): newest-first
    * entries, a `next` cursor naming the last returned key (resume is
    * strictly after it); an empty page → 204. */
  private def atomFeedPage(params: Map[String, String]): (Int, String) = {
    val svc = atomFeed(params)
    val category = need(params, "category")
    val pagesize = params.get("pagesize").map(_.toInt).getOrElse(30)
    svc.feed(category, params.get("l"), pagesize) match {
      case None => (204, "")
      case Some(p) =>
        val es = p.entries.map(e =>
          s"""{"id": ${quote(e.id)}, "title": ${quote(e.title)},""" +
            s""" "updated": ${quote(e.updated)},""" +
            s""" "occurrences": ${e.occurrences}}""")
        (200, s"""{"title": ${quote(p.category)},""" +
          s""" "author": ${quote(p.author)},""" +
          s""" "updated": ${quote(p.updated)},""" +
          s""" "next": ${quote(p.nextCursor)},""" +
          s""" "entries": [${es.mkString(",")}]}""")
    }
  }

  /** `GET /atom/entry?category=C&id=I` — one entry document
    * (AtomServiceBean.java:287 getEntry); no match → 204. */
  private def atomEntry(params: Map[String, String]): (Int, String) = {
    val svc = atomFeed(params)
    svc.entry(need(params, "category"), need(params, "id")) match {
      case None => (204, "")
      case Some(e) => (200,
        s"""{"id": ${quote(e.id)}, "title": ${quote(e.title)},""" +
          s""" "updated": ${quote(e.updated)},""" +
          s""" "occurrences": ${e.occurrences}}""")
    }
  }

  /** `GET /admin/listTables` — the lake analog of the reference's
    * Accumulo admin ListTables verb (web-services/accumulo
    * ListTablesBean): every served table with its live row count and
    * schema. Counts run against the CURRENT bindings, so a
    * modification-rebound table reports its edited size. Catalog
    * metadata only — no oracle row data leaves through this verb, and
    * a configured principal registry still gates it (401 unknown). */
  private def adminListTables(params: Map[String, String]): (Int, String) = {
    grant(params)
    val items = tableMap.toSeq.sortBy(_._1).map { case (name, df) =>
      val cols = df.schema.fields.map(f =>
        s"""{"name": ${quote(f.name)},""" +
          s""" "type": ${quote(f.dataType.simpleString)}}""")
      s"""{"table": ${quote(name)}, "rows": ${df.count()},""" +
        s""" "columns": [${cols.mkString(",")}]}"""
    }
    (200, s"""{"tables": [${items.mkString(",")}]}""")
  }

  /** `GET /query/metrics/summary[?end=millis][&user=u]` — the reference's
    * `/Query/Metrics/summary/all` and `/summary/user`
    * (QueryMetricsBean.java:224-336): nine time-window buckets over
    * query create times, each with query/page/page-result counts. */
  private def metricsSummary(params: Map[String, String]): (Int, String) = {
    // with a registry the summary is principal-scoped like the
    // reference's `/summary/user` (the caller's own queries); admins
    // keep `/summary/all` and may name `forUser=` to inspect one
    // principal. Without a registry, `user=` stays the plain filter.
    val filter =
      if (users.isEmpty) params.get("user")
      else scope(params).orElse(params.get("forUser"))
    val end = params.get("end").map(_.toLong)
      .getOrElse(System.currentTimeMillis())
    val spark = tablesSpark
    // pending ∪ flushed table: a restarted (or sibling) server over
    // the same stateDir reports the SAME history the dead one built.
    // Build AND collect under the store lock so a concurrent compact
    // cannot delete the enumerated part files mid-read.
    val rows = metricsStore.readLocked {
      QueryMetrics.summaryFrom(metricsStore.metricsDF(spark),
          metricsStore.pagesDF(spark), end, filter)
        .orderBy("ord").toJSON.collect() // exactly nine bucket rows
    }
    (200, s"""{"buckets": [${rows.mkString(",")}]}""")
  }

  private def close(params: Map[String, String]): (Int, String) =
    // close is owner-gated like next (QueryExecutorBean.java:1773);
    // adminUsers retain the reference's adminClose override
    end(ownedQuery(params), "closed")

  /** Unpersist a removed session's frame ONLY when no live session
    * still shares it (`/query/duplicate` shares the persisted frame by
    * reference — closing the original must not de-cache the sibling's
    * pages). Runs under the session's monitor ([[reading]]). */
  private def release(s: Session): Unit =
    frameLock.synchronized { if (!shared(s.df)) s.df.unpersist() }

  /** Makes [[open]]'s check-persist-register and [[release]]'s
    * check-unpersist atomic with each other: a session opening over a
    * frame another is releasing either keeps its cache entry or caches
    * it afresh. Nothing is taken while it is held. */
  private val frameLock = new Object

  /** Whether a live session pages a frame cached under the same entry as
    * `df`: duplicates share a frame, and two sessions of one query under
    * one set of auths plan equal frames, which Spark caches once. */
  private def shared(df: DataFrame): Boolean = {
    import scala.jdk.CollectionConverters._
    val plan = df.queryExecution.analyzed
    sessions.values.asScala.exists(o =>
      (o.df eq df) || o.df.queryExecution.analyzed.sameResult(plan))
  }

  // ---- durable session definitions -----------------------------------
  // The reference's query-storage story: a query's DEFINITION and its
  // cursor position both live outside the serving process (the
  // microservice stack keeps them in a storage service), so a restarted
  // server resumes paging exactly where the dead one stopped. Here the
  // definition persists as a properties file beside the cursor state in
  // `stateDir`; [[session]] lazily re-plans unknown ids from disk.
  // Only table-backed sessions (create/duplicate) persist — lookups are
  // first-page-rides-create calls whose sessions are ephemeral.

  private def sessionFile(id: String): java.nio.file.Path =
    java.nio.file.Paths.get(stateDir, "sessions", s"$id.properties")

  /** The durable definition of `id`, if one exists — a plain read with
    * NO session side effects. The one reader of the file's keys. */
  private def readDef(id: String): Option[Saved] = {
    val f = sessionFile(id)
    if (!java.nio.file.Files.exists(f)) None
    else {
      val p = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(f)
      try p.load(in) finally in.close()
      def get(key: String, default: String) = p.getProperty(key, default)
      Some(Saved(
        QueryDef(get("table", ""), get("query", ""), get("syntax", "JEXL"),
          get("model", ""),
          // absent = created with no server-side enforcement
          Option(p.getProperty("auths")).map(_.split(',').toSet.filter(_.nonEmpty)),
          get("owner", ""), get("pageSize", defaultPageSize.toString).toInt,
          csv(get("orderBy", ""))),
        get("pagesServedBase", "0").toLong, get("offsetBase", "0").toLong,
        get("attempt", "0").toLong))
    }
  }

  /** Write the durable definition — the one writer of the file's keys,
    * for live sessions ([[open]]) and defined-but-not-executed queries
    * ([[define]]); both resume through [[resumeSession]]. */
  private def writeDef(id: String, saved: Saved): Unit = {
    val d = saved.defn
    val p = new java.util.Properties()
    p.setProperty("table", d.table)
    p.setProperty("query", d.query)
    p.setProperty("syntax", d.syntax)
    // resolved auths travel WITH the definition: a restart-resumed (or
    // duplicated/reset) session keeps its server-side enforcement
    d.auths.foreach(a => p.setProperty("auths", a.toSeq.sorted.mkString(",")))
    // ... and so does the owning principal — ownership survives restart
    // (the reference's persister keys query rows by owner)
    if (d.owner.nonEmpty) p.setProperty("owner", d.owner)
    p.setProperty("pageSize", d.pageSize.toString)
    p.setProperty("orderBy", d.orderBy.mkString(","))
    p.setProperty("model", d.model)
    p.setProperty("pagesServedBase", saved.pagesServed.toString)
    p.setProperty("offsetBase", saved.offset.toString)
    p.setProperty("attempt", saved.attempt.toString)
    // written aside and moved into place: a reader of another thread
    // (a resume, /query/get) sees the old file or the new, never a torn one
    val f = sessionFile(id)
    java.nio.file.Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(s"$id.properties.tmp")
    val out = java.nio.file.Files.newOutputStream(tmp)
    try p.store(out, null) finally out.close()
    java.nio.file.Files.move(tmp, f,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def dropSessionFile(id: String): Unit =
    java.nio.file.Files.deleteIfExists(sessionFile(id))

  /** Rebuild a session from its persisted definition: re-plan the query
    * (under its model and auths — both durable beside the definitions)
    * and resume from the DURABLE cursor offset — pages served by the
    * dead server stay served. The plan runs outside the share lock;
    * under it the session opens only if it is still absent and its
    * definition unchanged, so two concurrent resumes of one id cannot
    * each persist a frame (the loser caches nothing: [[open]] is the
    * only place a frame is persisted), and a resume cannot resurrect a
    * query a teardown deleted meanwhile. */
  private def resumeSession(id: String): Option[Session] =
    Option(sessions.get(id)).orElse(
      readDef(id).filter(r => tableMap.contains(r.defn.table)).flatMap { r =>
        val df = plan(r.defn)
        shareLock.synchronized {
          Option(sessions.get(id)).orElse(readDef(id).filter(_ == r).map { _ =>
            // never negative even if a crash raced the reset's
            // offset-delete/file-rewrite pair; the SAME attempt continues
            // the dead server's run, so its pages extend that run's
            // ledger (a later reset bumps past it)
            open(id, r.defn, df, startPage = math.max(0L,
              r.pagesServed + (cursor.currentOffset(id) - r.offset) / r.defn.pageSize),
              attempt = r.attempt)
          })
        }
      })

  /** The definition of `id` — a live session's, else the durable one —
    * with the pages served under it. */
  private def definition(id: String): Option[(QueryDef, Long)] =
    Option(sessions.get(id)).map(s => (s.defn, s.running.pagesServed))
      .orElse(readDef(id).map(r => (r.defn, r.pagesServed)))

  // ---- plumbing ------------------------------------------------------

  private def refuse(status: Int, msg: String): Nothing =
    throw new Refusal(status, msg)

  /** `params(key)`, or a 400 naming the missing parameter. */
  private def need(params: Map[String, String], key: String): String =
    params.getOrElse(key, refuse(400, s"missing '$key'"))

  private def qid(params: Map[String, String]): String =
    params.getOrElse("id", "")
  private def session(params: Map[String, String]): Option[Session] =
    Option(sessions.get(qid(params))).orElse(resumeSession(qid(params)))
  private def err(msg: String): String =
    s"""{"error": ${quote(msg)}}"""
  private def quote(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def newId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  /** A comma-separated list, trimmed, blanks dropped. */
  private def csv(raw: String): Seq[String] =
    raw.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** `pageSize=` (else `default`), refused unless positive. */
  private def pageSize(params: Map[String, String], default: Int): Int = {
    val n = params.get("pageSize").map(_.toInt).getOrElse(default)
    require(n > 0, s"pageSize must be positive, got $n")
    n
  }

  /** The one JSON response writer, shared by every handler. */
  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    // 204 must not carry a body
    ex.sendResponseHeaders(status, if (status == 204) -1 else bytes.length)
    if (status != 204) ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** The request's query-string parameters; a malformed one (a bad
    * percent-escape) is the caller's error, a 400. */
  private def requestParams(ex: HttpExchange): Map[String, String] =
    try parseQuery(ex.getRequestURI.getRawQuery)
    catch {
      case e: IllegalArgumentException =>
        refuse(400, s"malformed query string: ${e.getMessage}")
    }

  /** The handler of a verb: `f`'s answer, its [[Refusal]] as
    * `(status, {"error": msg})`, and any other failure as `failure` —
    * 400 for a verb whose every failure is the request's fault. */
  private def handler(f: Map[String, String] => (Int, String),
                      failure: Int = 500): HttpHandler =
    ex => {
      val (status, body) =
        try f(requestParams(ex)) catch {
          case r: Refusal => (r.status, err(r.msg))
          case e: Exception => (failure, err(e.getMessage))
        }
      respond(ex, status, body)
    }

  private def parseQuery(raw: String): Map[String, String] =
    Option(raw).getOrElse("").split('&').filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
}

object QueryServer {
  /** One query definition: what create/define/execute/predict/plan read
    * from a request (`queryDef`), what a live session pages under, and
    * what the durable `sessions/<id>.properties` record holds
    * (`readDef`/`writeDef`). Lookup sessions have no `table` and no
    * definition file. An empty `orderBy` means the planned frame's first
    * column. */
  private final case class QueryDef(table: String, query: String,
                                    syntax: String, model: String = "",
                                    auths: Option[Set[String]] = None,
                                    owner: String = "", pageSize: Int,
                                    orderBy: Seq[String] = Seq.empty)

  private final case class Session(defn: QueryDef, df: DataFrame,
                                   running: RunningQuery)

  /** A verb's refusal, answered as `(status, {"error": msg})` by the
    * handler that runs the verb. A ControlThrowable, like the non-local
    * `return` it replaces: it passes through a verb's `case e:
    * Exception` and `NonFatal` catches, releases every monitor on its way
    * out, and carries no stack trace. */
  private final class Refusal(val status: Int, val msg: String)
    extends scala.util.control.ControlThrowable

  /** A durable definition with the paging position it was saved at:
    * `pagesServed` pages served when the cursor stood at `offset`, in
    * run `attempt`. The run ordinal travels WITH the definition
    * (inferring it from the page ledger fails for a reset that served no
    * page before a restart — the resumed run would re-collide page
    * numbers). */
  private final case class Saved(defn: QueryDef, pagesServed: Long = 0L,
                                 offset: Long = 0L, attempt: Long = 0L)

  /** The stock predictor set. Referenced by IDENTITY in the
    * constructor default: a server left on the default swaps in a
    * store-backed history predictor (so predictions survive restarts);
    * any explicit list — including `Seq.empty` for a NoOp deployment —
    * is honored verbatim. */
  val defaultPredictors: Seq[Predict.QueryPredictor] =
    Seq(new Predict.PlanStatsPredictor,
      new Predict.HistoryPredictor(() => QueryMetrics.all))
}
