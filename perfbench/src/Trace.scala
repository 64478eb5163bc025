package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `layer` is the name's prefix before the
  * first dot (`vis.enforce` belongs to `vis`). Times are System.nanoTime. */
final case class Span(id: Long, name: String, op: Long, parent: Long,
                      start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** A Spark job as the listener saw it, with the benchmark span that was
  * open on the submitting thread (0 = none, e.g. a QueryServer thread). */
final class JobRec(val id: Int, val startNs: Long, val span: Long) {
  @volatile var endNs: Long = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
}

/** Spans around the benchmark's calls into graft, kept in memory, plus the
  * counters of the listeners the benchmark registers itself: a
  * SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (QueryExecution.tracker phase times) and a StreamingQueryListener
  * (StreamingQueryProgress.durationMs). Spans are recorded only while the
  * calling thread runs a traced operation. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val ctx = new ThreadLocal[(Long, Long)] // (op id, open span id)
  private val PropKey = "perfbench.span"
  // epoch-ms listener timestamps → the nanoTime scale of the spans
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def msToNs(ms: Long): Long = ms * 1000000L - offsetNs

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** (end ns, analysis ms, optimization ms, planning ms) per query execution. */
  val phases = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  /** (stream name, end ns, StreamingQueryProgress.durationMs). */
  val progress = new ConcurrentLinkedQueue[(String, Long, Map[String, Long])]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new JobRec(e.jobId, msToNs(e.time), span))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = msToNs(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- job(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
      }
  }
  private def job(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      val end = if (p.isEmpty) System.nanoTime() else msToNs(p.values.map(_.endTimeMs).max)
      phases.add((end, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add((Option(p.name).getOrElse(""), System.nanoTime(),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def register(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Run `body` as operation `opId`; record its spans when `traced`. */
  def op[T](opId: Long, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      ctx.set((opId, 0L))
      try span("bench.op")(body) finally ctx.remove()
    }

  /** Time `body` as a call into the layer `name` names. */
  def span[T](name: String)(body: => T): T = {
    val c = ctx.get
    if (c == null) body
    else {
      val (opId, parent) = c
      val id = ids.incrementAndGet()
      ctx.set((opId, id))
      sc.setLocalProperty(PropKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, opId, parent, t0, System.nanoTime()))
        ctx.set((opId, parent))
        sc.setLocalProperty(PropKey, if (parent == 0L) null else parent.toString)
      }
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Finished jobs that started inside [from, to]. */
  def jobsIn(from: Long, to: Long): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.startNs >= from && j.startNs <= to && j.endNs > 0).toSeq

  /** Self time per layer in ns: each span's duration minus the part of it
    * that its child spans and the Spark jobs it submitted cover. A job's
    * own duration is the `spark` layer's self time. */
  def selfTimes(): Map[String, Long] = {
    val all = allSpans
    val byId = all.map(s => s.id -> s).toMap
    val children = all.groupBy(_.parent)
    val tagged = jobs.values.asScala.filter(j => j.span != 0L && j.endNs > 0 &&
      byId.contains(j.span)).toSeq
    val jobsBySpan = tagged.groupBy(_.span)
    val spanSelf = all.map { s =>
      val iv = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
        jobsBySpan.getOrElse(s.id, Nil).map(j => (j.startNs, j.endNs))
      s.layer -> ((s.end - s.start) - Tracer.covered(iv, s.start, s.end))
    }
    val sparkSelf = tagged.map(j => "spark" -> (j.endNs - j.startNs))
    (spanSelf ++ sparkSelf).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  /** Spans as JSON lines: name, start, end, parent, op. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.start).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Length of the union of `iv` clipped to [from, to]. */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
