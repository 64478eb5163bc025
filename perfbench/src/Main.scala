package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, result: Path, traceOut: Path, cores: Int)

/** One operation of the timed phase. Latencies of failed operations are
  * never reported: a failure only counts in `failed`. */
final class OpRec(val client: Int, val idx: Int, val traced: Boolean) {
  var start = 0L
  /** Set by a workload that does untimed traced work after the operation. */
  var end = 0L
  var first = 0L // ns from start until the operation's first result
  var rows = 0L
  @volatile var ok = true
  def ms: Double = (end - start) / 1e6

  def fail(what: String, e: Throwable): Unit = {
    ok = false
    System.err.println(s"perfbench: op ${client}/${idx} failed: $what: $e")
  }
}

/** A workload: how to set it up, one operation, and the output checks. */
trait Workload {
  /** Closed-loop clients; each runs operations one after another. */
  def clients: Int
  /** Operations per client cycle. */
  def cycle: Int
  /** Seconds a client cycle takes on a 4-core box. Each client runs the
    * whole number of cycles nearest to --seconds / this, so every run
    * does the same work whatever the host's speed at the time: on a
    * slow host, ending on the clock would leave fewer, colder cycles. */
  def cycleSeconds: Double
  /** Generate the inputs from the seed and load them into graft. */
  def load(rep: Int): Unit
  /** Run the operation's code paths once, outside the timed phase. */
  def warmUp(): Unit
  /** Drop the state of a load that the timed phase will not use. */
  def release(): Unit
  /** Untimed work on the kept load just before the timed phase, so that
    * the first timed operation does not meet a fresh load. */
  def settle(): Unit = ()
  /** One operation; sets rec.first and rec.rows, throws on failure. */
  def run(rec: OpRec): Unit
  /** Check every operation's output; mark wrong ones with rec.fail. */
  def check(recs: Seq[OpRec]): Unit
  /** Close every session and stop every stream and server. */
  def close(): Unit
  /** SHA-256 over the generated inputs. */
  def inputDigest: String
  /** Per-layer metrics this workload measures (name → value). */
  def layers(recs: Seq[OpRec]): Map[String, Double]
}

object Main {
  val SetupReps = 3
  private val t00 = System.nanoTime()

  /** Time since the JVM entered main, on stderr, to show where a run goes. */
  def phase(what: String): Unit =
    System.err.println(f"perfbench: +${(System.nanoTime() - t00) / 1e9}%.1f s $what")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")), Paths.get(kv("result")), Paths.get(kv("trace-out")),
      kv("cores").toInt)
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(a.work)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    val code = try run(spark, a, procStartMs) finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args, procStartMs: Long): Int = {
    val tracer = new Tracer(spark)
    if (a.workload == "train") {
      // the build's class-data sharing run: both driven workloads' load
      // and one untimed operation
      Seq(new Serve(spark, a, tracer), new IngestRounds(spark, a, tracer)).foreach { w =>
        w.load(0); w.settle(); w.close()
      }
      return 0
    }
    val w: Workload = a.workload match {
      case "serve" => new Serve(spark, a, tracer)
      case "ingest" => new IngestRounds(spark, a, tracer)
      case "curate" => new Curate(spark, a, tracer)
      case other =>
        System.err.println(s"perfbench: unknown workload '$other'")
        return 2
    }
    // Set-up (input generation and loading) runs SetupReps times on the
    // same seed and the last load is kept. The first set-up also holds the
    // process and session start and the warm-up, which moves the one-time
    // class-load and JIT cost out of the timed phase; setup_s is the median.
    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (rep > 0) w.release()
      w.load(rep)
      phase(s"load $rep")
      if (rep == 0) { w.warmUp(); phase("warm-up") }
      if (rep == 0) (System.currentTimeMillis() - procStartMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"perfbench: set-ups ${setups.mkString(", ")} s")
    w.settle()
    phase("settle")
    if (a.trace) tracer.register()
    val gcBefore = gcMs()
    val t0 = System.nanoTime()
    val ops = math.max(1L, math.round(a.seconds / w.cycleSeconds)).toInt * w.cycle
    val perClient = (0 until w.clients).map { c =>
      val recs = scala.collection.mutable.ArrayBuffer[OpRec]()
      val th = new Thread(() => {
        var i = 0
        while (i < ops) {
          // in a traced run half the operations record spans and the other
          // half give the tracing overhead: the second client's, or every
          // other operation of a single client
          val rec = new OpRec(c, i, a.trace && (if (w.clients > 1) c % 2 == 1 else i % 2 == 1))
          rec.start = System.nanoTime()
          try tracer.op(c * 1000000L + i, rec.traced)(w.run(rec))
          catch { case NonFatal(e) => rec.fail("run", e) }
          if (rec.end == 0L) rec.end = System.nanoTime()
          recs += rec
          i += 1
        }
      }, s"perfbench-client-$c")
      th.start()
      (th, recs)
    }
    perClient.foreach(_._1.join())
    val recs = perClient.flatMap(_._2).toSeq
    val t1 = recs.map(_.end).max
    val gcAfter = gcMs()
    System.err.println(f"perfbench: timed phase ${(t1 - t0) / 1e9}%.1f s, ${recs.size} operations")
    System.err.println("perfbench: operation ms " + recs.map(r => f"${r.ms}%.0f").mkString(" "))
    if (a.trace) tracer.drain()
    phase("timed phase")
    try w.check(recs) catch { case NonFatal(e) => recs.foreach(_.fail("check", e)) }
    val layerVals = if (a.trace) w.layers(recs) else Map.empty[String, Double]
    phase("check")
    w.close()
    val retainedMb = retainedHeapMb()
    phase("close")
    val ok = recs.filter(_.ok)
    // closed-loop throughput: the sum of each client's rate over its own run
    def perSecond(f: OpRec => Double): Double =
      recs.groupBy(_.client).values.map { rs =>
        rs.filter(_.ok).map(f).sum / ((rs.map(_.end).max - t0) / 1e9)
      }.sum
    val metrics: Map[String, Double] =
      if (!a.trace) {
        Map(
          "setup_s" -> median(setups),
          "op_p50_ms" -> median(ok.map(_.ms)),
          "first_result_p50_ms" -> median(ok.map(_.first / 1e6)),
          "ops_per_s" -> perSecond(_ => 1.0),
          "rows_per_s" -> perSecond(_.rows.toDouble),
          "peak_rss_mb" -> peakRssMb(),
          "retained_heap_mb" -> retainedMb)
      } else {
        val n = recs.size.toDouble
        val jobs = tracer.jobsIn(t0, t1)
        val phases = tracer.phases.asScala.filter(p => p._1 >= t0 && p._1 <= t1).toSeq
        val jobIv = jobs.map(j => (j.startNs, j.endNs))
        val gaps = recs.map(r => (r.end - r.start) - Tracer.covered(jobIv, r.start, r.end))
        val traced = recs.filter(r => r.traced && r.ok)
        val untraced = ok.filterNot(_.traced)
        val first = recs.find(r => r.client == 0 && r.idx == 0).get
        val selfMs = tracer.selfTimes()
        tracer.write(a.traceOut)
        val nTraced = math.max(1, recs.count(_.traced)).toDouble
        Map(
          "spark.jobs_per_op" -> jobs.size / n,
          "spark.stages_per_op" -> jobs.map(_.stages).sum / n,
          "spark.tasks_per_op" -> jobs.map(_.tasks).sum / n,
          "spark.task_run_ms_per_op" -> jobs.map(_.runMs).sum / n,
          "spark.task_cpu_ms_per_op" -> jobs.map(_.cpuNs).sum / 1e6 / n,
          "spark.shuffle_write_bytes_per_op" -> jobs.map(_.shuffleWrite).sum / n,
          "spark.shuffle_read_bytes_per_op" -> jobs.map(_.shuffleRead).sum / n,
          "spark.spill_bytes_per_op" -> jobs.map(_.spill).sum / n,
          "spark.input_bytes_per_op" -> jobs.map(_.input).sum / n,
          "spark.driver_gap_ms_per_op" -> gaps.sum / 1e6 / n,
          "spark.analysis_ms" -> phases.map(_._2).sum / n,
          "spark.optimization_ms" -> phases.map(_._3).sum / n,
          "spark.planning_ms" -> phases.map(_._4).sum / n,
          "jvm.gc_ms_per_op" -> (gcAfter - gcBefore) / n,
          "jvm.first_op_over_p50" -> first.ms / median(untraced.map(_.ms)),
          "trace.overhead_ratio" -> median(traced.map(_.ms)) / median(untraced.map(_.ms)),
          "ops_n" -> n
        ) ++ Layers.all.map(l => s"$l.self_ms" -> selfMs.getOrElse(l, 0L) / 1e6 / nTraced) ++
          Layers.idle ++ layerVals
      }
    writeResult(a, recs.size, recs.count(!_.ok), metrics, w.inputDigest, setups)
    0
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Heap in use after full collections, once every session is closed. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def writeResult(a: Args, attempted: Int, failed: Int, m: Map[String, Double],
                          digest: String, setups: Seq[Double]): Unit = {
    val body = m.toSeq.sortBy(_._1).map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": $num"""
    }.mkString("{", ", ", "}")
    val json = s"""{"attempted": $attempted, "failed": $failed, "input_digest": "$digest", """ +
      s""""setup_reps_s": [${setups.mkString(", ")}], "metrics": $body}"""
    Files.write(a.result, json.getBytes("UTF-8"))
  }
}

/** The layers whose self time the traced run reports, by span prefix. */
object Layers {
  /** The driven workloads' own per-layer metrics, 0 where a workload
    * leaves the layer idle. */
  val idle: Map[String, Double] =
    (Serve.LayerMetrics ++ IngestRounds.LayerMetrics).map(_ -> 0.0).toMap
  val all: Seq[String] =
    Seq("bench", "http", "jexl", "query", "vis", "ingest", "streaming", "operators", "spark")
}
