package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  /** Seconds `gate` took, or None when it threw: a gate that failed gets
    * no time, and its cause goes to stderr. */
  def timeGate(name: String)(gate: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try { gate; Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] $name FAILED: $e")
        None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // collect_set/collect_list aggregations (global index, doc view,
      // grouping-context reassembly) have far more than 128 groups; the
      // default ObjectHashAggregate fallback would sort-spill every one
      // of them. They fit comfortably in the pinned 16g heap.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JMH-style untimed warm-up at the smallest SF. The interpreter/JIT
    // of higher-order expression trees costs 30-110s ONE TIME per
    // expression shape (measured; independent of data size and of
    // whole-stage codegen), and without a warm-up that tax lands on
    // whichever timed query first touches each shape — r2/r3 raw runs
    // showed arbitrary lines inflated 5-10× by it. Only plans that CARRY
    // the taxed shapes (HOF lambdas, generators, UDFs) are executed;
    // everything else is planned for inspection and skipped, so warm-up
    // cost stays flat as the gate grows (r3 verdict item 8).
    // Only the TAGGED representatives run (one per distinct taxed
    // expression combo — SparkEntry.warmupQueries, rot-guarded by
    // WarmupSpec): queries sharing a combo share the classload/JIT
    // bill, and constructing+planning the other ~100 queries purely for
    // detection cost more than the warming itself.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty) {
      val t0 = System.nanoTime()
      val warmDebug = sys.env.contains("SPARK_GRAFT_WARM_DEBUG")
      // tiny warm jobs at 32 shuffle partitions pay 4× task overhead for
      // nothing — shrink partitions for the warm pass only (JIT warming
      // is shape-, not partition-count-, dependent)
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      // the heaviest shapes warm on ~50-row in-memory kernels (Warmup
      // scaladoc); only the cheap representatives still run their gates
      Warmup.run(spark, warmDebug)
      SparkEntry.warmupQueries.foreach { name =>
        try {
          val tq = System.nanoTime()
          SparkEntry.queries(name)(spark, warmDir).count()
          if (warmDebug)
            System.err.println(f"[warm] $name%-24s ${(System.nanoTime() - tq) / 1e9}%6.2f s")
        } catch {
          case NonFatal(e) => System.err.println(s"[warm] $name failed: $e")
        }
      }
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
      spark.catalog.clearCache()
      System.gc()
      System.err.println(f"[bench] (warmup pass ${(System.nanoTime() - t0) / 1e9}%.1f s," +
        s" ${SparkEntry.warmupQueries.size} tagged representatives + kernels)")
    }
    // Two full suite passes, report each query's MIN across passes (JMH
    // steady-state style). Single-shot timings at local[32] carry 1.3-4×
    // run-to-run noise from GC pauses / compile / scheduling jitter
    // landing inside one query (measured: 25 of 132 queries disagreed
    // >30% between two identical clean runs). The two samples must be
    // MINUTES apart — back-to-back repeats of the same query share one
    // bad period (a concurrent GC cycle spans both; measured 6× residual
    // disagreement) — so the repeat is a whole second pass, not an
    // adjacent re-run; pass-separated samples rarely eat the same pause
    // and the min makes consecutive suites (and the driver's run vs a
    // clean run) agree per-query.
    def timedPass(): Map[String, Option[Double]] = SparkEntry.queries.map { case (name, fn) =>
      val dt = timeGate(name)(fn(spark, sfDir).count())
      // drop per-query persisted frames: honest isolated timings, no
      // cache accumulation; the GC + pause keeps late-suite queries from
      // paying earlier queries' heap debt (measured 3-10× inflation)
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(150)
      name -> dt
    }
    val pass1 = timedPass()
    val pass2 = timedPass()
    // a gate that threw in either pass is failed: listed, never timed
    val (timed, failed) = pass1.keys.toSeq.sorted.partitionMap { name =>
      pass1(name).zip(pass2(name)).map { case (t1, t2) => math.min(t1, t2) } match {
        case Some(dt) =>
          System.err.println(f"[bench] $name%-24s $dt%8.2f s")
          Left(name -> dt)
        case None =>
          System.err.println(f"[bench] $name%-24s   FAILED")
          Right(name)
      }
    }
    val qs = timed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    val failedJson = failed.map(n => s"\"$n\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":$failedJson,"sf":"$sfDir"}"""
    // The one-line JSON contract, on every channel the driver might
    // capture: stderr (tagged, like the per-query lines above), a file
    // next to the build, and stdout. The stdout line comes LAST, after
    // the session stops, so it is the final line the program prints
    // (build.sbt passes the forked run's stdout through untagged, and an
    // archived tail keeps the end of the stream). Numbers and
    // methodology are unchanged.
    System.err.println(s"[bench-json] $json")
    System.err.flush()
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "bench_result.json")),
      json.getBytes("UTF-8"))
    catch {
      case NonFatal(e) => System.err.println(s"[bench] result file not written: $e")
    }
    spark.stop()
    println(json)
    System.out.flush()
  }
}
