package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Dev probe: Bench's exact timing discipline (two separated passes,
  * min, clearCache+GC between queries) on a SUBSET of gates — the
  * optimization round's A/B instrument. Args = gate names. */
object BenchSubsetMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = args.toSeq
    // one untimed warm pass (JIT/codegen), like Bench's warm-up
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case NonFatal(e) =>
        System.err.println(s"[benchsub] $n warm pass FAILED: $e")
      }
      spark.catalog.clearCache(); System.gc()
    }
    // a crashed gate must NOT masquerade as a (fast) timing in A/B
    // evidence: record NaN and say so (ADVICE r13)
    def pass(): Map[String, Double] = names.map { n =>
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(n)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[benchsub] $n FAILED: ${e.getMessage}")
          false
        }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
      spark.catalog.clearCache(); System.gc(); Thread.sleep(150)
      n -> dt
    }.toMap
    val p1 = pass(); val p2 = pass()
    names.foreach { n =>
      if (p1(n).isNaN || p2(n).isNaN)
        System.err.println(f"[benchsub] $n%-26s  FAILED  (p1 ${p1(n)}  p2 ${p2(n)})")
      else
        System.err.println(f"[benchsub] $n%-26s ${math.min(p1(n), p2(n))}%7.2f s" +
          f"  (p1 ${p1(n)}%5.2f  p2 ${p2(n)}%5.2f)")
    }
    spark.stop()
  }
}
