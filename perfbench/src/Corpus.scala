package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded documents and embeddings in the shape of graft's `documents`
  * and `embeddings` tables. */
object Corpus {
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val Stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that", "are", "be")

  /** A vocabulary of lowercase pseudo-words, 3 to 8 letters. */
  def vocabulary(seed: Long, n: Int = 3000): IndexedSeq[String] = {
    val r = new SplittableRandom(seed * 31L + 5L)
    (0 until n).map(_ => Seq.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
  }

  /** A fresh text of 30 to 100 tokens, about a fifth of them stopwords. */
  def text(r: SplittableRandom, vocab: IndexedSeq[String]): String = {
    val n = 30 + r.nextInt(71)
    Seq.fill(n) {
      if (r.nextInt(5) == 0) Stop(r.nextInt(Stop.size))
      else { val u = r.nextDouble(); vocab((u * u * vocab.size).toInt) }
    }.mkString(" ")
  }

  /** `t` with one or two tokens replaced: a near-duplicate whose word
    * 3-gram Jaccard similarity stays high for texts of this length. */
  def nearDup(r: SplittableRandom, t: String, vocab: IndexedSeq[String]): String = {
    val toks = t.split(' ')
    (0 until 1 + r.nextInt(2)).foreach(_ => toks(r.nextInt(toks.length)) = vocab(r.nextInt(vocab.size)))
    toks.mkString(" ")
  }

  def docRow(id: Long, text: String, r: SplittableRandom): Row =
    Row(id, text, Seq("en", "de", "fr", "zh")(r.nextInt(4)), s"src${r.nextInt(8)}",
      text.length.toLong)

  /** `n` documents with ids from `firstId`: a `nearDupShare` of them edit
    * an earlier text (of this batch or of `earlier`), an `exactShare`
    * copy one verbatim. */
  def docs(r: SplittableRandom, vocab: IndexedSeq[String], firstId: Long, n: Int,
           nearDupShare: Double, exactShare: Double,
           earlier: IndexedSeq[String] = IndexedSeq.empty): Seq[(Long, String)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    (0 until n).foreach { i =>
      val pool = earlier.size + out.size
      val u = r.nextDouble()
      def source(j: Int): String = if (j < earlier.size) earlier(j) else out(j - earlier.size)._2
      val t =
        if (pool > 0 && u < nearDupShare) nearDup(r, source(r.nextInt(pool)), vocab)
        else if (pool > 0 && u < nearDupShare + exactShare) source(r.nextInt(pool))
        else text(r, vocab)
      out += ((firstId + i, t))
    }
    out.toSeq
  }

  def docFrame(spark: SparkSession, d: Seq[(Long, String)], seed: Long): DataFrame = {
    val r = new SplittableRandom(seed)
    spark.createDataFrame(java.util.Arrays.asList(d.map { case (id, t) => docRow(id, t, r) }: _*),
      docSchema)
  }

  /** `n` unit-scale vectors of `dim` floats around `clusters` centres. */
  def embeddings(seed: Long, n: Int, dim: Int, clusters: Int): Seq[(Long, Array[Float], Int)] = {
    val r = new SplittableRandom(seed * 131L + 7L)
    val centres = Array.fill(clusters, dim)(r.nextDouble() * 2 - 1)
    (0 until n).map { i =>
      val c = r.nextInt(clusters)
      val v = Array.tabulate(dim)(j => (centres(c)(j) + gauss(r) * 0.35).toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / norm), c)
    }
  }

  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def embFrame(spark: SparkSession, e: Seq[(Long, Array[Float], Int)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(e.map { case (id, v, l) =>
      Row(id, v.toSeq, l) }: _*), embSchema)
}

/** The checks the runner makes in DuckDB, written as checks.json. */
final class Checks(path: java.nio.file.Path) {
  private val views = scala.collection.mutable.LinkedHashMap[String, String]()
  private val checks = scala.collection.mutable.ArrayBuffer[String]()
  private val topk = scala.collection.mutable.ArrayBuffer[String]()
  private val shared = scala.collection.mutable.LinkedHashMap[String, String]()
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"; case c => c.toString
    } + "\""

  /** A DuckDB view over the parquet files under `dir`. */
  def view(name: String, dir: String): Unit = views(name) = dir

  /** A subquery several oracles embed verbatim, evaluated once as `name`. */
  def share(name: String, sql: String): Unit = shared(name) = sql

  /** The parquet under `actual` must equal `oracle` as a multiset over `columns`. */
  def equal(name: String, actual: String, oracle: String, columns: Seq[String]): Unit =
    checks += s"""{"name": ${q(name)}, "actual": ${q(actual)}, "oracle": ${q(oracle)}, """ +
      s""""columns": [${columns.map(q).mkString(", ")}]}"""

  /** Brute-force top-k must be the exact cosine top-k of the `embeddings`
    * view; the approximate one must hold `floor` of them for every probe. */
  def topK(brute: String, approx: String, probes: Seq[Long], k: Int, floor: Int): Unit =
    topk += s"""{"brute": ${q(brute)}, "approx": ${q(approx)}, "probes": "${probes.mkString(",")}", """ +
      s""""k": $k, "floor": $floor}"""

  def write(): Unit = {
    val v = views.map { case (k, d) => s"${q(k)}: ${q(d)}" }.mkString("{", ", ", "}")
    val sh = shared.map { case (k, s) => s"${q(k)}: ${q(s)}" }.mkString("{", ", ", "}")
    val json = s"""{"views": $v, "shared": $sh, "checks": [${checks.mkString(", ")}], "topk": [${topk.mkString(", ")}]}"""
    java.nio.file.Files.write(path, json.getBytes("UTF-8"))
  }
}
