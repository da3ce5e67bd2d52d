package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic chat corpus shaped like the repo's sf0.1 testdata:
  * 30 equiprobable vocabulary words plus a rare `dup` marker, documents
  * of 10–99 words (uniform, mean ≈ 54), the sf0.1 language mix, 20
  * round-robin sources, and unit-norm 64-dim gaussian vectors with
  * labels 0–9. Every value is a pure function of (seed, stream, index),
  * so the same seed regenerates the same inputs and requests. */
object Corpus {

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  // sf0.1 carries 255 `dup` tokens among ~270k
  private val DupRate = 0.00094
  private val Langs = IndexedSeq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15,
    "fr" -> 0.15, "de" -> 0.14)
  val Dim = 64
  val Labels = 10

  /** Independent random stream per (seed, stream tag, index). */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream << 40) ^ i)

  def text(r: SplittableRandom, minWords: Int, maxWords: Int): String = {
    val n = minWords + r.nextInt(maxWords - minWords + 1)
    Iterator.fill(n)(if (r.nextDouble() < DupRate) "dup" else Vocab(r.nextInt(Vocab.size)))
      .mkString(" ")
  }

  def unitVector(r: SplittableRandom): Array[Float] = {
    val g = Array.fill(Dim) {
      // Box–Muller: SplittableRandom has no nextGaussian
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val n = math.sqrt(g.map(x => x * x).sum)
    g.map(x => (x / n).toFloat)
  }

  private def lang(r: SplittableRandom): String = {
    val u = r.nextDouble()
    Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
      .tail.find(_._2 > u).getOrElse(Langs.last)._1
  }

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Vec(id: Long, embedding: Array[Float], label: Int)

  def doc(seed: Long, stream: Long, id: Long): Doc = {
    val r = rng(seed, stream, id)
    Doc(id, text(r, 10, 99), lang(r), s"src${id % 20}")
  }

  def vec(seed: Long, stream: Long, id: Long): Vec = {
    val r = rng(seed, stream, id)
    Vec(id, unitVector(r), r.nextInt(Labels))
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map(d =>
        Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 4),
      DocSchema)

  def vecsFrame(spark: SparkSession, vecs: Seq[Vec]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map(v =>
        Row(v.id, v.embedding.toSeq, v.label)), 4),
      VecSchema)

  /** The generated base corpus, kept driver-side for the oracles. */
  final case class Data(dir: String, docs: IndexedSeq[Doc], vecs: IndexedSeq[Vec]) {
    def inputBytes: Long =
      Seq("documents.parquet", "embeddings.parquet")
        .map(t => Disk.bytesUnder(java.nio.file.Paths.get(dir, t))).sum
  }

  /** Generate `nDocs` documents and `nVecs` vectors and write them as the
    * `documents` / `embeddings` parquet tables under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long,
            nDocs: Int, nVecs: Int): Data = {
    val docs = (0 until nDocs).map(i => doc(seed, 1, i.toLong))
    val vecs = (0 until nVecs).map(i => vec(seed, 2, i.toLong))
    docsFrame(spark, docs).coalesce(1).write.parquet(s"$dir/documents.parquet")
    vecsFrame(spark, vecs).coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    Data(dir, docs, vecs)
  }
}
