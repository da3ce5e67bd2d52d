package graft.perfbench

import java.nio.file.{Path, Paths}

import graft.operators.VectorOps
import graft.sources.{EmbedIndex, IndexCatalog, InvertedIndex, Maintenance}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The benchmark's calls into the engine — every one wrapped in its span.
  * Nothing here reaches past the entry points the workloads time. */
final class Engine(val spark: SparkSession, val spans: Spans) {
  import Engine._
  import spark.implicits._

  /** Cold build of every read artifact from the tables under `inputDir`
    * (the engine keys their root on that directory). The three artifact
    * families are independent, so they build concurrently, one thread
    * each, as a deployment publishing them would. */
  def build(inputDir: String): Artifacts = {
    var vec: (String, String) = null
    var word, emb: InvertedIndex.Layout = null
    concurrently(
      () => {
        val (base, name, _) = spans("operators.VectorOps.ensureIvfBucketed") {
          VectorOps.ensureIvfBucketed(spark, inputDir)
        }
        spans("sources.IndexCatalog.ensureKeymap") {
          IndexCatalog.ensureKeymap(spark, base, name, "vec_id")
        }
        vec = (base, name)
      },
      () => word = spans("sources.InvertedIndex.ensure")(InvertedIndex.ensure(spark, inputDir)),
      () => emb = spans("sources.EmbedIndex.ensure")(EmbedIndex.ensure(spark, inputDir)))
    Artifacts(vec._1, vec._2, word, emb)
  }

  /** The centroid sidecar, read once at setup (serving metadata). */
  def centroids(a: Artifacts): IndexedSeq[(Long, Array[Float])] =
    spark.read.parquet(Paths.get(a.vecBase, a.vecName, "centroids").toString)
      .select(col("cent_id"), col("c_embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toIndexedSeq

  // ---- reads -----------------------------------------------------------

  def fetch(a: Artifacts, ids: Seq[Long]): Seq[Row] = {
    val keys = ids.toDF("vec_id")
    spans("sources.IndexCatalog.fetchByIdsServing") {
      IndexCatalog.fetchByIdsServing(spark, a.vecBase, a.vecName, keys)
        .select(col("vec_id"), col("label"), col("embedding")).collect().toSeq
    }
  }

  def ann(a: Artifacts, q: Array[Float], probes: Seq[Long]): Seq[Row] = {
    val query = Seq((-1L, q.toSeq)).toDF("q_id", "q_embedding")
    spans("sources.IndexCatalog.search") {
      IndexCatalog.search(spark, a.vecBase, a.vecName, query, AnnK, buckets = probes)
        .select(col("vec_id"), col("score")).collect().toSeq
    }
  }

  def embedKnn(a: Artifacts, text: String): Seq[Row] =
    spans("sources.EmbedIndex.embedOver") {
      EmbedIndex.embedOver(spark, a.embed, text, k = EmbedK, serving = true)
        .select(col("doc_id"), col("score")).collect().toSeq
    }

  def bm25(a: Artifacts, terms: Seq[String]): Seq[Row] =
    spans("sources.InvertedIndex.bm25Over") {
      InvertedIndex.bm25Over(spark, a.word, k = Bm25K, terms = terms, serving = true)
        .select(col("doc_id"), col("score")).collect().toSeq
    }

  // ---- maintenance -----------------------------------------------------

  /** Private copies of the three artifacts under `root`, so maintenance
    * never touches the built ones. */
  def cloneArtifacts(a: Artifacts, root: Path): Artifacts = {
    def copy(from: String, tag: String): Path = {
      val to = root.resolve(tag)
      Maintenance.copyTree(Paths.get(from).getParent, to)
      to
    }
    val vecRoot = root.resolve("vec")
    Maintenance.copyTree(Paths.get(a.vecBase, a.vecName), vecRoot.resolve(a.vecName))
    def layout(p: Path) = InvertedIndex.Layout(
      p.resolve("data").toString, p.resolve("dict").toString, p.resolve("stats").toString)
    Artifacts(vecRoot.toString, a.vecName,
      layout(copy(a.word.dataPath, "word")), layout(copy(a.embed.dataPath, "embed16")))
  }

  /** One upsert → delete → vacuum cycle of `batch` over the three
    * artifacts, as its nine calls in order; the cycle leaves the
    * artifacts as they were before it. */
  def maintenanceCycleSteps(a: Artifacts, batch: Batch): Seq[(String, () => Unit)] = Seq(
    "sources.IndexCatalog.upsertInto" ->
      (() => IndexCatalog.upsertInto(spark, a.vecBase, a.vecName, batch.vecs, "vec_id")),
    "sources.InvertedIndex.upsertDocs.word" -> (() => InvertedIndex.upsertDocs(spark, a.word, batch.docs)),
    "sources.InvertedIndex.upsertDocs.embed16" -> (() => InvertedIndex.upsertDocs(spark, a.embed, batch.docs)),
    "sources.IndexCatalog.tombstone" ->
      (() => IndexCatalog.tombstone(spark, a.vecBase, a.vecName, batch.vecIds)),
    "sources.InvertedIndex.deleteDocs.word" -> (() => InvertedIndex.deleteDocs(spark, a.word, batch.docIds)),
    "sources.InvertedIndex.deleteDocs.embed16" -> (() => InvertedIndex.deleteDocs(spark, a.embed, batch.docIds)),
    "sources.IndexCatalog.vacuumTombstones" ->
      (() => IndexCatalog.vacuumTombstones(spark, a.vecBase, a.vecName)),
    "sources.InvertedIndex.vacuum.word" -> (() => InvertedIndex.vacuum(spark, a.word)),
    "sources.InvertedIndex.vacuum.embed16" -> (() => InvertedIndex.vacuum(spark, a.embed))
  ).map { case (name, call) => name -> (() => spans(name)(call())) }

  /** A maintenance batch of fresh rows: ids past the corpus, vectors
    * assigned to their nearest centroid (the index's `bucket`). */
  def batch(seed: Long, n: Int, cents: IndexedSeq[(Long, Array[Float])]): Batch = {
    val docs = (0 until n).map(i => Corpus.doc(seed, 3, FreshIdBase + i))
    val vecs = (0 until n).map(i => Corpus.vec(seed, 4, FreshIdBase + i))
    val vecFrame = Corpus.vecsFrame(spark, vecs)
      .join(vecs.map(v => (v.id, Oracle.nearestCentroid(v.embedding, cents))).toDF("vec_id", "bucket"),
        "vec_id")
    Batch(
      Corpus.docsFrame(spark, docs).select("doc_id", "text").localCheckpoint(true),
      docs.map(_.id).toDF("doc_id").localCheckpoint(true),
      vecFrame.localCheckpoint(true),
      vecs.map(_.id).toDF("vec_id").localCheckpoint(true),
      rowBytes = docs.map(d => 8L + d.text.length).sum + vecs.map(_ => 8L + 4L * Corpus.Dim + 4L).sum)
  }
}

object Engine {
  /** Run `tasks` on fresh threads and wait for all; rethrows the first
    * failure. */
  def concurrently(tasks: (() => Unit)*): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map(t => new Thread(() =>
      try t() catch { case e: Throwable => failures.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failures.peek()).foreach(e => throw e)
  }

  val AnnK = 10
  val Bm25K = 10
  val EmbedK = 5
  val NProbe = 4
  val FreshIdBase = 100000000L

  final case class Artifacts(vecBase: String, vecName: String,
                             word: InvertedIndex.Layout, embed: InvertedIndex.Layout) {
    def roots: Seq[Path] = Seq(Paths.get(vecBase, vecName),
      Paths.get(word.dataPath).getParent, Paths.get(embed.dataPath).getParent)
    def bytes: Long = roots.map(Disk.bytesUnder).sum
  }

  final case class Batch(docs: DataFrame, docIds: DataFrame, vecs: DataFrame,
                         vecIds: DataFrame, rowBytes: Long)
}
