package graft.sources

import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import graft.operators.{KnnSearch, VectorOps}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Gates for the stamp-pinned store relations behind the four serve reads
  * (fetch, ann, bm25, embed_knn):
  *  - staleness: after every maintenance step, each primed serve read
  *    equals the same read from the files as they are now;
  *  - a pin lists exactly the files on disk after a rewrite, whatever
  *    another reader listed before it;
  *  - a warm request runs no per-request `parquet at` job, and the embed
  *    serve ranks in ONE SQL execution. */
class PinnedServeSpec extends SparkSpecBase with Matchers {

  /** Private copies of the vector, word and embed16 indexes. */
  private case class Clones(vecBase: String, vecName: String,
                            word: InvertedIndex.Layout, embed: InvertedIndex.Layout)

  private def clones(tag: String): Clones = {
    val (base, name, _) = VectorOps.ensureIvfBucketed(spark, sfDir)
    val vecBase = graft.Scratch.dir(s"$tag-vec")
    Maintenance.copyTree(Paths.get(base, name), Paths.get(vecBase, name))
    IndexCatalog.ensureKeymap(spark, vecBase, name, "vec_id")
    Clones(vecBase, name,
      InvertedIndex.cloneIndexNamed(spark, sfDir, InvertedIndex.IndexName, "word", s"$tag-word"),
      InvertedIndex.cloneIndexNamed(spark, sfDir, EmbedIndex.IndexName, "embed16", s"$tag-embed"))
  }

  private val Probes = Seq(0L, 1L, 2L, 3L)
  private val FetchIds = Seq(0L, 3L, 5L, 17L, 5000003L, 99999999L)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def query(c: Clones): DataFrame =
    IndexCatalog.load(spark, c.vecBase, c.vecName)
      .filter(col("vec_id") === 1L)
      .select(lit(-1L).as("q_id"), col("embedding").as("q_embedding"))
      .localCheckpoint(eager = true)

  private def serveReads(c: Clones, q: DataFrame): Map[String, Seq[String]] = {
    import spark.implicits._
    Map(
      "fetch" -> rows(IndexCatalog.fetchByIdsServing(spark, c.vecBase, c.vecName,
        FetchIds.toDF("vec_id")).select(col("vec_id"), col("embedding"))),
      "ann" -> rows(IndexCatalog.search(spark, c.vecBase, c.vecName, q, 10,
        buckets = Probes).select(col("vec_id"), col("score"))),
      "bm25" -> rows(InvertedIndex.bm25Over(spark, c.word, serving = true)),
      "embed_knn" -> rows(EmbedIndex.embedOver(spark, c.embed, k = 10, serving = true)))
  }

  /** The same four reads from the files as they are now: the vector
    * index straight through `spark.read.parquet` (tombstones masked by
    * hand), the lexical and embed serves through their stateless paths
    * after every cached entry of their stores was dropped. */
  private def freshReads(c: Clones, q: DataFrame): Map[String, Seq[String]] = {
    val vecDir = Paths.get(c.vecBase, c.vecName)
    val tombDir = vecDir.resolve("tombstones")
    val raw = spark.read.parquet(vecDir.resolve("data").toString)
    val live =
      if (InvertedIndex.hasParquet(tombDir))
        raw.join(broadcast(spark.read.parquet(tombDir.toString).distinct()),
          Seq("vec_id"), "left_anti")
      else raw
    def stores(l: InvertedIndex.Layout): Seq[Path] = {
      val root = Paths.get(l.dataPath).getParent
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala.toSeq finally s.close()
    }
    (stores(c.word) ++ stores(c.embed)).foreach(ServingCache.invalidateDir)
    val metric = IndexCatalog.describe(c.vecBase, c.vecName).get.metric
    Map(
      "fetch" -> rows(live.filter(col("vec_id").isin(FetchIds: _*))
        .select(col("vec_id"), col("embedding"))),
      "ann" -> rows(KnnSearch.topK(live.filter(col("bucket").isin(Probes: _*)), q, 10,
        metric, keep = Seq("bucket")).select(col("vec_id"), col("score"))),
      "bm25" -> rows(InvertedIndex.bm25Over(spark, c.word)),
      "embed_knn" -> rows(EmbedIndex.embedOver(spark, c.embed, k = 10)))
  }

  test("every primed serve read equals a fresh read of the files after each of upsert, delete and vacuum") {
    import spark.implicits._
    val c = clones("pinned-stale")
    val q = query(c)
    serveReads(c, q) shouldBe freshReads(c, q)
    serveReads(c, q) // primed: every pin and resident frame is warm
    val vecBatch = IndexCatalog.load(spark, c.vecBase, c.vecName)
      .filter(col("vec_id") < 8L)
      .withColumn("vec_id", col("vec_id") + 5000000L)
      .localCheckpoint(eager = true)
    val docBatch = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 10L)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      .localCheckpoint(eager = true)
    val deadVecs = Seq(3L, 5000003L).toDF("vec_id")
    val deadDocs = Seq(2L, 5000002L).toDF("doc_id")
    val steps = Seq[(String, () => Unit)](
      "upsert" -> (() => {
        IndexCatalog.upsertInto(spark, c.vecBase, c.vecName, vecBatch, "vec_id")
        InvertedIndex.upsertDocs(spark, c.word, docBatch)
        InvertedIndex.upsertDocs(spark, c.embed, docBatch)
      }),
      "delete" -> (() => {
        IndexCatalog.tombstone(spark, c.vecBase, c.vecName, deadVecs)
        InvertedIndex.deleteDocs(spark, c.word, deadDocs)
        InvertedIndex.deleteDocs(spark, c.embed, deadDocs)
      }),
      "vacuum" -> (() => {
        IndexCatalog.vacuumTombstones(spark, c.vecBase, c.vecName)
        InvertedIndex.vacuum(spark, c.word)
        InvertedIndex.vacuum(spark, c.embed)
      }))
    val seen = steps.map { case (step, run) =>
      run()
      val served = serveReads(c, q)
      withClue(s"after $step: ") { served shouldBe freshReads(c, q) }
      served
    }
    // the steps were visible: the upserted twin is fetched, then gone
    seen(0)("fetch").exists(_.startsWith("[5000003,")) shouldBe true
    seen(1)("fetch").exists(_.startsWith("[5000003,")) shouldBe false
  }

  test("a warm pin sees a maintenance rewrite that follows a plain reader's listing; invalidateDir drops the pin") {
    val c = clones("pinned-poison")
    val dir = Paths.get(c.word.dataPath)
    def paths(files: Array[String]) = files.map(new java.net.URI(_).getPath).toSet
    ServingCache.pinned(spark, dir).inputFiles should not be empty // warm pin
    // 1. a plain reader lists the store
    val before = paths(spark.read.parquet(dir.toString).inputFiles)
    // 2. a maintenance shard rewrite, no invalidation after it
    val tb = spark.read.parquet(dir.toString).select(col("tbucket")).head().get(0)
    val shard = spark.read.parquet(dir.toString).filter(col("tbucket") === tb)
      .localCheckpoint(eager = true)
    Maintenance.rewriteShards(dir.toString, Seq("tbucket"), shard)
    val onDisk = ServingCache.walk(dir).files.map(_.getPath.toUri.getPath).toSet
    before should not be onDisk
    // 3. the pinned read lists, and reads, exactly the files on disk now
    val pinned = ServingCache.pinned(spark, dir)
    paths(pinned.inputFiles) shouldBe onDisk
    rows(pinned) shouldBe rows(spark.read.parquet(dir.toString))
    // a warm pin builds nothing; a dropped one rebuilds (schema job)
    jobsOf(ServingCache.pinned(spark, dir)) shouldBe empty
    ServingCache.invalidateDir(dir)
    jobsOf(ServingCache.pinned(spark, dir)) should not be empty
  }

  /** Jobs the calling thread submits inside `body`, as (SQL execution id,
    * stage names) — filtered by a local property, so concurrent suites'
    * jobs never count. A sentinel job submitted last marks the point by
    * which the listener bus has delivered every earlier job start. */
  private def jobsOf(body: => Unit): Seq[(String, Seq[String])] = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.spec.tag")))
          .filter(_.startsWith(tag)).foreach { t =>
            seen.add((t, e.properties.getProperty("spark.sql.execution.id"),
              e.stageInfos.map(_.name)))
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.tag", tag)
      try body finally sc.setLocalProperty("graft.spec.tag", tag + "-sentinel")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty("graft.spec.tag", null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.asScala.exists(_._1 != tag) && System.nanoTime() < deadline)
        Thread.sleep(20)
      seen.asScala.exists(_._1 != tag) shouldBe true
      seen.asScala.filter(_._1 == tag).map(j => (j._2, j._3)).toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("a warm serve request runs no parquet-at job; the embed serve ranks in one SQL execution") {
    import spark.implicits._
    val c = clones("pinned-jobs")
    val q = query(c)
    val reads = Seq[(String, () => Unit)](
      "fetch" -> (() => IndexCatalog.fetchByIdsServing(spark, c.vecBase, c.vecName,
        FetchIds.toDF("vec_id")).collect()),
      "ann" -> (() => IndexCatalog.search(spark, c.vecBase, c.vecName, q, 10,
        buckets = Probes).collect()),
      "bm25" -> (() => InvertedIndex.bm25Over(spark, c.word, serving = true).collect()),
      "embed_knn" -> (() =>
        EmbedIndex.embedOver(spark, c.embed, k = 5, serving = true).collect()))
    reads.foreach { case (op, read) =>
      read() // cold: builds the pins and resident frames
      val jobs = jobsOf(read())
      withClue(s"$op stages ${jobs.flatMap(_._2)}: ") {
        jobs should not be empty
        jobs.flatMap(_._2).filter(_.startsWith("parquet at")) shouldBe empty
        if (op == "embed_knn") jobs.map(_._1).distinct should have size 1
      }
    }
  }
}
