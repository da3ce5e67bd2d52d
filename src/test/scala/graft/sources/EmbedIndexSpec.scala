package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase
import graft.operators.EmbedOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Gates for the persisted flagship-embedding index (EmbedIndex):
  *  - driver-side hash parity with the column kernel (a divergence would
  *    silently mis-bucket every query dimension);
  *  - the serve plan is the PRUNED persisted scan — tbucket partition
  *    filters present, NO tokenize-explode (Generate) anywhere;
  *  - incremental upsert / delete / vacuum each equal an in-plan rebuild
  *    of the q_embed_knn_sql algebra over the corresponding corpus, at
  *    ranking depth well past the declared top-5;
  *  - the norms sidecar is audited (drift flags, repair restores). */
class EmbedIndexSpec extends SparkSpecBase with Matchers {

  private def docs = graft.Tables.documents(spark, sfDir)

  /** The q_embed_knn_sql algebra over an arbitrary corpus frame — the
    * from-scratch referee every lifecycle gate compares against. */
  private def reference(corpus: DataFrame, k: Int): Seq[(Long, Double)] = {
    import spark.implicits._
    val toks = corpus
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val emb = toks.select(col("doc_id"), EmbedOps.tokenBucket(col("w")).as("d"))
      .groupBy(col("doc_id"), col("d")).agg(count(lit(1)).as("v"))
    val q = EmbedIndex.queryEmbedding(EmbedOps.FlagshipQuery)
    val sqrtQn2 = math.sqrt(q.values.map(v => v * v).sum.toDouble)
    val qdf = q.toSeq.toDF("d", "qv")
    val dots = emb.join(broadcast(qdf), "d")
      .groupBy(col("doc_id")).agg(sum(col("v") * col("qv")).as("dot"))
    val norms = emb.groupBy(col("doc_id")).agg(sum(col("v") * col("v")).as("n2"))
    norms.join(dots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(coalesce(col("dot"), lit(0L)).cast("double") /
          (sqrt(col("n2").cast("double")) * lit(sqrtQn2)), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  private def served(layout: InvertedIndex.Layout, k: Int): Seq[(Long, Double)] =
    EmbedIndex.embedOver(spark, layout, k = k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("driver-side tokenBucketOf is bit-parity with the column kernel over the corpus vocabulary + seeded strings") {
    import spark.implicits._
    val corpusToks = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "").distinct()
      .collect().map(_.getString(0)).toSeq
    val rnd = new scala.util.Random(42)
    val fuzz = Seq.fill(500)(rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString)
    val all = (corpusToks ++ fuzz).distinct
    val colSide = all.toDF("w")
      .select(col("w"), EmbedOps.tokenBucket(col("w")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    all.foreach { w =>
      EmbedOps.tokenBucketOf(w) shouldBe colSide(w)
    }
  }

  test("q_embed_index equals the in-plan rebuild; the serve plan prunes tbuckets and holds no tokenize-explode") {
    val layout = EmbedIndex.ensure(spark, sfDir)
    served(layout, 50) shouldBe reference(docs, 50)
    val df = EmbedIndex.embedKnnIndexed(spark, sfDir)
    df.collect() // execute so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    plan should include regex "PartitionFilters: \\[tbucket#\\d+ IN"
    // the corpus-side embed pass is GONE: no Generate (explode) node —
    // the whole point of persisting the artifact
    plan should not include "Generate"
  }

  test("pruned serve == the rank-every-doc plan bit-for-bit; the norms read is partition-pruned and never left-joined") {
    val layout = EmbedIndex.ensure(spark, sfDir)
    val queries = Seq(EmbedOps.FlagshipQuery, EmbedIndex.FlagshipQuery2,
      "window stream filter spark", "hash join sort data", "vector")
    for (q <- queries; k <- Seq(5, 10)) {
      val pruned = EmbedIndex.embedOver(spark, layout, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val ref = EmbedIndex.embedUnprunedOver(spark, layout, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      pruned shouldBe ref
    }
    // plan gate (the r15 verdict's weak item): the MaxScore-pruned serve
    // reads norms under dbucket PartitionFilters, inner-joins them to
    // the candidate dots, and ranks no zero-dot doc — no left join, no
    // corpus-wide norms relation, still no tokenize-explode
    val df = EmbedIndex.embedOver(spark, layout, EmbedOps.FlagshipQuery, 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include regex "PartitionFilters: \\[dbucket#\\d+ IN"
    plan should not include "LeftOuter"
    plan should not include "Generate"
  }

  test("the fallback fires exactly when fewer than k docs hold the top dim — and still ranks every live doc") {
    val layout = EmbedIndex.ensure(spark, sfDir)
    val n = docs.count().toInt
    // k past the corpus: no dim is held by k docs, so the pruned path
    // would drop the zero-dot tail the oracle shape must rank
    val got = EmbedIndex.embedOver(spark, layout, EmbedOps.FlagshipQuery, n + 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    got shouldBe reference(docs, n + 10)
    got.size shouldBe n // every live doc ranked, zero-dot docs included
  }

  test("batched serve plan is candidate-proportional: no nested-loop cross of norms x queries; the guard falls back to the oracle shape") {
    val layout = EmbedIndex.ensure(spark, sfDir)
    val df = EmbedIndex.embedBatchOver(spark, layout)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    // guard fallback: k past the corpus — every q_id must rank every
    // live doc (the docs x M oracle shape), equal to the single-query
    // unpruned plan per slice
    val n = docs.count().toInt
    val fb = EmbedIndex.embedBatchOver(spark, layout, k = n + 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    EmbedIndex.BatchQueries.foreach { case (qid, text) =>
      val single = EmbedIndex.embedUnprunedOver(spark, layout, text, n + 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      fb.filter(_._1 == qid).map(t => (t._2, t._3)).toSeq shouldBe single
    }
  }

  test("pruning memo: a repeat query serves identically, and a maintenance write invalidates the memoed decision") {
    val layout = InvertedIndex.cloneIndexNamed(
      spark, sfDir, EmbedIndex.IndexName, "embed16", "embed-spec-memo")
    val before = served(layout, 5)
    served(layout, 5) shouldBe before // memo hit — same decision replayed
    // churn the index: the batch contains flagship-winner twins, so a
    // stale pruning decision (old θ over the old corpus) would visibly
    // miss them — the stamp guard must recompute
    val twins = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
        col("lang"), col("text"))
    InvertedIndex.upsertDocs(spark, layout, twins)
    served(layout, 50) shouldBe
      reference(docs.select(col("doc_id"), col("lang"), col("text"))
        .unionByName(twins), 50)
  }

  test("upsert: incremental == in-plan rebuild over the grown corpus at depth 100") {
    val layout = InvertedIndex.cloneIndexNamed(
      spark, sfDir, EmbedIndex.IndexName, "embed16", "embed-spec-upsert")
    val twins = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
        col("lang"), col("text"))
    InvertedIndex.upsertDocs(spark, layout, twins)
    served(layout, 100) shouldBe
      reference(docs.select(col("doc_id"), col("lang"), col("text"))
        .unionByName(twins), 100)
  }

  test("delete then vacuum: masked reads and the folded layout both equal the reduced-corpus rebuild; the dead norm rows physically drop") {
    import spark.implicits._
    // delete a batch CONTAINING the current #1 winner — the sharpest gate
    val top1 = reference(docs, 1).head._1
    val deadIds = (Seq(top1) ++ Seq(3L, 17L, 101L)).distinct
    val reduced = docs.filter(!col("doc_id").isin(deadIds: _*))
    val layout = InvertedIndex.cloneIndexNamed(
      spark, sfDir, EmbedIndex.IndexName, "embed16", "embed-spec-delete")
    InvertedIndex.deleteDocs(spark, layout, deadIds.toDF("doc_id"))
    served(layout, 50) shouldBe reference(reduced, 50) // masked reads
    InvertedIndex.vacuum(spark, layout)
    served(layout, 50) shouldBe reference(reduced, 50) // folded layout
    val normDocs = spark.read.parquet(InvertedIndex.normsPathOf(layout))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    deadIds.foreach(id => normDocs should not contain id)
  }

  test("embed index rides the SAME CDC apply as the word index: mixed U/D triggers land on the rebuild; the resident-norms serving mode stays staleness-exact") {
    import spark.implicits._
    val layout = InvertedIndex.cloneIndexNamed(
      spark, sfDir, EmbedIndex.IndexName, "embed16", "embed-spec-cdc")
    // prime the resident norms frame BEFORE any churn — the staleness
    // gates below must catch every later write through the stamp alone
    EmbedIndex.embedOver(spark, layout, k = 5, serving = true).collect()
    val twins = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
        col("lang"), col("text"))
    // trigger 1: plain adds (marker-dispatched embed16 tokenization)
    InvertedIndex.applyCdcBatch(layout,
      twins.select(col("doc_id"), col("text"), lit("U").as("op")), 0L)
    // trigger 2: deletes (including the current #1 winner) + one more add
    val top1 = reference(docs, 1).head._1
    val dead = Seq(top1, 11L, 23L).distinct
    val add2 = docs.filter(col("doc_id") === 7L)
      .select((col("doc_id") + 2L * InvertedIndex.UpsertIdOffset).as("doc_id"),
        col("lang"), col("text"))
    InvertedIndex.applyCdcBatch(layout,
      dead.toDF("doc_id").select(col("doc_id"), lit(null).cast("string").as("text"),
          lit("D").as("op"))
        .unionByName(add2.select(col("doc_id"), col("text"), lit("U").as("op"))),
      1L)
    val endCorpus = docs.select(col("doc_id"), col("lang"), col("text"))
      .filter(!col("doc_id").isin(dead: _*))
      .unionByName(twins).unionByName(add2)
    val expect = reference(endCorpus, 50)
    served(layout, 50) shouldBe expect // stateless, pending tombstones
    // the SERVING request primed before the churn must see the new
    // state: the upsert appended norms shards (stamp moved) and the
    // tombstones mask on both paths
    EmbedIndex.embedOver(spark, layout, k = 50, serving = true).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe expect
    // vacuum folds norms physically (another stamp move) — still exact
    InvertedIndex.vacuum(spark, layout)
    EmbedIndex.embedOver(spark, layout, k = 50, serving = true).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe expect
    ServingCache.invalidateDir(
      java.nio.file.Paths.get(InvertedIndex.normsPathOf(layout)))
  }

  test("batched serve: each q_id slice equals the single-query plan for that text") {
    val layout = EmbedIndex.ensure(spark, sfDir)
    val batch = EmbedIndex.embedBatchOver(spark, layout).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (q, rows) => q -> rows.map(t => (t._2, t._3)).toSeq }
    EmbedIndex.BatchQueries.foreach { case (qid, text) =>
      val single = EmbedIndex.embedOver(spark, layout, text).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      batch(qid) shouldBe single
    }
  }

  test("dim-truncation frontier: the full-depth row IS the exact ranking; candidates grow monotonically with depth") {
    val rows = EmbedIndex.embedDimTune(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val m = EmbedIndex.queryEmbedding(EmbedOps.FlagshipQuery).size
    rows.map(_._1) shouldBe (1 to m)
    // degeneration theorem: e = |dims| scores every dim — hits = k
    rows.last._2 shouldBe 5L
    rows.foreach { case (_, hits, _) => hits should be <= 5L }
    // a deeper truncation can only ADD candidate docs (matched-dim sets
    // are nested in e)
    rows.sliding(2).foreach { case Seq((_, _, c1), (_, _, c2)) =>
      c2 should be >= c1
    }
  }

  test("audit: norms_match_postings zero healthy, flags planted drift, repair restores") {
    val layout = InvertedIndex.cloneIndexNamed(
      spark, sfDir, EmbedIndex.IndexName, "embed16", "embed-spec-audit")
    def audit(): Map[String, Long] =
      InvertedIndex.auditFrame(spark, layout).collect()
        .map(r => (r.getString(1), r.getLong(2))).toMap
    val healthy = audit()
    healthy.keySet should contain("norms_match_postings")
    healthy.values.foreach(_ shouldBe 0L)
    // drop one norms shard wholesale — its docs now have postings but no n2
    val shards = {
      val s = Files.list(Paths.get(InvertedIndex.normsPathOf(layout)))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isDirectory(_)).toSeq
      } finally s.close()
    }
    Maintenance.deleteRecursively(shards.minBy(_.getFileName.toString))
    audit()("norms_match_postings") should be > 0L
    InvertedIndex.rebuildDerived(spark, layout)
    audit().values.foreach(_ shouldBe 0L)
  }

  test("a zero-token doc: the deep audit stays clean and repair keeps its lens row and stats") {
    import spark.implicits._
    val layout = InvertedIndex.cloneIndexNamed(
      spark, sfDir, EmbedIndex.IndexName, "embed16", "embed-spec-blank")
    def audit(): Map[String, Long] =
      InvertedIndex.auditFrame(spark, layout).collect()
        .map(r => (r.getString(1), r.getLong(2))).toMap
    def rows(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    // blank text: embed16 drops blank tokens, so the doc gets a (doc_id,
    // 0) lens row and no posting
    InvertedIndex.upsertDocs(spark, layout,
      Seq((9200001L, "   ")).toDF("doc_id", "text"))
    spark.read.parquet(InvertedIndex.lensPathOf(layout))
      .filter(col("doc_id") === 9200001L && col("dl") === 0).count() shouldBe 1L
    audit().values.foreach(_ shouldBe 0L)
    val lens = rows(InvertedIndex.lensPathOf(layout))
    val stats = rows(layout.statsPath)
    InvertedIndex.rebuildDerived(spark, layout)
    rows(InvertedIndex.lensPathOf(layout)) shouldBe lens
    rows(layout.statsPath) shouldBe stats
    audit().values.foreach(_ shouldBe 0L)
    // a zero-length row for a doc that HAS postings is still drift
    Seq((0L, 0)).toDF("doc_id", "dl")
      .withColumn("dbucket", InvertedIndex.dbucketCol(col("doc_id")))
      .write.mode("append").partitionBy("dbucket")
      .parquet(InvertedIndex.lensPathOf(layout))
    audit()("lens_matches_postings") should be > 0L
  }

  test("the tuned truncation depth is pinned to the live sweep's choice; the tuned serve ranks by the truncated kernel") {
    // the measurement→deployment pin (the IvfTune.TunedNprobe
    // discipline): a corpus/tokenizer change that moves the sweep's
    // choice must fail HERE, not silently serve a stale dial
    EmbedIndex.chosenDimDepth(spark, sfDir) shouldBe EmbedIndex.TunedDimDepth
    // the tuned serve returns k rows, deterministically ordered
    val got = EmbedIndex.embedKnnTuned(spark, sfDir).collect()
    got should have length EmbedIndex.DimTuneK
    val scores = got.map(_.getDouble(1)).toSeq
    scores shouldBe scores.sorted.reverse
  }
}
