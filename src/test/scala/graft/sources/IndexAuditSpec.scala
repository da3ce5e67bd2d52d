package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase
import org.scalatest.matchers.should.Matchers

/** Gates for the index-fleet self-audit (q_index_audit): all-zeros on the
  * healthy cache, and SENSITIVE — a planted corruption flags exactly its
  * invariant and no other (an audit that can't fail is decoration). */
class IndexAuditSpec extends SparkSpecBase with Matchers {

  private def firstPartitionDir(root: String): java.nio.file.Path = {
    val s = Files.list(Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isDirectory(_))
        .toSeq.minBy(_.getFileName.toString)
    } finally s.close()
  }

  private def auditMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => (r.getString(1), r.getLong(2))).toMap

  test("q_index_audit is all-zeros on the healthy shared cache") {
    val rows = MinhashIndex.indexAudit(spark, sfDir).collect()
    rows should have length 25
    rows.map(_.getLong(2)).toSeq shouldBe Seq.fill(25)(0L)
  }

  test("graph sensitivity: a dropped redges shard flags redges_mirror_edges; a foreign endpoint flags edge_endpoints_live") {
    import org.apache.spark.sql.functions.col
    val shared = graft.operators.GraphOps.ensureGraphStore(spark, sfDir)
    val root = Paths.get(graft.Scratch.dir("audit-graph-sens"))
    Maintenance.copyTree(shared, root)
    val vecIds = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"))
    auditMap(graft.operators.GraphOps.auditGraphFrame(spark, root, vecIds))
      .values.foreach(_ shouldBe 0L)
    Maintenance.deleteRecursively(firstPartitionDir(root.resolve("redges").toString))
    val audit = auditMap(
      graft.operators.GraphOps.auditGraphFrame(spark, root, vecIds))
    audit("redges_mirror_edges") should be > 0L
    audit("edge_endpoints_live") shouldBe 0L
    // a vector-side delete the graph never saw: endpoints now name a
    // dead id — the delete-half-applied shape
    val reduced = vecIds.filter(col("vec_id") =!= 0L)
    auditMap(graft.operators.GraphOps.auditGraphFrame(spark, root, reduced))
      .apply("edge_endpoints_live") should be > 0L
  }

  test("cross sensitivity: a delete applied to ONE artifact only flags inverted_vector_live_sync") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val inv = InvertedIndex.cloneIndex(spark, sfDir, "audit-cross")
    val domain = graft.Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(graft.Tables.embeddings(spark, sfDir)
          .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val vecLive = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"))
    def sync(): Long = MinhashIndex
      .crossLiveSyncFrame(spark, inv, vecLive, domain)
      .head().getLong(2)
    sync() shouldBe 0L
    // the feed deletes doc 7 — the inverted index applies it, the vector
    // index misses it: exactly one artifact's view moved
    InvertedIndex.deleteDocs(spark, inv, Seq(7L).toDF("doc_id"))
    sync() shouldBe 1L
    // the vector side catching up (same id gone) restores sync
    MinhashIndex.crossLiveSyncFrame(spark, inv,
      vecLive.filter(col("vec_id") =!= 7L), domain)
      .head().getLong(2) shouldBe 0L
  }

  test("text-pair sensitivity: a delete applied to ONE text artifact flags inverted_embed_live_sync") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val inv = InvertedIndex.cloneIndex(spark, sfDir, "audit-textsync-inv")
    val emb = InvertedIndex.cloneIndexNamed(spark, sfDir,
      EmbedIndex.IndexName, "embed16", "audit-textsync-emb")
    val domain = graft.Tables.documents(spark, sfDir).select(col("doc_id"))
    def sync(): Long = MinhashIndex
      .crossLiveTextSyncFrame(spark, inv, emb, domain)
      .head().getLong(2)
    sync() shouldBe 0L
    // the feed deletes doc 11 — the word index applies it, the embed16
    // flagship relation misses it: a dead doc keeps serving embeddings
    InvertedIndex.deleteDocs(spark, inv, Seq(11L).toDF("doc_id"))
    sync() shouldBe 1L
    // the embed side catching up restores sync (tombstone-level — the
    // masked liveness is what the invariant reads, pre-vacuum)
    InvertedIndex.deleteDocs(spark, emb, Seq(11L).toDF("doc_id"))
    sync() shouldBe 0L
    // ...and the incremental arm sees the same through its pruned reads
    IncrementalAudit.crossLiveTextSyncPruned(spark, inv, emb, domain,
      col("doc_id") < 100L).head().getLong(2) shouldBe 0L
  }

  test("sq8 sensitivity: a drifted code row flags sq8_codes_match_vectors") {
    import org.apache.spark.sql.functions.{col, lit}
    val shared = graft.operators.VectorOps.ensureSq8(spark, sfDir)
    val root = Paths.get(graft.Scratch.dir("audit-sq8-sens"))
    Maintenance.copyTree(Paths.get(shared), root)
    graft.operators.VectorOps.sq8AuditFrame(spark, sfDir, root.toString)
      .head().getLong(2) shouldBe 0L
    // rewrite one label partition with every qnorm nudged — recomputed
    // codes no longer match the store
    val victim = firstPartitionDir(root.toString)
    val rows = spark.read.parquet(victim.toString)
      .withColumn("qnorm", col("qnorm") + lit(1.0))
      .localCheckpoint(true)
    Maintenance.deleteRecursively(victim)
    rows.write.parquet(victim.toString)
    graft.operators.VectorOps.sq8AuditFrame(spark, sfDir, root.toString)
      .head().getLong(2) should be > 0L
  }

  test("a planted keymap drift flags exactly keymap_mirrors_data") {
    import spark.implicits._
    import graft.sources.IndexCatalog.IndexDescriptor
    val base = Files.createTempDirectory("graft-audit-km").toString
    val data = Seq(
      (1L, Array(1f, 0f), 0, 0L),
      (2L, Array(0f, 1f), 0, 1L)
    ).toDF("vec_id", "embedding", "label", "bucket")
    IndexCatalog.createIfAbsent(spark, base,
      IndexDescriptor("akm", 2, "cosine"), data,
      partitionCols = Seq("bucket")) shouldBe true
    IndexCatalog.ensureKeymap(spark, base, "akm", "vec_id")
    auditMap(IndexCatalog.auditFrame(spark, base, "akm"))
      .values.foreach(_ shouldBe 0L)
    // plant a phantom location — the standing surplus only a crash
    // window may leave transiently
    val b9 = spark.range(1)
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.lit(9L)),
        org.apache.spark.sql.functions.lit(64L))).head().getLong(0)
    Seq((9L, "3")).toDF("vec_id", "bucket")
      .coalesce(1).write.mode("append")
      .parquet(Paths.get(base, "akm", "keymap", s"kbucket=$b9").toString)
    val audit = auditMap(IndexCatalog.auditFrame(spark, base, "akm"))
    audit("keymap_mirrors_data") shouldBe 1L
    (audit - "keymap_mirrors_data").values.foreach(_ shouldBe 0L)
  }

  test("a planted dict corruption flags dict_df_matches_postings AND the lex sync") {
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "audit-dict")
    Maintenance.deleteRecursively(firstPartitionDir(layout.dictPath))
    val audit = auditMap(InvertedIndex.auditFrame(spark, layout))
    audit("dict_df_matches_postings") should be > 0L
    // the lex, deletion-neighborhood, and reversed-term sidecars still
    // hold the dropped bucket's keys — one planting, four invariants see
    // it (each from its own store pair)
    audit("lex_matches_dict") should be > 0L
    audit("del_matches_dict") should be > 0L
    audit("rev_matches_dict") should be > 0L
    (audit - "dict_df_matches_postings" - "lex_matches_dict" -
      "del_matches_dict" - "rev_matches_dict").values.foreach(_ shouldBe 0L)
  }

  test("a planted dictrev-shard drop flags exactly rev_matches_dict") {
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "audit-rev")
    val revRoot = Paths.get(layout.dictPath).getParent.resolve("dictrev")
    Maintenance.deleteRecursively(firstPartitionDir(revRoot.toString))
    val audit = auditMap(InvertedIndex.auditFrame(spark, layout))
    audit("rev_matches_dict") should be > 0L
    (audit - "rev_matches_dict").values.foreach(_ shouldBe 0L)
  }

  test("a planted dictdel-shard drop flags exactly del_matches_dict") {
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "audit-del")
    val delRoot = Paths.get(layout.dictPath).getParent.resolve("dictdel")
    Maintenance.deleteRecursively(firstPartitionDir(delRoot.toString))
    val audit = auditMap(InvertedIndex.auditFrame(spark, layout))
    audit("del_matches_dict") should be > 0L
    (audit - "del_matches_dict").values.foreach(_ shouldBe 0L)
  }

  test("a planted lex-shard drop flags exactly lex_matches_dict") {
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "audit-lex")
    val lexRoot = Paths.get(layout.dictPath).getParent.resolve("dictlex")
    Maintenance.deleteRecursively(firstPartitionDir(lexRoot.toString))
    val audit = auditMap(InvertedIndex.auditFrame(spark, layout))
    audit("lex_matches_dict") should be > 0L
    (audit - "lex_matches_dict").values.foreach(_ shouldBe 0L)
  }

  test("a planted positional truncation flags exactly positions_match_tf") {
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "audit-pos")
    val posRoot = Paths.get(layout.dataPath).getParent.resolve("positions")
    Maintenance.deleteRecursively(firstPartitionDir(posRoot.toString))
    val audit = auditMap(InvertedIndex.auditFrame(spark, layout))
    audit("positions_match_tf") should be > 0L
    (audit - "positions_match_tf").values.foreach(_ shouldBe 0L)
  }

  test("rebuildDerived is idempotent on a healthy index and refuses pending deletes") {
    import spark.implicits._
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "repair-idem")
    InvertedIndex.rebuildDerived(spark, layout)
    auditMap(InvertedIndex.auditFrame(spark, layout)).values.foreach(_ shouldBe 0L)
    // a second repair changes nothing either
    InvertedIndex.rebuildDerived(spark, layout)
    auditMap(InvertedIndex.auditFrame(spark, layout)).values.foreach(_ shouldBe 0L)
    // with pending deletes, repair refuses: stats were decremented at
    // delete time while postings still hold the dead rows — a rebuild
    // from postings would resurrect the deleted docs' counts
    InvertedIndex.deleteDocs(spark, layout, Seq(0L).toDF("doc_id"))
    val err = intercept[IllegalArgumentException] {
      InvertedIndex.rebuildDerived(spark, layout)
    }
    err.getMessage should include("vacuum before repair")
  }

  test("rebuildDerived leaves every store of a fresh word, gram3 and embed16 index unchanged") {
    import scala.jdk.CollectionConverters._
    // per store: partition directory → parquet file count, and its rows
    def snapshot(root: java.nio.file.Path)
        : Map[String, (Map[String, Int], Seq[String])] = {
      def list(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
        val s = Files.list(p)
        try s.iterator().asScala.toSeq finally s.close()
      }
      def parquetCount(p: java.nio.file.Path): Int =
        list(p).count(_.getFileName.toString.endsWith(".parquet"))
      list(root).filter(Files.isDirectory(_)).map { store =>
        val parts = list(store).filter(Files.isDirectory(_))
          .map(p => p.getFileName.toString -> parquetCount(p)).toMap
        store.getFileName.toString -> (parts,
          spark.read.parquet(store.toString).collect().map(_.toString).sorted.toSeq)
      }.toMap
    }
    Seq(InvertedIndex.IndexName -> "word",
        graft.operators.FusionTune.GramIndexName -> "gram3",
        EmbedIndex.IndexName -> "embed16").foreach { case (name, tok) =>
      val layout = InvertedIndex.cloneIndexNamed(spark, sfDir, name, tok,
        s"repair-fresh-$tok")
      val root = Paths.get(layout.dataPath).getParent
      val before = snapshot(root)
      InvertedIndex.rebuildDerived(spark, layout)
      val after = snapshot(root)
      withClue(s"$tok: ") {
        // impacts is lazy at build; repair derives it like a backfill
        (after.keySet -- before.keySet).subsetOf(Set("impacts")) shouldBe true
        before.foreach { case (store, snap) =>
          withClue(s"$store: ") { after(store) shouldBe snap }
        }
      }
    }
  }

  test("a planted band-store drift flags exactly bands_match_sigs") {
    val layout = MinhashIndex.cloneIndex(spark, sfDir, "audit-bands")
    Maintenance.deleteRecursively(firstPartitionDir(layout.bandsPath))
    val audit = auditMap(MinhashIndex.auditFrame(spark, layout))
    audit("bands_match_sigs") should be > 0L
    audit("sig_width") shouldBe 0L
  }
}
