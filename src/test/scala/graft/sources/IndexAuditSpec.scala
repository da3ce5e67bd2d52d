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

  // audit and repair of one index copy
  private final case class Ops(audit: () => Map[String, Long], repair: () => Unit)

  private def invertedOps(root: java.nio.file.Path): Ops = {
    val l = InvertedIndex.Layout(root.resolve("data").toString,
      root.resolve("dict").toString, root.resolve("stats").toString)
    Ops(() => auditMap(InvertedIndex.auditFrame(spark, l)),
      () => InvertedIndex.rebuildDerived(spark, l))
  }

  private def minhashOps(root: java.nio.file.Path): Ops = {
    val l = MinhashIndex.Layout(root.resolve("sigs").toString,
      root.resolve("bands").toString)
    Ops(() => auditMap(MinhashIndex.auditFrame(spark, l)),
      () => MinhashIndex.rebuildDerived(spark, l))
  }

  private def rootOf(layout: InvertedIndex.Layout): java.nio.file.Path = {
    InvertedIndex.backfill(spark, layout, InvertedIndex.Impacts) // lazy at build
    Paths.get(layout.dataPath).getParent
  }

  // one pristine clone per kind, shared by every mutation case; each case
  // mutates its own copy of it, so cases can run as overlapped jobs
  private lazy val wordRoot =
    rootOf(InvertedIndex.cloneIndex(spark, sfDir, "audit-mut-word"))
  private lazy val embedRoot = rootOf(InvertedIndex.cloneIndexNamed(spark, sfDir,
    EmbedIndex.IndexName, "embed16", "audit-mut-embed"))
  private lazy val mhRoot = Paths.get(
    MinhashIndex.cloneIndex(spark, sfDir, "audit-mut-minhash").sigsPath).getParent

  /** A fresh copy of the pristine clone `pristine`, named by `tag`. */
  private def copyOf(pristine: java.nio.file.Path, tag: String): java.nio.file.Path = {
    val root = Paths.get(s"$pristine-$tag")
    Maintenance.deleteRecursively(root)
    Maintenance.copyTree(pristine, root)
    root
  }

  /** Drops one partition directory of `store` in the copy at `root` (stats
    * has none: its one row is rewritten with a wrong n). */
  private def drop(root: java.nio.file.Path, store: String): Unit = {
    import org.apache.spark.sql.functions.col
    val dir = root.resolve(store)
    if (store == "stats") {
      val wrong = spark.read.parquet(dir.toString)
        .withColumn("n", col("n") + 1L).localCheckpoint(eager = true)
      wrong.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    } else Maintenance.deleteRecursively(firstPartitionDir(dir.toString))
  }

  /** Drops one partition of `store` in the copy at `root` and asserts
    * the audit flags exactly `flags`. */
  private def dropFlagsExactly(root: java.nio.file.Path, ops: Ops, store: String,
                               flags: Set[String]): Unit = {
    drop(root, store)
    withClue(s"${root.getFileName}/$store: ") {
      ops.audit().filter(_._2 > 0L).keySet shouldBe flags
    }
  }

  /** The mutation table of one kind: for each row, drop one partition of
    * the row's store and assert exactly its flags, then restore the store
    * from `pristine`. Repair is NOT per row: it rebuilds every derived
    * store whichever one drifted, so one round trip from a copy with a
    * partition of EVERY store in `derived` dropped checks it for all of
    * them at once, and its chain order (dict before its key sets, lens
    * before stats) as well. */
  private def mutationTable(pristine: java.nio.file.Path,
                            ops: java.nio.file.Path => Ops,
                            rows: Seq[(String, Set[String])],
                            derived: Seq[String]): Unit = {
    val root = copyOf(pristine, "table")
    rows.foreach { case (store, flags) =>
      dropFlagsExactly(root, ops(root), store, flags)
      Maintenance.deleteRecursively(root.resolve(store))
      Maintenance.copyTree(pristine.resolve(store), root.resolve(store))
    }
    derived.foreach(drop(root, _))
    ops(root).repair()
    withClue(s"${root.getFileName} after repair: ") {
      ops(root).audit().values.foreach(_ shouldBe 0L)
    }
    Maintenance.deleteRecursively(root)
  }

  private val WordDerived = Seq("dict", "dictlex", "dictrev", "dictdel", "lens",
    "stats", "footprint", "impacts")
  private val EmbedDerived = Seq("dict", "lens", "stats", "footprint",
    "impacts", "norms")

  test("a planted dict corruption flags dict_df_matches_postings AND the lex sync") {
    // the lex, deletion-neighborhood, and reversed-term sidecars still
    // hold the dropped bucket's keys — one planting, four invariants see
    // it (each from its own store pair)
    val root = copyOf(wordRoot, "dict")
    dropFlagsExactly(root, invertedOps(root), "dict", Set("dict_df_matches_postings",
      "lex_matches_dict", "del_matches_dict", "rev_matches_dict"))
  }

  test("a planted dictrev-shard drop flags exactly rev_matches_dict") {
    val root = copyOf(wordRoot, "dictrev")
    dropFlagsExactly(root, invertedOps(root), "dictrev", Set("rev_matches_dict"))
  }

  test("a planted dictdel-shard drop flags exactly del_matches_dict") {
    val root = copyOf(wordRoot, "dictdel")
    dropFlagsExactly(root, invertedOps(root), "dictdel", Set("del_matches_dict"))
  }

  test("a planted lex-shard drop flags exactly lex_matches_dict") {
    val root = copyOf(wordRoot, "dictlex")
    dropFlagsExactly(root, invertedOps(root), "dictlex", Set("lex_matches_dict"))
  }

  test("a planted band-store drift flags exactly bands_match_sigs") {
    val root = copyOf(mhRoot, "bands")
    dropFlagsExactly(root, minhashOps(root), "bands", Set("bands_match_sigs"))
  }

  test("a dropped derived store flags exactly its invariants") {
    // the rows the named cases above do not cover: the store, and the
    // invariants dropping one of its partitions must flag — its own, plus
    // those of the stores derived from it (stats from lens); then one
    // repair round trip per kind over every derived store
    val word = Seq(
      "lens" -> Set("lens_matches_postings", "stats_match_lens"),
      "stats" -> Set("stats_match_lens"),
      "footprint" -> Set("footprint_matches_postings"),
      "impacts" -> Set("impacts_bound_postings"))
    val embed = Seq(
      "dict" -> Set("dict_df_matches_postings"),
      "lens" -> Set("lens_matches_postings", "stats_match_lens"),
      "stats" -> Set("stats_match_lens"),
      "footprint" -> Set("footprint_matches_postings"),
      "impacts" -> Set("impacts_bound_postings"),
      "norms" -> Set("norms_match_postings"))
    graft.operators.Par.run(Seq(
      () => mutationTable(wordRoot, invertedOps, word, WordDerived),
      () => mutationTable(embedRoot, invertedOps, embed, EmbedDerived),
      () => mutationTable(mhRoot, minhashOps, Nil, Seq("bands"))),
      parallelism = 3)
  }

  test("pending deletes violate no deep-audit invariant") {
    import spark.implicits._
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "audit-pending")
    // tombstones only: stats drop at once, lens keeps the rows to vacuum
    InvertedIndex.deleteDocs(spark, layout, Seq(1L, 2L, 3L).toDF("doc_id"))
    val audit = auditMap(InvertedIndex.auditFrame(spark, layout))
    audit should have size 9
    audit.values.foreach(_ shouldBe 0L)
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
}
