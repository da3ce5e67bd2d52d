package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Gates for the serving-tier keymap cache (ServingCache +
  * IndexCatalog.fetchByIdsServing): identical rows to the stateless
  * fetch, and — the part a cache can get WRONG — staleness: any
  * maintenance write (upsert move, tombstone, vacuum) must be visible
  * to the very next cached request, enforced by the filesystem stamp,
  * never by a TTL. */
class ServingCacheSpec extends SparkSpecBase with Matchers {

  private def buildIndex(base: String, name: String): Unit = {
    import spark.implicits._
    val data = (0 until 50).map { i =>
      (i.toLong, Array(i.toFloat, 1f), i % 3, (i % 5).toLong)
    }.toDF("vec_id", "embedding", "label", "bucket")
    IndexCatalog.createIfAbsent(spark, base,
      IndexCatalog.IndexDescriptor(name, 2, "cosine"), data,
      partitionCols = Seq("bucket")) shouldBe true
    IndexCatalog.ensureKeymap(spark, base, name, "vec_id")
  }

  test("cached fetch equals the stateless fetch; maintenance invalidates by stamp, not TTL") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-scache").toString
    buildIndex(base, "sc")
    val ids = Seq(3L, 17L, 42L, 99999L).toDF("vec_id")
    def hot() = IndexCatalog.fetchByIdsServing(spark, base, "sc", ids)
      .orderBy(col("vec_id")).collect().map(_.toString).toSeq
    def cold() = IndexCatalog.fetchByIds(spark, base, "sc", ids)
      .orderBy(col("vec_id")).collect().map(_.toString).toSeq
    hot() shouldBe cold()
    // the cache is primed; a second call must reuse the SAME frame
    val km1 = ServingCache.keymap(spark, base, "sc")
    ServingCache.keymap(spark, base, "sc") should be theSameInstanceAs km1
    // maintenance moves key 3 from bucket 3 to bucket 4 — the keymap
    // shards rewrote, so the stamp moves and the NEXT cached request
    // serves the new location with no explicit invalidation call
    IndexCatalog.upsertInto(spark, base, "sc",
      Seq((3L, Array(8f, 8f), 0, 4L)).toDF("vec_id", "embedding", "label", "bucket"),
      "vec_id")
    ServingCache.keymap(spark, base, "sc") shouldNot be theSameInstanceAs km1
    hot() shouldBe cold()
    hot().exists(_.contains("8.0")) shouldBe true // the moved row, new payload
    // tombstones hide through load() semantics — cache uninvolved, but
    // the cached path must agree with the stateless one immediately
    IndexCatalog.tombstone(spark, base, "sc", Seq(17L).toDF("vec_id"))
    hot().count(_.contains("17")) shouldBe 0
    hot() shouldBe cold()
    // vacuum compacts the deleted key's entries (a keymap write): stamp
    // moves again, both paths still agree
    IndexCatalog.vacuumTombstones(spark, base, "sc")
    hot() shouldBe cold()
    ServingCache.invalidate(base, "sc")
  }

  test("lexical serving mode: resident dict/stats equal the stateless read; an upsert's df/n change is visible to the very next request") {
    val layout = InvertedIndex.cloneIndexNamed(
      spark, sfDir, InvertedIndex.IndexName, "word", "scache-lex")
    def hot() = InvertedIndex.bm25Over(spark, layout, serving = true)
      .collect().map(_.toString).toSeq
    def cold() = InvertedIndex.bm25Over(spark, layout)
      .collect().map(_.toString).toSeq
    hot() shouldBe cold()
    // primed: a repeat request reuses the SAME resident frames
    val d1 = ServingCache.frame(spark,
      java.nio.file.Paths.get(layout.dictPath))
    ServingCache.frame(spark,
      java.nio.file.Paths.get(layout.dictPath)) should be theSameInstanceAs d1
    // a full upsert → delete → vacuum cycle of fresh docs with NO read
    // between the steps, while the first resident frames are still
    // pinned: every store rewrite (the stats swaps included) must reach
    // both the next serving request and the maintenance steps' own reads
    // of the same stores, and adding then removing the same docs lands
    // back on the pre-cycle scores exactly
    val beforeCycle = hot()
    val cycle = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 40)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    InvertedIndex.upsertDocs(spark, layout, cycle)
    InvertedIndex.deleteDocs(spark, layout, cycle.select(col("doc_id")))
    InvertedIndex.vacuum(spark, layout)
    hot() shouldBe cold()
    hot() shouldBe beforeCycle
    // an upsert merges dict buckets (dynamic overwrite) and swaps stats:
    // both stamps move, so the NEXT serving request scores with the new
    // df/n/avgdl — never a TTL, never an explicit invalidation
    val twins = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < InvertedIndex.UpsertSrcCount)
      .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
        col("text"))
    InvertedIndex.upsertDocs(spark, layout, twins)
    hot() shouldBe cold()
    // deletes: stats swap at delete time (stamp moves), postings masked
    // on both paths — still equal under pending tombstones
    import spark.implicits._
    InvertedIndex.deleteDocs(spark, layout, Seq(0L, 7L).toDF("doc_id"))
    hot() shouldBe cold()
    // MaxScore's serving mode rides the same frames and must stay exact
    InvertedIndex.maxScorePlan(spark, layout, serving = true)._2
      .collect().map(_.toString).toSeq shouldBe cold()
    ServingCache.invalidateDir(java.nio.file.Paths.get(layout.dictPath))
    ServingCache.invalidateDir(java.nio.file.Paths.get(layout.statsPath))
    ServingCache.invalidateDir(
      java.nio.file.Paths.get(InvertedIndex.impactsPathOf(layout)))
  }

  test("repair refreshes a resident lex frame: the next upsert's lex merge reads the repaired store") {
    import spark.implicits._
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "scache-repair")
    val lexPath = java.nio.file.Paths.get(InvertedIndex.dictLexPathOf(layout))
    val p2 = spark.read.parquet(lexPath.toString).select(col("p2")).distinct()
      .as[String].collect().filter(_.matches("[a-z]{2}")).min
    Maintenance.deleteRecursively(lexPath.resolve(s"p2=$p2"))
    // a serving expansion pins a frame over the damaged dictlex/
    InvertedIndex.expandPrefix(spark, layout, p2, serving = true)
    InvertedIndex.rebuildDerived(spark, layout)
    // the merge reads the repaired partition and adds the new term to it
    InvertedIndex.upsertDocs(spark, layout,
      Seq((9300001L, s"${p2}qzxv")).toDF("doc_id", "text"))
    val audit = InvertedIndex.auditFrame(spark, layout).collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
    audit("lex_matches_dict") shouldBe 0L
    ServingCache.invalidateDir(lexPath)
  }

  test("the store walk reaches depth-3 leaves: a replaced file moves the stamp at equal count; hidden entries are never listed") {
    import java.nio.file.{Files, Path}
    val root = Files.createTempDirectory("graft-walk")
    def put(rel: String): Path = {
      val f = root.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.write(f, rel.getBytes("UTF-8"))
    }
    val visible = Seq("label=0/bucket=1/part-a.parquet",
      "label=0/bucket=2/part-b.parquet", "label=1/bucket=1/part-c.parquet")
    visible.foreach(put)
    Seq("_SUCCESS", "label=0/_SUCCESS", "label=0/bucket=1/.part-a.parquet.crc",
      ".spark-staging-42/label=0/bucket=1/part-x.parquet",
      "label=1/.spark-staging-7/part-y.parquet").foreach(put)
    def relFiles(l: ServingCache.Listing) = l.files
      .map(f => root.relativize(java.nio.file.Paths.get(f.getPath.toUri.getPath)).toString)
      .toSet
    val l1 = ServingCache.walk(root)
    relFiles(l1) shouldBe visible.toSet
    // same file count, one depth-3 file swapped for a new name
    Files.delete(root.resolve("label=0/bucket=2/part-b.parquet"))
    put("label=0/bucket=2/part-d.parquet")
    val l2 = ServingCache.walk(root)
    l2.files.size shouldBe l1.files.size
    l2.stamp should not be l1.stamp
    relFiles(l2) shouldBe Set("label=0/bucket=1/part-a.parquet",
      "label=0/bucket=2/part-d.parquet", "label=1/bucket=1/part-c.parquet")
    // hidden entries changing never move the stamp
    put(".spark-staging-43/label=9/bucket=9/part-z.parquet")
    put("label=1/_SUCCESS")
    ServingCache.walk(root).stamp shouldBe l2.stamp
    ServingCache.walk(root.resolve("absent")).files shouldBe empty
    Maintenance.deleteRecursively(root)
  }

  test("isTornRead matches a deleted file directly or as a nested cause, and nothing else") {
    val gone = Seq[Throwable](
      new java.io.FileNotFoundException("part-0.parquet"),
      new java.nio.file.NoSuchFileException("part-0.parquet"),
      new RuntimeException("[FAILED_READ_FILE.FILE_NOT_EXIST] part-0.parquet"))
    gone.foreach { t =>
      withClue(t.getClass.getSimpleName) {
        ServingCache.isTornRead(t) shouldBe true
        ServingCache.isTornRead(new RuntimeException("job aborted",
          new IllegalStateException("task failed", t))) shouldBe true
      }
    }
    ServingCache.isTornRead(new IllegalArgumentException("bad plan",
      new ArithmeticException("/ by zero"))) shouldBe false
  }

  test("a keymap-less index falls back to the semi-join scan without writing anything") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-scache-nokm").toString
    val data = (0 until 10).map(i => (i.toLong, Array(i.toFloat, 1f), 0, (i % 2).toLong))
      .toDF("vec_id", "embedding", "label", "bucket")
    IndexCatalog.createIfAbsent(spark, base,
      IndexCatalog.IndexDescriptor("nk", 2, "cosine"), data,
      partitionCols = Seq("bucket")) shouldBe true
    IndexCatalog.fetchByIdsServing(spark, base, "nk", Seq(1L, 7L).toDF("vec_id"))
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 7L)
    IndexCatalog.hasKeymap(base, "nk") shouldBe false
  }
}
