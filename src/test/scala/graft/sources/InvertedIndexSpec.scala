package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase
import graft.operators.TextOps
import org.scalatest.matchers.should.Matchers

/** Gates for the persisted inverted index (InvertedIndex): the indexed
  * BM25 must equal the query-time q_bm25 row-for-row (same oracle, same
  * results — the q_ann_ivf_persisted contract applied to text), the
  * query plan must actually prune to the query terms' bucket
  * directories, and the build must be idempotent (second ensure() never
  * rewrites). */
class InvertedIndexSpec extends SparkSpecBase with Matchers {

  test("q_bm25_indexed equals q_bm25 row-for-row") {
    val indexed = InvertedIndex.bm25Indexed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val direct = TextOps.bm25(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    indexed.toSeq shouldBe direct.toSeq
  }

  test("query plan prunes to the terms' bucket directories and pushes the term filter") {
    val df = InvertedIndex.bm25Indexed(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    plan should include regex "PartitionFilters: \\[tbucket#\\d+ IN"
    // the term equality reaches the Parquet scan as a data filter
    plan should include regex "PushedFilters: \\[In\\(w,"
  }

  test("q_hybrid_indexed: the lexical arm rides the index (tbucket PartitionFilters), fusion ranks sanely") {
    val df = InvertedIndex.hybridIndexed(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the fusion plan's TEXT side is partition-pruned posting lists, not
    // a corpus re-tokenization
    plan should include regex "PartitionFilters: \\[tbucket#\\d+ IN"
    plan should include regex "PushedFilters: \\[In\\(w,"
    // the dense arm rides the ROUTED IVF path: the declared query
    // materializes it inside withRoute, so assert on the lazy
    // plan-dump variant under an explicit register — BOTH arms'
    // PartitionFilters must appear in one fused plan
    val lazyDf = InvertedIndex.planFrames("q_hybrid_indexed")(spark, sfDir)
    try {
      val lp = lazyDf.queryExecution.executedPlan.toString
      lp should include regex "PartitionFilters: \\[tbucket#\\d+ IN"
      lp should include regex "PartitionFilters: \\[bucket#\\d+ IN"
    } finally InvertedIndex.dropPlanRoutes(spark, sfDir)
    val rows = df.collect()
    rows should have length 10
    // rrf is within the two-list bound and the ordering is by rrf desc
    val rrfs = rows.map(_.getDouble(3))
    all(rrfs) should be <= 2.0 / (InvertedIndex.HybridRrfK + 1)
    rrfs.toSeq shouldBe rrfs.sortBy(-_).toSeq
    // a doc retrieved by BOTH arms outranks rank-equivalent single-arm docs:
    // every returned row has at least one arm rank
    rows.foreach { r =>
      assert(!r.isNullAt(1) || !r.isNullAt(2),
        s"row ${r.getLong(0)} fused with neither arm rank")
    }
  }

  test("ensure() is idempotent: the second call leaves the index untouched") {
    val layout = InvertedIndex.ensure(spark, sfDir)
    val marker = Paths.get(IndexCatalog.cacheBase(sfDir),
      InvertedIndex.IndexName, "_text_index.json")
    val before = Files.getLastModifiedTime(marker)
    val dataBefore = Files.getLastModifiedTime(Paths.get(layout.dataPath))
    InvertedIndex.ensure(spark, sfDir)
    Files.getLastModifiedTime(marker) shouldBe before
    Files.getLastModifiedTime(Paths.get(layout.dataPath)) shouldBe dataBefore
  }

  test("q_stream_bm25_upsert: multi-trigger streaming maintenance lands on the one-shot batch state") {
    val streamed = InvertedIndex.streamBm25Upsert(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val batch = InvertedIndex.bm25Upsert(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    streamed.toSeq shouldBe batch.toSeq
  }

  test("a redelivered micro-batch is a no-op (batchId commit marker)") {
    import org.apache.spark.sql.functions.col
    InvertedIndex.ensure(spark, sfDir)
    val cloneRoot = Paths.get(graft.Scratch.dir("bm25-redeliver"))
    Maintenance.copyTree(Paths.get(IndexCatalog.cacheBase(sfDir),
      InvertedIndex.IndexName), cloneRoot)
    val layout = InvertedIndex.Layout(
      cloneRoot.resolve("data").toString,
      cloneRoot.resolve("dict").toString,
      cloneRoot.resolve("stats").toString)
    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 3)
      .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
        col("text"))
    InvertedIndex.applyStreamBatch(layout, docs, batchId = 7L)
    val dictAfter = spark.read.parquet(layout.dictPath).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val statsAfter = spark.read.parquet(layout.statsPath).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the at-least-once redelivery: same batchId arrives again — postings,
    // dict, and stats must all be untouched (a blind re-merge would
    // double-count df and n)
    InvertedIndex.applyStreamBatch(layout, docs, batchId = 7L)
    spark.read.parquet(layout.dictPath).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq shouldBe dictAfter
    spark.read.parquet(layout.statsPath).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe statsAfter
  }

  test("q_bm25_delete (masked reads) and q_bm25_vacuum (physical rewrite) serve the identical ranking") {
    val masked = InvertedIndex.bm25Delete(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val compacted = InvertedIndex.bm25Vacuum(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    masked.toSeq shouldBe compacted.toSeq
    // the delete actually changed the ranking vs the base index (the
    // delete set intersects the query terms' postings at this corpus)
    val base = InvertedIndex.bm25Indexed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    masked.toSeq should not be base.toSeq
  }

  test("deleteDocs is idempotent and ignores ids the index never held") {
    import org.apache.spark.sql.functions.col
    InvertedIndex.ensure(spark, sfDir)
    val cloneRoot = Paths.get(graft.Scratch.dir("bm25-del-idem"))
    Maintenance.copyTree(Paths.get(IndexCatalog.cacheBase(sfDir),
      InvertedIndex.IndexName), cloneRoot)
    val layout = InvertedIndex.Layout(
      cloneRoot.resolve("data").toString,
      cloneRoot.resolve("dict").toString,
      cloneRoot.resolve("stats").toString)
    def stats() = spark.read.parquet(layout.statsPath).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ids = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 5).select(col("doc_id"))
    InvertedIndex.deleteDocs(spark, layout, ids)
    val afterFirst = stats()
    // re-delivered delete: already-tombstoned ids must not double-decrement
    InvertedIndex.deleteDocs(spark, layout, ids)
    stats() shouldBe afterFirst
    // ids outside the corpus: a strict no-op
    val ghosts = ids.select((col("doc_id") + 77000000L).as("doc_id"))
    InvertedIndex.deleteDocs(spark, layout, ghosts)
    stats() shouldBe afterFirst
  }

  test("vacuum folds tombstones into a state internally consistent with a from-scratch build") {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
    InvertedIndex.ensure(spark, sfDir)
    val cloneRoot = Paths.get(graft.Scratch.dir("bm25-vac"))
    Maintenance.copyTree(Paths.get(IndexCatalog.cacheBase(sfDir),
      InvertedIndex.IndexName), cloneRoot)
    val layout = InvertedIndex.Layout(
      cloneRoot.resolve("data").toString,
      cloneRoot.resolve("dict").toString,
      cloneRoot.resolve("stats").toString)
    val ids = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 11 === 3).select(col("doc_id"))
    InvertedIndex.deleteDocs(spark, layout, ids)
    InvertedIndex.vacuum(spark, layout)
    // tombstones cleared; dead postings physically gone
    Files.exists(cloneRoot.resolve("deletes")) shouldBe false
    val post = spark.read.parquet(layout.dataPath)
    post.join(ids, Seq("doc_id"), "left_semi").count() shouldBe 0L
    // dict == df recomputed from the surviving postings, bit-for-bit
    val fromData = post.groupBy(col("w")).agg(count(lit(1)).as("df")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    spark.read.parquet(layout.dictPath).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq shouldBe fromData
    // stats n == surviving doc count (lens and postings agree with it)
    val n = spark.read.parquet(layout.statsPath).head().getLong(0)
    post.agg(countDistinct(col("doc_id"))).head().getLong(0) shouldBe n
    spark.read.parquet(
      cloneRoot.resolve("lens").toString).count() shouldBe n
    // a post-vacuum delete of an already-deleted id is a no-op (lens pruned)
    val statsBefore = spark.read.parquet(layout.statsPath).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    InvertedIndex.deleteDocs(spark, layout, ids)
    spark.read.parquet(layout.statsPath).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe statsBefore
  }

  test("lens sidecar is dbucket-partitioned: delete discovery partition-prunes; vacuum leaves untouched shards byte-stable") {
    import org.apache.spark.sql.functions.col
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "bm25-lens-prune")
    val lensRoot = Paths.get(layout.dataPath).getParent.resolve("lens")
    // the exact frame deleteDocs joins reads ONLY the batch's dbucket
    // shards — dbucket PartitionFilters in the executed plan (the
    // KeymapSpec kbucket discipline applied to the lexical delete path)
    val ids = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 11 === 3).select(col("doc_id"))
    val dbuckets = ids
      .select(InvertedIndex.dbucketCol(col("doc_id")).as("b")).distinct()
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    dbuckets.size should be < InvertedIndex.DocBuckets // a pruned set, or the gate is vacuous
    val pruned = InvertedIndex.lensFor(spark, layout, dbuckets)
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(pruned.queryExecution.executedPlan.toString)
      .map(_.group(1)).toSeq
    pf.exists(f => f.contains("dbucket") && f.trim.nonEmpty) shouldBe true
    // write side: a full delete+vacuum lifecycle rewrites only the dead
    // docs' dbucket shards — every other lens shard keeps its files
    def shardFiles(): Map[String, Seq[String]] = {
      import scala.jdk.CollectionConverters._
      val dirs = Files.list(lensRoot)
      try dirs.iterator().asScala.filter(Files.isDirectory(_)).map { d =>
        val fs = Files.list(d)
        try d.getFileName.toString -> fs.iterator().asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
        finally fs.close()
      }.toMap
      finally dirs.close()
    }
    val before = shardFiles()
    InvertedIndex.deleteDocs(spark, layout, ids)
    InvertedIndex.vacuum(spark, layout)
    val after = shardFiles()
    val untouched = before.keySet.filterNot(s =>
      dbuckets.contains(s.stripPrefix("dbucket=").toLong))
    untouched should not be empty
    untouched.foreach { s => after(s) shouldBe before(s) }
  }

  test("delete of an upserted doc decrements exactly (lens follows the corpus)") {
    import org.apache.spark.sql.functions.col
    InvertedIndex.ensure(spark, sfDir)
    val cloneRoot = Paths.get(graft.Scratch.dir("bm25-ups-del"))
    Maintenance.copyTree(Paths.get(IndexCatalog.cacheBase(sfDir),
      InvertedIndex.IndexName), cloneRoot)
    val layout = InvertedIndex.Layout(
      cloneRoot.resolve("data").toString,
      cloneRoot.resolve("dict").toString,
      cloneRoot.resolve("stats").toString)
    val base = spark.read.parquet(layout.statsPath).head()
    val newDocs = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 4)
      .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
        col("text"))
    InvertedIndex.upsertDocs(spark, layout, newDocs)
    InvertedIndex.deleteDocs(spark, layout,
      newDocs.filter(col("doc_id") === InvertedIndex.UpsertIdOffset)
        .select(col("doc_id")))
    val after = spark.read.parquet(layout.statsPath).head()
    // n grew by 4 then shrank by 1; total_dl shrank by exactly doc 0's length
    after.getLong(0) shouldBe base.getLong(0) + 3
    val dl0 = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 0)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.trim(col("text")), "\\s+")))
      .head().getInt(0)
    after.getLong(1) shouldBe base.getLong(1) +
      newDocs.select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.trim(col("text")), "\\s+")).as("dl"))
        .agg(org.apache.spark.sql.functions.sum(col("dl"))).head().getLong(0) - dl0
  }

  test("q_stream_bm25_cdc: streamed changelog equals the same ops applied as one-shot batch calls") {
    import org.apache.spark.sql.functions.col
    val streamed = InvertedIndex.streamBm25Cdc(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // replay the identical transitions through the BATCH API on a fresh
    // clone: add all ten twins, delete both residue sets plus the first
    // twin, vacuum, serve
    InvertedIndex.ensure(spark, sfDir)
    val cloneRoot = Paths.get(graft.Scratch.dir("bm25-cdc-batch"))
    Maintenance.copyTree(Paths.get(IndexCatalog.cacheBase(sfDir),
      InvertedIndex.IndexName), cloneRoot)
    val layout = InvertedIndex.Layout(
      cloneRoot.resolve("data").toString,
      cloneRoot.resolve("dict").toString,
      cloneRoot.resolve("stats").toString)
    val docs = graft.Tables.documents(spark, sfDir)
    InvertedIndex.upsertDocs(spark, layout,
      docs.filter(col("doc_id") < InvertedIndex.CdcAddCount)
        .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
          col("text")))
    InvertedIndex.deleteDocs(spark, layout,
      docs.filter(col("doc_id") % InvertedIndex.CdcDelMod1 === InvertedIndex.CdcDelRes1 ||
          col("doc_id") % InvertedIndex.CdcDelMod2 === InvertedIndex.CdcDelRes2)
        .select(col("doc_id"))
        .unionByName(docs.filter(col("doc_id") === 0)
          .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"))))
    InvertedIndex.vacuum(spark, layout)
    val batch = InvertedIndex.bm25Over(spark, layout).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    streamed.toSeq shouldBe batch.toSeq
  }

  test("dict maintenance is touched-bucket-only: upsert and vacuum rewrite ONLY the batch terms' tbuckets") {
    import org.apache.spark.sql.functions.{col, explode, lit, split, trim}
    import spark.implicits._
    InvertedIndex.ensure(spark, sfDir)
    val cloneRoot = Paths.get(graft.Scratch.dir("bm25-dict-io"))
    Maintenance.copyTree(Paths.get(IndexCatalog.cacheBase(sfDir),
      InvertedIndex.IndexName), cloneRoot)
    val layout = InvertedIndex.Layout(
      cloneRoot.resolve("data").toString,
      cloneRoot.resolve("dict").toString,
      cloneRoot.resolve("stats").toString)
    // per-bucket file inventory (names + sizes): dynamic overwrite gives
    // touched partitions fresh part files; untouched ones must be
    // byte-stable, not merely row-equal
    def dictFiles(): Map[String, Set[(String, Long)]] = {
      val s = Files.list(Paths.get(layout.dictPath))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => p.getFileName.toString.startsWith("tbucket="))
          .map { d =>
            val fs = Files.list(d)
            try d.getFileName.toString -> fs.iterator().asScala
              .filter(_.toString.endsWith(".parquet"))
              .map(f => (f.getFileName.toString, Files.size(f))).toSet
            finally fs.close()
          }.toMap
      } finally s.close()
    }
    val before = dictFiles()
    before.size should be > 1 // the claim below needs multiple buckets
    // a three-word batch touches at most three term buckets
    val batch = Seq((InvertedIndex.UpsertIdOffset, "zetor quovax mibble"))
      .toDF("doc_id", "text")
    val touched = batch
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .select(InvertedIndex.bucketCol(col("w")).as("b"))
      .distinct().as[Long].collect().map(b => s"tbucket=$b").toSet
    touched.size should be <= 3
    InvertedIndex.upsertDocs(spark, layout, batch)
    val afterUpsert = dictFiles()
    (before.keySet ++ afterUpsert.keySet).foreach { b =>
      withClue(s"$b after upsert (touched=$touched):") {
        if (touched(b)) afterUpsert(b) should not be before.getOrElse(b, Set.empty)
        else afterUpsert.getOrElse(b, Set.empty) shouldBe before.getOrElse(b, Set.empty)
      }
    }
    // the delete→vacuum cycle's dict decrement is equally bounded
    InvertedIndex.deleteDocs(spark, layout,
      spark.range(1).select(lit(InvertedIndex.UpsertIdOffset).as("doc_id")))
    InvertedIndex.vacuum(spark, layout)
    val afterVacuum = dictFiles()
    (afterUpsert.keySet ++ afterVacuum.keySet).foreach { b =>
      // a touched bucket whose every term died loses its DIRECTORY (the
      // emptied-partition removal) — "absent" counts as rewritten
      withClue(s"$b after vacuum (touched=$touched):") {
        if (touched(b)) afterVacuum.getOrElse(b, Set.empty) should not be afterUpsert(b)
        else afterVacuum.getOrElse(b, Set.empty) shouldBe afterUpsert.getOrElse(b, Set.empty)
      }
    }
    // and the fold is exact: the synthetic terms are gone from the dict
    spark.read.parquet(layout.dictPath)
      .filter(col("w").isin("zetor", "quovax", "mibble")).count() shouldBe 0L
  }

  test("footprint sidecar tracks the doc→tbucket map exactly through build, upsert, delete+vacuum, and backfill") {
    import org.apache.spark.sql.functions.col
    InvertedIndex.ensure(spark, sfDir)
    val cloneRoot = Paths.get(graft.Scratch.dir("bm25-footprint"))
    Maintenance.copyTree(Paths.get(IndexCatalog.cacheBase(sfDir),
      InvertedIndex.IndexName), cloneRoot)
    val layout = InvertedIndex.Layout(
      cloneRoot.resolve("data").toString,
      cloneRoot.resolve("dict").toString,
      cloneRoot.resolve("stats").toString)
    def footSet() = spark.read.parquet(cloneRoot.resolve("footprint").toString)
      .select(col("doc_id"), col("tbucket").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def postSet() = spark.read.parquet(layout.dataPath)
      .select(col("doc_id"), col("tbucket").cast("long")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    footSet() shouldBe postSet() // written at build
    val docs = graft.Tables.documents(spark, sfDir)
    InvertedIndex.upsertDocs(spark, layout,
      docs.filter(col("doc_id") < 3)
        .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
          col("text")))
    footSet() shouldBe postSet() // appended by upsert
    InvertedIndex.deleteDocs(spark, layout,
      docs.filter(col("doc_id") % 13 === 2).select(col("doc_id")))
    InvertedIndex.vacuum(spark, layout)
    footSet() shouldBe postSet() // folded by vacuum
    // a pre-sidecar index (footprint dir absent) backfills once and the
    // vacuum still lands on the exact reduced state
    Maintenance.deleteRecursively(cloneRoot.resolve("footprint"))
    InvertedIndex.deleteDocs(spark, layout,
      docs.filter(col("doc_id") % 13 === 5).select(col("doc_id")))
    InvertedIndex.vacuum(spark, layout)
    footSet() shouldBe postSet()
    spark.read.parquet(layout.dataPath)
      .filter(col("doc_id") % 13 === 5 && col("doc_id") < 1000000L)
      .count() shouldBe 0L
    // every backfilled store re-derives exactly the rows the build wrote;
    // impacts, which the build leaves lazy, equals the postings' per-term
    // extremes
    import org.apache.spark.sql.functions.{max, min}
    import InvertedIndex.{DictDel, DictLex, DictRev, Footprint, Impacts, Lens}
    val fresh = InvertedIndex.cloneIndex(spark, sfDir, "bm25-backfill")
    val freshRoot = Paths.get(fresh.dataPath).getParent
    def stored(s: Store) =
      spark.read.parquet(freshRoot.resolve(s.dir).toString)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def impactCols(df: org.apache.spark.sql.DataFrame) =
      df.select(col("w"), col("tf_max"), col("dl_min"))
    val impactRows = sorted(impactCols(spark.read.parquet(fresh.dataPath)
      .groupBy(col("w")).agg(max(col("tf")).as("tf_max"),
        min(col("dl")).as("dl_min"))))
    Seq(Lens, Footprint, Impacts, DictLex, DictRev, DictDel).foreach { s =>
      val built = if (s == Impacts) impactRows else sorted(stored(s))
      Maintenance.deleteRecursively(freshRoot.resolve(s.dir))
      InvertedIndex.backfill(spark, fresh, s)
      val back = if (s == Impacts) impactCols(stored(s)) else stored(s)
      withClue(s"${s.dir}: ") { sorted(back) shouldBe built }
    }
  }

  test("driver-side bucketOf bit-matches the in-plan bucketCol for every distinct corpus term") {
    import org.apache.spark.sql.functions.{col, explode, split, trim}
    // a divergence would make the pruned serve scan silently miss a
    // term's bucket — gate it over the FULL vocabulary, not samples
    val terms = graft.Tables.documents(spark, sfDir)
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .distinct()
      .select(col("w"), InvertedIndex.bucketCol(col("w")).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    terms.length should be > 20 // the synthetic corpus draws from a ~31-word pool
    terms.foreach { case (w, b) =>
      withClue(s"term '$w': ") { InvertedIndex.bucketOf(w) shouldBe b }
    }
    // widen past the corpus vocabulary: 500 seeded random strings
    // (mixed lengths, unicode included) through both kernels
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val synth = (1 to 500).map { _ =>
      val len = 1 + rnd.nextInt(24)
      new String((1 to len).map(_ => (rnd.nextInt(0x2FF) + 1).toChar).toArray)
    }
    val viaPlan = synth.toDF("w")
      .select(col("w"), InvertedIndex.bucketCol(col("w")).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    viaPlan.foreach { case (w, b) =>
      withClue(s"synthetic term: ") { InvertedIndex.bucketOf(w) shouldBe b }
    }
  }

  test("an index persisted under an older layout generation self-heals on ensure()") {
    val layout = InvertedIndex.ensure(spark, sfDir)
    val marker = Paths.get(IndexCatalog.cacheBase(sfDir),
      InvertedIndex.IndexName, "_text_index.json")
    // simulate a round-12 marker: no tok field, no dictv
    Files.writeString(marker,
      s"""{"name": "${InvertedIndex.IndexName}", "kind": "inverted", "buckets": ${InvertedIndex.TermBuckets}}""")
    InvertedIndex.ensure(spark, sfDir)
    val healed = Files.readString(marker)
    healed should include(""""dictv": 7""")
    healed should include(""""tok": "word"""")
    // the rebuilt dict, lens, lex, deletion-neighborhood, and
    // reversed-term stores are the partitioned layouts
    spark.read.parquet(layout.dictPath).columns should contain("tbucket")
    spark.read.parquet(Paths.get(layout.dataPath).getParent
      .resolve("lens").toString).columns should contain("dbucket")
    spark.read.parquet(Paths.get(layout.dataPath).getParent
      .resolve("dictlex").toString).columns should contain("p2")
    spark.read.parquet(Paths.get(layout.dataPath).getParent
      .resolve("dictdel").toString).columns should contain("vbucket")
    spark.read.parquet(Paths.get(layout.dataPath).getParent
      .resolve("dictrev").toString).columns should contain("r2")
  }

  test("q_bm25_upsert touches only the new docs' bucket dirs and leaves the shared cache alone") {
    val layout = InvertedIndex.ensure(spark, sfDir)
    val dataBefore = Files.getLastModifiedTime(Paths.get(layout.dataPath))
    val rows = InvertedIndex.bm25Upsert(spark, sfDir).collect()
    rows should have length 10
    // lifecycle queries clone into Scratch — the shared cache is untouched
    Files.getLastModifiedTime(Paths.get(layout.dataPath)) shouldBe dataBefore
    // incremental result == full-rebuild semantics: the upserted corpus
    // contains twin docs of 0..9, so at least the term stats shifted —
    // scores must differ from the base index's for at least one rank
    val base = InvertedIndex.bm25Indexed(spark, sfDir).collect()
    rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq should not be
      base.map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("q_bm25_compact: EVERY fragmented append-only store folds to one file per shard; serving unchanged") {
    import org.apache.spark.sql.functions.col
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "bm25-compact-spec")
    val root = Paths.get(layout.dataPath).getParent
    val twins = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < InvertedIndex.UpsertSrcCount)
      .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
        col("text"))
    val half = InvertedIndex.UpsertIdOffset + InvertedIndex.UpsertSrcCount / 2
    InvertedIndex.upsertDocs(spark, layout, twins.filter(col("doc_id") < half))
    InvertedIndex.upsertDocs(spark, layout, twins.filter(col("doc_id") >= half))
    def fileCounts(root: String): Seq[Int] = {
      val p = Paths.get(root)
      import scala.jdk.CollectionConverters._
      val dirs = Files.list(p)
      try dirs.iterator().asScala.filter(Files.isDirectory(_)).map { d =>
        val fs = Files.list(d)
        try fs.iterator().asScala.count(_.toString.endsWith(".parquet"))
        finally fs.close()
      }.toSeq
      finally dirs.close()
    }
    // every appender the upsert path touches — postings, positions,
    // lens, footprint — is fragmented after two appended batches
    val stores = Seq(
      layout.dataPath,
      root.resolve("positions").toString,
      root.resolve("lens").toString,
      root.resolve("footprint").toString)
    stores.foreach { s =>
      withClue(s"$s before: ") { fileCounts(s).max should be > 1 }
    }
    val counts = stores.map(s => spark.read.parquet(s).count())
    // byte-stability evidence: an already-compact shard (one file) is
    // never rewritten — its file mtime survives the fold
    def singleFileShards(s: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val dirs = Files.list(Paths.get(s))
      try dirs.iterator().asScala.filter(Files.isDirectory(_)).flatMap { d =>
        val fs = Files.list(d)
        val pq = try fs.iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq finally fs.close()
        if (pq.length == 1)
          Some(pq.head.toString -> Files.getLastModifiedTime(pq.head).toMillis)
        else None
      }.toMap
      finally dirs.close()
    }
    val compactBefore = stores.map(singleFileShards)
    InvertedIndex.compactStores(spark, layout)
    stores.foreach { s =>
      withClue(s"$s after: ") { fileCounts(s).max shouldBe 1 }
    }
    stores.zip(counts).foreach { case (s, n) =>
      spark.read.parquet(s).count() shouldBe n
    }
    stores.zip(compactBefore).foreach { case (s, shards) =>
      shards.foreach { case (f, mtime) =>
        withClue(s"untouched shard rewritten: $f ") {
          Files.getLastModifiedTime(Paths.get(f)).toMillis shouldBe mtime
        }
      }
    }
    // the declared query lands on q_bm25_upsert's exact ranking
    val compacted = InvertedIndex.bm25Compact(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val upserted = InvertedIndex.bm25Upsert(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    compacted shouldBe upserted
  }
}
