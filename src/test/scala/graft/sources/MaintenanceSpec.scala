package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

class MaintenanceSpec extends SparkSpecBase with Matchers {

  test("compaction collapses fragmented partitions, leaves compact ones untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    // partition a: written in 4 slices (4 part files); partition b: 1 file
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"row$i", "a")).toDF("id", "payload", "part")
        .write.mode("append").partitionBy("part").parquet(dir)
    }
    Seq((100L, "rowb", "b")).toDF("id", "payload", "part")
      .write.mode("append").partitionBy("part").parquet(dir)

    val before = Maintenance.fileCounts(dir, Seq("part"))
    before("part=a") shouldBe 4
    before("part=b") shouldBe 1
    val contentBefore = spark.read.parquet(dir).collect().map(_.toString).sorted

    val bFile = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "part=b"))
      .iterator().next()
    val bMtime = java.nio.file.Files.getLastModifiedTime(bFile).toMillis

    Maintenance.compactPartitions(spark, dir, Seq("part")) shouldBe 1

    val after = Maintenance.fileCounts(dir, Seq("part"))
    after("part=a") shouldBe 1
    after("part=b") shouldBe 1
    // content identical, untouched partition file untouched
    spark.read.parquet(dir).collect().map(_.toString).sorted shouldBe contentBefore
    java.nio.file.Files.getLastModifiedTime(bFile).toMillis shouldBe bMtime
    // second run is a no-op
    Maintenance.compactPartitions(spark, dir, Seq("part")) shouldBe 0

    // write-then-swap leaves no temp dir and no orphaned .crc sidecars:
    // every .crc in the rewritten partition matches a live parquet file
    val aDir = java.nio.file.Paths.get(dir, "part=a")
    java.nio.file.Files.exists(aDir.resolve(".compact-tmp")) shouldBe false
    val s = java.nio.file.Files.list(aDir)
    val names = try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) buf += it.next().getFileName.toString
      buf.toSeq
    } finally s.close()
    names.filter(_.endsWith(".parquet.crc")).foreach { crc =>
      names should contain(crc.stripPrefix(".").stripSuffix(".crc"))
    }
  }

  test("a crash between manifest commit and cleanup rolls forward without duplicating rows") {
    import spark.implicits._
    import java.nio.file.{Files => F, Paths => P}
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString + "/t"
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"row$i", "a")).toDF("id", "payload", "part")
        .write.mode("append").partitionBy("part").parquet(dir)
    }
    val content = spark.read.parquet(dir).collect().map(_.toString).sorted
    val aDir = P.get(dir, "part=a")

    // simulate the crash window: compacted copy fully written to the tmp
    // dir and the manifest committed, but no move/delete ran
    val tmp = aDir.resolve(".compact-tmp")
    spark.read.parquet(aDir.toString).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val compactedName = {
      val s = F.list(tmp)
      try {
        var n: String = null
        val it = s.iterator()
        while (it.hasNext) { val f = it.next()
          if (f.getFileName.toString.endsWith(".parquet")) n = f.getFileName.toString }
        n
      } finally s.close()
    }
    val originals = {
      val s = F.list(aDir)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) { val f = it.next()
          if (f.getFileName.toString.endsWith(".parquet")) buf += f.getFileName.toString }
        buf.toSeq
      } finally s.close()
    }
    F.writeString(aDir.resolve(".compact-manifest"),
      (s"C $compactedName" +: originals.map("O " + _)).mkString("", "\n", "\n"))
    // a row appended AFTER the crash must survive recovery (it is not in
    // the manifest's delete list)
    Seq((99L, "late", "a")).toDF("id", "payload", "part")
      .write.mode("append").partitionBy("part").parquet(dir)

    // next maintenance run replays the manifest before compacting
    Maintenance.compactPartitions(spark, dir, Seq("part"))

    F.exists(aDir.resolve(".compact-manifest")) shouldBe false
    F.exists(tmp) shouldBe false
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted
    after shouldBe (content :+ Seq((99L, "late", "a")).toDF("id", "payload", "part")
      .collect().map(_.toString).head).sorted
  }

  test("shard rewrite removes emptied touched shards, keeps untouched ones byte-stable, escapes like Spark; publishes stage then move") {
    import spark.implicits._
    import java.nio.file.{Files => F, Paths => P}
    def namesIn(d: java.nio.file.Path): Seq[String] = {
      val s = F.list(d)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) buf += it.next().getFileName.toString
        buf.toSeq.sorted
      } finally s.close()
    }
    def rows(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).toSeq.sorted
    val root = F.createTempDirectory("graft-shards")
    val dir = root.resolve("t").toString
    Seq[(Long, String)]((1L, "a:b"), (2L, "c:d"), (3L, null), (4L, "keep"))
      .toDF("id", "label").write.partitionBy("label").parquet(dir)
    val keepDir = P.get(dir, "label=keep")
    val keepFiles = namesIn(keepDir)

    // rewrite three touched shards: 'a:b' gets new rows, 'c:d' and the
    // null shard are emptied — their Hive-escaped directories must go
    val touched = Seq[Seq[Any]](Seq("a:b"), Seq("c:d"), Seq(null))
    Maintenance.rewriteShards(dir, Seq("label"),
      Seq((10L, "a:b"), (11L, "a:b")).toDF("id", "label"), touched)
    namesIn(P.get(dir)).filter(_.startsWith("label=")) shouldBe
      Seq("label=a%3Ab", "label=keep")
    namesIn(keepDir) shouldBe keepFiles // untouched shard: same files
    rows(dir) shouldBe Seq("[10,a:b]", "[11,a:b]", "[4,keep]")

    // a merge that can never empty a shard passes no touched set; a
    // written null and ':' label land in Spark's own escaped directories
    Maintenance.rewriteShards(dir, Seq("label"),
      Seq[(Long, String)]((12L, null), (13L, "e:f")).toDF("id", "label"))
    namesIn(P.get(dir)).filter(_.startsWith("label=")) shouldBe Seq(
      "label=__HIVE_DEFAULT_PARTITION__", "label=a%3Ab", "label=e%3Af", "label=keep")
    namesIn(keepDir) shouldBe keepFiles
    rows(dir) shouldBe
      Seq("[10,a:b]", "[11,a:b]", "[12,null]", "[13,e:f]", "[4,keep]")

    // if-absent publish, race lost: the winner's store lands while the
    // loser is still writing its staging copy — the loser stands down,
    // discards its staging, and the winner's store stays intact
    val store = root.resolve("store").toString
    Maintenance.publishIfAbsent(store) { staged =>
      Seq(1L).toDF("id").write.parquet(staged)
      Seq(2L).toDF("id").write.parquet(store) // the winner's publish
    }
    rows(store) shouldBe Seq("[2]")
    namesIn(root).filter(_.startsWith("store")) shouldBe Seq("store")
    // already published: the write never runs
    Maintenance.publishIfAbsent(store)(_ => fail("published store rebuilt"))
    rows(store) shouldBe Seq("[2]")

    // replace publish: the new store is visible to the very next read of
    // its path, also through a frame persisted over the old store
    val pinned = spark.read.parquet(store).persist()
    pinned.count() shouldBe 1L
    Maintenance.publishReplace(spark, store)(Seq(3L, 4L).toDF("id").write.parquet(_))
    rows(store) shouldBe Seq("[3]", "[4]")
    namesIn(root).filter(_.startsWith("store")) shouldBe Seq("store")
    pinned.unpersist()
  }

  test("incremental aggregate refresh equals the flat aggregate over all history") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.EventOps.incrAgg(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val full = graft.Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(38,18)")).cast("double"), 3)
          .as("sum_value"))
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    out.toSeq shouldBe full.toSeq
    // the cutoff genuinely splits the data — both the stored MV and the
    // delta contribute rows, so the merge path is exercised, not degenerate
    val cutoff = to_timestamp(lit(graft.operators.EventOps.IncrAggCutoff))
    val ev = graft.Tables.events(spark, sfDir)
    ev.filter(col("ts") < cutoff).count() should be > 0L
    ev.filter(col("ts") >= cutoff).count() should be > 0L
  }
}
