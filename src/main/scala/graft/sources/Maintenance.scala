package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, max, xxhash64}

/** Table maintenance — the small-file problem. A long-running ingest
  * (streaming micro-batches, repeated upserts) accretes many small part
  * files per partition directory; at 100 TB the file-listing and
  * per-file open costs eventually dominate scans. Compaction rewrites
  * each oversized partition directory to one file, leaving compact
  * partitions untouched — the same touched-partitions-only discipline as
  * [[IndexCatalog.upsertInto]], so maintenance I/O is proportional to the
  * fragmentation, not the table.
  */
object Maintenance {

  /** Partition directories (relative partition spec path → file count),
    * one level per partition column. */
  private def partitionDirs(root: Path, depth: Int): Seq[Path] = {
    def walk(p: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(p)
      else {
        val s = Files.list(p)
        try {
          val subdirs = s.iterator()
          val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
          while (subdirs.hasNext) {
            val c = subdirs.next()
            if (Files.isDirectory(c) && c.getFileName.toString.contains("="))
              buf ++= walk(c, d - 1)
          }
          buf.toSeq
        } finally s.close()
      }
    walk(root, depth)
  }

  private def parquetFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) buf += f
      }
      buf.toSeq
    } finally s.close()
  }

  /** Compact every partition directory holding more than `maxFiles` part
    * files down to one file. Returns the number of partitions rewritten.
    *
    * Crash-safe via a per-partition MANIFEST (the poor man's commit log a
    * bare Parquet directory allows): the compacted file lands in a hidden
    * `.compact-tmp` subdirectory (invisible to Spark scans) while the
    * originals are intact; then a manifest naming the compacted file(s)
    * and the originals-to-delete is atomically moved into place; only
    * then do the moves and deletes run, and the manifest is removed LAST.
    * Every run replays unfinished manifests first, so a crash at any
    * point either rolls forward (manifest present → finish the moves and
    * the listed deletes — and ONLY the listed deletes, so rows appended
    * after the crash are never touched) or rolls back (no manifest → a
    * stale tmp dir is discarded and the partition is untouched). Without
    * the manifest, a crash between landing the compacted copy and
    * deleting the originals would leave duplicate rows that NO later
    * compaction could remove — compaction merges files, it never dedups
    * rows. Compact partitions are never touched (asserted by mtime in the
    * spec). Real deployments run this under a table-format transaction;
    * the manifest reproduces the ordering such formats guarantee. */
  def compactPartitions(spark: SparkSession, tableDir: String,
                        partitionCols: Seq[String], maxFiles: Int = 1): Int = {
    val root = Paths.get(tableDir)
    require(Files.exists(root), s"no such table dir: $tableDir")
    // roll forward any compaction a previous crash left half-done BEFORE
    // deciding what is fragmented (a replayed partition may no longer be)
    partitionDirs(root, partitionCols.length).foreach(recoverPartition)
    val fragmented = partitionDirs(root, partitionCols.length)
      .map(d => d -> parquetFiles(d))
      .filter(_._2.length > maxFiles)
    if (fragmented.isEmpty) return 0
    // ONE Spark job rewrites every fragmented partition (the pre-r18 form
    // paid one read+coalesce(1)+write JOB per fragmented directory — with
    // ~30 buckets per store the per-job scheduling round-trips dominated
    // the compaction, measured in OPTIMIZATION_r18.md): scan exactly the
    // fragmented directories (basePath keeps the partition columns),
    // hash-repartition by the partition columns so each partition's rows
    // land in one task → one file per partition directory, and write the
    // whole compacted set into ONE hidden staging tree. The originals are
    // untouched while the staging write runs, so the per-partition
    // manifest protocol below is unchanged: each partition's compacted
    // file is moved into its own `.compact-tmp`, the manifest commits it,
    // and a crash at ANY point still rolls that partition forward or back
    // independently (a stale staging tree with no manifest is discarded
    // like any uncommitted `.compact-tmp`).
    val staging = root.resolve(".compact-staging")
    deleteRecursively(staging) // uncommitted work from a killed run
    spark.read.option("basePath", root.toString)
      .parquet(fragmented.map(_._1.toString): _*)
      .repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(staging.toString)
    fragmented.foreach { case (dir, files) =>
      val tmp = dir.resolve(".compact-tmp")
      deleteRecursively(tmp) // a stale no-manifest tmp is uncommitted work
      Files.createDirectories(tmp)
      val stagedDir = staging.resolve(root.relativize(dir))
      // a partition whose files held zero rows stages no output — the
      // manifest then lists only originals and the dir compacts to empty
      val compacted =
        if (Files.exists(stagedDir)) parquetFiles(stagedDir) else Seq.empty
      compacted.foreach { f =>
        Files.move(f, tmp.resolve(f.getFileName))
        val crc = f.resolveSibling("." + f.getFileName.toString + ".crc")
        if (Files.exists(crc)) Files.move(crc, tmp.resolve(crc.getFileName))
      }
      writeManifest(dir, compacted.map(_.getFileName.toString),
        files.map(_.getFileName.toString))
      finishCompaction(dir)
    }
    deleteRecursively(staging)
    fragmented.size
  }

  private val ManifestName = ".compact-manifest"

  /** Atomically publish the commit point: tmp-write then ATOMIC_MOVE. */
  private def writeManifest(dir: Path, compacted: Seq[String],
                            originals: Seq[String]): Unit = {
    val body = (compacted.map("C " + _) ++ originals.map("O " + _))
      .mkString("", "\n", "\n")
    val tmp = dir.resolve(ManifestName + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, dir.resolve(ManifestName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Execute (or re-execute — every step is idempotent) the moves and
    * deletes a manifest records, removing the manifest last. */
  private def finishCompaction(dir: Path): Unit = {
    val manifest = dir.resolve(ManifestName)
    val tmp = dir.resolve(".compact-tmp")
    val lines = Files.readString(manifest).split("\n").filter(_.nonEmpty)
    lines.filter(_.startsWith("C ")).map(_.drop(2)).foreach { name =>
      val from = tmp.resolve(name)
      if (Files.exists(from)) {
        Files.move(from, dir.resolve(name))
        val crc = from.resolveSibling("." + name + ".crc")
        if (Files.exists(crc)) Files.move(crc, dir.resolve(crc.getFileName))
      }
      require(Files.exists(dir.resolve(name)),
        s"compaction manifest names a missing compacted file: $name in $dir")
    }
    lines.filter(_.startsWith("O ")).map(_.drop(2)).foreach { name =>
      Files.deleteIfExists(dir.resolve(name))
      Files.deleteIfExists(dir.resolve("." + name + ".crc"))
    }
    Files.delete(manifest)
    deleteRecursively(tmp)
  }

  /** Crash recovery: a manifest means the compacted file was fully
    * written and committed — roll the partition forward. No manifest
    * means nothing was committed — a leftover tmp dir is discarded by the
    * next compaction attempt and the originals stand. */
  private def recoverPartition(dir: Path): Unit =
    if (Files.exists(dir.resolve(ManifestName))) finishCompaction(dir)

  /** Recursive file-tree copy (REPLACE_EXISTING, so a retry after a
    * partial copy overwrites instead of throwing) — the index-clone
    * primitive the lifecycle queries use to work on a private copy of a
    * shared cached index. */
  private[graft] def copyTree(from: Path, to: Path): Unit = {
    import java.nio.file.StandardCopyOption
    scala.util.Using.resource(Files.walk(from)) { s =>
      s.forEach { p =>
        val dest = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(dest)
        else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** Depth-first recursive delete with the walk stream closed (shared by
    * every loser-cleanup / staging-discard site in graft). deleteIfExists
    * tolerates a concurrent cleaner racing on the same loser directory. */
  private[graft] def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    val all = try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) buf += it.next()
      buf.toSeq
    } finally s.close()
    all.reverse.foreach(Files.deleteIfExists(_))
  }

  // ---- the store commit protocol -------------------------------------
  // Every persisted store in graft is written through one of the two
  // forms below: a SHARD REWRITE (dynamic partition overwrite of the
  // touched shards of a partitioned store) or a STAGED PUBLISH (the
  // whole store written beside its path, then moved into place). A
  // shard rewrite writes at the store path itself, so Spark refreshes
  // the cached plans over the store; a publish writes at the staging
  // path, so its swap refreshes them explicitly.

  /** A shard rewrite's compute half, ready to commit: `out` is the merged
    * rows, hash-partitioned on `partitionCols` (one file per shard) and
    * lineage-cut; `written` holds the partition values `out` covers,
    * collected only when a `touched` set was given. */
  private[graft] final case class StagedShards(out: DataFrame,
                                               partitionCols: Seq[String],
                                               touched: Seq[Seq[Any]],
                                               written: Set[Seq[Any]])

  /** The compute half of [[rewriteShards]]: materialize the rewrite
    * output — a dynamic overwrite must never consume lineage over the
    * files it is replacing — and collect the partition values it writes.
    * No file of the store is touched, so a caller can overlap this half
    * with other work that must land before the commit.
    *
    * `touched` lists the shards (one value per partition column) the
    * rewrite replaces. Pass it only when the merge can EMPTY a shard (a
    * delete or a vacuum): the commit then removes each touched shard the
    * output no longer covers. A merge that can never empty a shard
    * passes none and skips the `written` collect job. */
  private[graft] def stageShards(partitionCols: Seq[String], merged: DataFrame,
                                 touched: Iterable[Seq[Any]] = Nil): StagedShards = {
    val out = merged.repartition(partitionCols.map(col): _*)
      .localCheckpoint(eager = true)
    val written =
      if (touched.isEmpty) Set.empty[Seq[Any]]
      else out.select(partitionCols.map(col): _*).distinct()
        .collect().map(_.toSeq).toSet
    StagedShards(out, partitionCols, touched.toSeq, written)
  }

  /** The write half of [[rewriteShards]]: dynamic partition overwrite of
    * `target` with `staged.out`, then removal of every touched shard the
    * output does not cover — dynamic overwrite only replaces partitions
    * PRESENT in the output, so a shard whose every row was removed would
    * otherwise keep its stale directory. Directory names use Spark's own
    * Hive escaping (a string label 'a:b' lives in 'label=a%3Ab'; null in
    * the default-partition dir), so the cleanup finds exactly the
    * directories the writer created. */
  private[graft] def commitShards(target: String, staged: StagedShards): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    staged.out.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(staged.partitionCols: _*)
      .parquet(target)
    staged.touched.filterNot(staged.written.contains).foreach { values =>
      val dir = staged.partitionCols.zip(values)
        .map { case (c, v) =>
          if (v == null) s"$c=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
          else ExternalCatalogUtils.getPartitionPathString(c, String.valueOf(v))
        }
        .foldLeft(Paths.get(target))(_ resolve _)
      deleteRecursively(dir)
    }
  }

  /** Rewrite the touched shards of the partitioned store at `target` with
    * `merged` — [[stageShards]] then [[commitShards]]; I/O ∝ the touched
    * shards, never the store. */
  private[graft] def rewriteShards(target: String, partitionCols: Seq[String],
                                   merged: DataFrame,
                                   touched: Iterable[Seq[Any]] = Nil): Unit =
    commitShards(target, stageShards(partitionCols, merged, touched))

  /** The one staging location of the store at `path`. */
  private def stagingOf(path: String): Path = Paths.get(path + ".staged")

  /** IF-ABSENT publish: when nothing is published at `path`, `write` the
    * store into its staging location and move it into place. A killed
    * publish leaves only staging, which the next attempt discards, so a
    * reader never sees a partial store. Two concurrent first callers
    * never interleave writes into the final path: the loser's move finds
    * the store published and stands down, discarding its own staging. */
  private[graft] def publishIfAbsent(path: String)(write: String => Unit): Unit = {
    val dest = Paths.get(path)
    if (Files.exists(dest)) return
    val staged = stagingOf(path)
    deleteRecursively(staged)
    write(staged.toString)
    try Files.move(staged, dest)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException => deleteRecursively(staged)
    }
  }

  /** REPLACE publish: [[stageReplace]] then [[swapStaged]]. The writer
    * never reads the path it is replacing. */
  private[graft] def publishReplace(spark: SparkSession, path: String)
                                   (write: String => Unit): Unit = {
    stageReplace(path)(write)
    swapStaged(spark, path)
  }

  /** The write half of a replace publish: `write` the new store into the
    * staging location of `path`; the published store is untouched. */
  private[graft] def stageReplace(path: String)(write: String => Unit): Unit = {
    val staged = stagingOf(path)
    deleteRecursively(staged)
    write(staged.toString)
  }

  /** The swap half of a replace publish: delete the published store, then
    * move the staged one into place. NOT atomic — between the delete and
    * the move there is no store at `path`, and a reader listing it then
    * fails (the torn-read window [[ServingCache.isTornRead]] classifies);
    * a crash in that window leaves only the staged copy. Spark refreshes
    * cached plans over a path only when Spark itself writes there, and
    * this write went to staging, so the swap refreshes them: a frame
    * persisted over the old store would otherwise keep serving its rows
    * to every later read of `path` in the session, maintenance reads
    * included. */
  private[graft] def swapStaged(spark: SparkSession, path: String): Unit = {
    deleteRecursively(Paths.get(path))
    Files.move(stagingOf(path), Paths.get(path))
    spark.catalog.refreshByPath(path)
  }

  /** IVF index REBUILD — the actuator that closes the q_ivf_drift
    * monitor's loop (the monitor flags overloaded buckets; until now
    * nothing acted on them, so a drifted index kept degrading probe
    * recall). Re-assigns EVERY stored vector to the caller-provided new
    * centroids (the shared [[graft.operators.IvfIndex.assign]] broadcast
    * argmax — map-side, no window), rewrites the data tree under the
    * index's own derived partition layout, refreshes the centroid
    * sidecar, and invalidates [[graft.plans.AnnRouting]]'s driver-side
    * caches so a live route plans its next query against the NEW layout
    * (a stale cached codebook would probe buckets that no longer exist —
    * exactly the hazard the r9 verdict flagged at AnnRouting.scala:87).
    *
    * Scale shape: a rebuild is inherently O(index) — one broadcast-argmax
    * assignment pass + one shuffle on the partition columns + a full
    * rewrite; that is the cost the q_ivf_drift monitor exists to GATE
    * (run it when balance degrades, not on a schedule). The rewrite goes
    * through a staging directory and a directory swap, never a
    * read-and-overwrite of the live tree (Spark refuses self-overwrite;
    * a localCheckpoint would materialize the whole index in executor
    * memory — fine at test SF, not at 100 TB). Crash honesty: the swap
    * (retire `data`, promote staging) is two renames and is NOT atomic —
    * a crash between them leaves `data-old` holding the intact previous
    * tree for manual rollback; a real deployment runs the swap under a
    * table-format transaction, which is exactly what the compaction
    * manifest above simulates for the in-place case. */
  def rebuildIvf(spark: SparkSession, basePath: String, name: String,
                 newCentroids: DataFrame): Unit = {
    import graft.operators.{IvfIndex, KnnSearch}
    require(IndexCatalog.exists(basePath, name), s"no such index: $name")
    val layout = IndexCatalog.partitionLayout(basePath, name)
    require(layout.contains("bucket"),
      s"rebuildIvf targets bucket-partitioned indexes; $name has layout " +
        layout.mkString("/"))
    // writer-leased like every other maintenance entry point: a rebuild
    // racing an upsert/vacuum would interleave the staging swap with a
    // dynamic overwrite (the one maintainer this index tree ever admits)
    WriterLease.withLease(Paths.get(basePath, name)) {
      rebuildIvfLeased(spark, basePath, name, newCentroids, layout)
    }
  }

  private def rebuildIvfLeased(spark: SparkSession, basePath: String,
                               name: String, newCentroids: DataFrame,
                               layout: Seq[String]): Unit = {
    import graft.operators.{IvfIndex, KnnSearch}
    val idx = IndexCatalog.load(spark, basePath, name)
    val cent = KnnSearch.withNorm(
      newCentroids.select(col("cent_id"), col("c_embedding")), "c_embedding")
      .withColumnRenamed("vec_norm", "c_norm")
    // re-bucket: drop the stale bucket, argmax-assign against the new
    // centroids; every other stored column (vec_norm included — norms are
    // invariant under re-bucketing) rides the assign payload
    val reassigned = IvfIndex.assign(idx.drop("bucket"), cent)
      .withColumnRenamed("cent_id", "bucket")
      .select(idx.columns.toIndexedSeq.map(col): _*)
    val dataDir = Paths.get(basePath, name, "data")
    val staging = Paths.get(basePath, name, "data-rebuild")
    val retired = Paths.get(basePath, name, "data-old")
    deleteRecursively(staging)
    reassigned
      .repartition(layout.map(col): _*) // one file per partition directory
      .write.mode("overwrite").partitionBy(layout: _*).parquet(staging.toString)
    deleteRecursively(retired)
    // every row is about to be re-bucketed: a keymap built against the
    // old layout would describe pre-rebuild bucket assignments. Drop it
    // BEFORE promoting staging to data — a kill between the swap and a
    // post-swap keymap rewrite would otherwise leave the OLD keymap
    // intact and later discovery would silently miss the moved rows'
    // real partitions (stale duplicates survive, vacuum resurrects
    // hidden rows). With the drop first, a crash anywhere in the window
    // leaves NO keymap, and ensureKeymap backfills from the swapped-in
    // tree on the next maintenance call — the same self-healing path
    // the backfill discipline already provides.
    val kmKey = IndexCatalog.keymapKey(basePath, name)
    IndexCatalog.dropKeymap(basePath, name)
    Files.move(dataDir, retired)
    Files.move(staging, dataDir)
    deleteRecursively(retired)
    // if the index was maintained before, rebuild the keymap from the
    // swapped-in tree now (one column-pruned scan, amortized into the
    // full rewrite this op already is — saves the next maintenance
    // call's backfill); a never-maintained index stays keymap-less.
    kmKey.foreach { k =>
      IndexCatalog.writeKeymap(spark, basePath, name,
        spark.read.parquet(dataDir.toString), k)
    }
    // the sidecar must carry the ROUND-11 residual column or MIPS (dot)
    // routing silently declines on every rebuilt index: recompute the
    // per-bucket max member-to-centroid L2 distance from the tree just
    // swapped in (one column-pruned scan of the rewritten data)
    val resid = spark.read.parquet(dataDir.toString)
      .select(col("bucket").cast("long").as("cent_id"), col("embedding"))
      .join(broadcast(cent.select(col("cent_id"), col("c_embedding"))), Seq("cent_id"))
      .groupBy(col("cent_id"))
      .agg(max(graft.functions.VectorFunctions.l2Dist(
        col("embedding"), col("c_embedding"))).as("c_maxresid"))
    IndexCatalog.writeCentroids(spark, basePath, name,
      newCentroids.select(col("cent_id"), col("c_embedding"))
        .join(resid, Seq("cent_id"), "left")
        .select(col("cent_id"), col("c_embedding"),
          coalesce(col("c_maxresid"), lit(0.0)).as("c_maxresid")))
    graft.plans.AnnRouting.invalidate(basePath, name)
  }

  /** Rebuild-with-RETRAINING: Lloyd k-means on a bounded deterministic
    * sample (the [[graft.operators.PqIndex.TrainCap]] discipline —
    * training cost constant in corpus size, hash-ordered top-N sample so
    * retries train on identical points), then [[rebuildIvf]] with the
    * learned centroids. The declared q_ivf_rebuild query uses fixed
    * centroids instead (k-means means are not oracle-replayable across
    * engines); this path is the production form, gated by IvfRebuildSpec
    * (balance restored, routed search correct post-rebuild). */
  def rebuildIvfTrained(spark: SparkSession, basePath: String, name: String,
                        k: Int, iterations: Int = 3): Unit = {
    import graft.operators.{IvfIndex, PqIndex}
    val desc = IndexCatalog.describe(basePath, name).getOrElse(
      throw new IllegalArgumentException(s"no such index: $name"))
    val sample = IndexCatalog.load(spark, basePath, name)
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(PqIndex.TrainCap)
      .localCheckpoint(true)
    val cent = IvfIndex.trainCentroids(sample, k, desc.dimension, iterations)
    rebuildIvf(spark, basePath, name,
      cent.select(col("cent_id"), col("c_embedding")))
  }

  /** File-count census per partition directory — the health metric that
    * decides when compaction runs. */
  def fileCounts(tableDir: String, partitionCols: Seq[String]): Map[String, Int] = {
    val root = Paths.get(tableDir)
    partitionDirs(root, partitionCols.length)
      .map(d => root.relativize(d).toString -> parquetFiles(d).length)
      .toMap
  }
}
