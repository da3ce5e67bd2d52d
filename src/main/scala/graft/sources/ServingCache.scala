package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SERVING-TIER keymap cache — the in-memory id→shard map a real vector
  * serving tier keeps next to its index (Pinecone holds the same map
  * inside its routers; Lucene pins the live-docs/FST metadata on heap).
  *
  * [[IndexCatalog.fetchByIds]] is deliberately stateless: every lookup
  * re-reads the keymap parquet (directory listing + footers + a scan
  * job), which is correct for a batch engine but puts a fixed
  * metadata-job floor under point-lookup LATENCY — the round-14 serving
  * bench measured the fetch family's p50 at ~0.7–1.1 s with the keymap
  * read as the dominant term. This cache removes that term the way a
  * serving deployment would: the keymap DataFrame is persisted in
  * CLUSTER memory (MEMORY_AND_DISK — executor-resident, so a 100 TB
  * index's billions-of-entries map spreads across the fleet instead of
  * any driver heap) and reused across requests.
  *
  * STALENESS is handled by a cheap filesystem STAMP, not a TTL: keymap
  * shards rewrite through dynamic partition overwrite
  * ([[IndexCatalog.upsertInto]] phases A/C, vacuum compaction), so the
  * stamp folds every shard directory's (name, file count, max mtime) —
  * local metadata, ~64 small listings, no Spark job. A maintenance
  * write changes some shard's file list, the stamp moves, and the next
  * request atomically swaps in a fresh persisted frame (the old one is
  * unpersisted non-blocking). Within one stamp the cache serves exactly
  * what the files hold — the same snapshot semantics a stateless read
  * has.
  *
  * Scope: this is a READ-side accelerator only. Maintenance
  * (upsertInto/vacuumTombstones) keeps reading the files directly —
  * correctness there must never depend on cache coherence.
  *
  * IN-FLIGHT window: a request that obtained its frame just before a
  * dynamic-overwrite can still execute against files the rewrite
  * deleted (a persisted block evicted mid-request recomputes from
  * now-missing files and fails). This is the SAME torn-read window the
  * stateless path has — Spark snapshots a parquet read's file list at
  * plan time, not its bytes — so the cache narrows nothing and widens
  * nothing; [[IndexCatalog.fetchByIdsServing]] closes the common case
  * with one invalidate-and-retry on a failure [[isTornRead]]
  * classifies. Requests that START after the maintenance write always
  * see the new stamp. */
object ServingCache {

  private case class Entry(stamp: String, df: DataFrame)
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** Count of resident-frame builds PUBLISHED (cold loads + stamp-change
    * rebuilds) — the invalidation meter ServeBench's churn cells read: a
    * maintenance write swaps the stamp, the next request pays one
    * rebuild, and this counter prices how many the churn caused. */
  private val rebuilds = new java.util.concurrent.atomic.AtomicLong(0L)
  def rebuildCount: Long = rebuilds.get()

  /** Fold the keymap tree's shard-level file inventory into a stamp.
    * Mtime granularity on some filesystems is 1 ms — two rewrites inside
    * one tick with identical file counts could collide, so file NAMES
    * (fresh UUIDs per Spark write) are folded in too.
    *
    * Only SPARK-VISIBLE entries participate: names starting with `.` or
    * `_` (the `.spark-staging-*` trees of an in-flight dynamic
    * overwrite, `_SUCCESS` markers, the store's own `_*.json` markers)
    * are invisible to a parquet read, so they must not move the stamp —
    * and walking a staging tree RACES the overwrite's commit, which
    * moves it away mid-walk (the bm25_churn NoSuchFileException this
    * session's ServeBench rerun surfaced). An entry that still vanishes
    * mid-walk (commit racing the listing) is skipped the same way: the
    * committed files themselves carry the stamp change. */
  private[sources] def stampOf(dir: Path): String = {
    if (!Files.exists(dir)) return "absent"
    def visible(p: Path) = {
      val n = p.getFileName.toString
      !(n.startsWith(".") || n.startsWith("_"))
    }
    def mtimeOr(p: Path): Long =
      try Files.getLastModifiedTime(p).toMillis
      catch { case _: java.nio.file.NoSuchFileException |
                   _: java.io.FileNotFoundException => -1L }
    val sb = new StringBuilder
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.filter(visible)
        .sortBy(_.getFileName.toString).foreach { d =>
        if (Files.isDirectory(d)) {
          sb.append(d.getFileName).append('{')
          val fs =
            try Files.list(d)
            catch { case _: java.nio.file.NoSuchFileException |
                         _: java.io.FileNotFoundException => null }
          if (fs != null) {
            try fs.iterator().asScala.toSeq.filter(visible)
              .sortBy(_.getFileName.toString)
              .foreach { f =>
                sb.append(f.getFileName).append(':')
                  .append(mtimeOr(f)).append(',')
              }
            finally fs.close()
          }
          sb.append('}')
        } else sb.append(d.getFileName).append(':')
          .append(mtimeOr(d)).append(';')
      }
    } finally s.close()
    sb.toString
  }

  /** A memory-resident parquet store, persisted in cluster memory and
    * swapped on stamp change — GENERAL over any store directory (key =
    * the dir): the vector keymap was the first tenant; the lexical serve
    * metadata (dict/impacts/stats — the per-request listing+footer+scan
    * jobs `bm25Over` pays before touching a posting) rides the same
    * machinery. The BUILD (read + persist + count — a Spark job) runs
    * OUTSIDE the map's bin lock: holding a ConcurrentHashMap#compute
    * lock across a cluster job would serialize every concurrent caller
    * of this key behind one build. The SWAP then re-reads the stamp
    * INSIDE the compute closure (filesystem metadata only — cheap under
    * the lock) and publishes only when the fresh stamp still equals the
    * one the build started from: a thread holding a pre-maintenance
    * stamp that runs compute LAST can therefore never unpersist a
    * just-refreshed entry and re-cache stale-stamped data. A build that
    * lost the race (stamp moved mid-build, or another thread published
    * first) serves its OWN frame to its caller — correct snapshot
    * semantics, identical to a stateless read — without caching it. */
  def frame(spark: SparkSession, dir: Path): DataFrame = {
    val key = dir.toString
    val stamp0 = stampOf(dir)
    val cached = entries.get(key)
    if (cached != null && cached.stamp == stamp0) return cached.df
    // build outside any lock
    val fresh = spark.read.parquet(dir.toString)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fresh.count() // materialize now: the first REQUEST must not pay the build
    var out: Entry = null
    entries.compute(key, (_, old) => {
      val stampNow = stampOf(dir)
      if (old != null && old.stamp == stampNow) { out = old; old }
      else if (stampNow == stamp0) {
        if (old != null) old.df.unpersist(blocking = false)
        out = Entry(stamp0, fresh)
        rebuilds.incrementAndGet()
        out
      } else { out = null; old } // stamp moved mid-build: don't publish
    })
    if (out == null) { fresh.unpersist(blocking = false); return fresh }
    if (out.df ne fresh) fresh.unpersist(blocking = false)
    out.df
  }

  /** The keymap frame for (basePath, name) — [[frame]] over the index's
    * keymap store. */
  def keymap(spark: SparkSession, basePath: String, name: String): DataFrame =
    frame(spark, Paths.get(basePath, name, "keymap"))

  /** Drop Spark's SHARED file-listing cache (the session-level
    * FileStatusCache behind every path-based parquet read). The round-18
    * churn adjudication caught the failure shape this exists for — on
    * BASELINE code, so pre-existing, not a parallelism artifact: a
    * reader that lists a store DURING a dynamic overwrite caches
    * pre-overwrite file statuses, and every LATER read of that path
    * (including the maintainer's own next operation, and a torn-read
    * retry's re-plan) is served the poisoned listing — the retry fails
    * on the SAME deleted file forever. Invalidate-then-replan makes the
    * retry actually fresh; maintenance entry points call it on entry so
    * a maintainer never consumes a listing poisoned by a concurrent
    * reader. Cost: the next few reads re-list their directories
    * (metadata-scale); correctness never depended on the cache
    * (scaladoc above). */
  def dropStaleListings(spark: SparkSession): Unit =
    org.apache.spark.sql.execution.datasources.FileStatusCache
      .getOrCreate(spark).invalidateAll()

  /** True when a failure chain bottoms out in a file deleted underneath
    * a running plan — the torn-read window's signature (a dynamic
    * overwrite, or a replace publish's delete-then-move, replaced files
    * between a request's plan-time snapshot and its execution). The recovery is ONE re-plan: the fresh read lists
    * the current files, and a resident frame whose stamp moved rebuilds
    * itself ([[frame]]'s swap). [[graft.sources.IndexCatalog.fetchByIdsServing]]
    * retries its lookup this way; any serve caller racing live
    * maintenance (the ServeBench churn cells) should wrap its action the
    * same way. */
  def isTornRead(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[java.io.FileNotFoundException] ||
      t.isInstanceOf[java.nio.file.NoSuchFileException] ||
      (t.getMessage != null && t.getMessage.contains("FILE_NOT_EXIST")) ||
      isTornRead(t.getCause))

  /** Drop one cached store (tests; explicit retire). */
  def invalidateDir(dir: Path): Unit = {
    val e = entries.remove(dir.toString)
    if (e != null) e.df.unpersist(blocking = false)
  }

  /** Drop one index's cached keymap (tests; explicit retire). */
  def invalidate(basePath: String, name: String): Unit =
    invalidateDir(Paths.get(basePath, name, "keymap"))
}
