package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** SERVING-TIER store cache: two entry kinds per store directory, both
  * keyed by the store's filesystem STAMP, never by a TTL.
  *
  *  - A PINNED RELATION ([[pinned]]): the store's parquet relation built
  *    once per stamp from an explicit leaf-file list and reused until the
  *    stamp moves. Not persisted — it holds a file list and a schema, not
  *    rows, so it costs the same at any store size. Without it every
  *    request re-resolves `spark.read.parquet(dir)`: partition discovery
  *    plus a one-task schema-inference job before any real work. The
  *    catalog's [[IndexCatalog.load]] (data + tombstones) and the posting
  *    and tombstone reads of the lexical and embed serves ride it.
  *  - A RESIDENT FRAME ([[frame]]): the same relation persisted in
  *    CLUSTER memory (MEMORY_AND_DISK — executor-resident, so a 100 TB
  *    index's billions-of-entries keymap spreads across the fleet instead
  *    of any driver heap), for the small metadata stores a request reads
  *    in full: the vector keymap ([[keymap]]), the lexical dict/impacts/
  *    stats, the embed norms. Pinecone holds the id→shard map inside its
  *    routers; Lucene pins the FST and segment stats on heap.
  *
  * STALENESS: one walk of the store, down to its leaf files ([[walk]]),
  * yields both the stamp — every visible file's relative path, size and
  * mtime — and the file list. Maintenance rewrites files (dynamic
  * partition overwrite, staged publishes), so any write moves the stamp
  * and the next request builds against the new files; within one stamp
  * an entry serves exactly what the files hold — the snapshot a
  * stateless read has. Local metadata only, no Spark job.
  *
  * Both kinds are built from the walked list through a PRIVATE file
  * index, never through Spark's shared `FileStatusCache`: the relation
  * lists exactly the walked files, so no listing another reader took
  * can reach it. Its file index is equal only to one over the same
  * directory AND stamp, so Spark's CacheManager never answers one
  * stamp's read with another stamp's persisted rows (a plain
  * `spark.read.parquet(dir)` index equals any other over the same dir).
  *
  * Scope: READ-side accelerator only. Maintenance keeps reading the
  * directories directly — correctness there must never depend on cache
  * coherence.
  *
  * IN-FLIGHT window: a request that obtained its relation just before a
  * rewrite can still execute against files the rewrite deleted (or a
  * persisted block evicted mid-request recomputes from them). This is
  * the SAME torn-read window the stateless path has — Spark snapshots a
  * parquet read's file list at plan time, not its bytes — so the cache
  * narrows nothing and widens nothing; [[IndexCatalog.fetchByIdsServing]]
  * closes the common case with one invalidate-and-retry on a failure
  * [[isTornRead]] classifies. Requests that START after the maintenance
  * write always see the new stamp. */
object ServingCache {

  /** A store's visible leaf files and the stamp folded from them. */
  private[sources] final case class Listing(stamp: String, files: Vector[FileStatus])

  /** One recursive walk of the store's SPARK-VISIBLE entries — the names
    * a parquet read lists (`.`-prefixed names, and `_`-prefixed ones that
    * are not `col=value` partition dirs, are hidden: the
    * `.spark-staging-*` trees of an in-flight dynamic overwrite,
    * `_SUCCESS`, the store's own `_*.json` markers). Walking a staging
    * tree would RACE the overwrite's commit, which moves it away
    * mid-walk; an entry that still vanishes mid-walk (commit racing the
    * listing) is skipped — the committed files themselves carry the
    * stamp change. The stamp folds each file's relative path, size and
    * mtime: file NAMES (fresh UUIDs per Spark write) move it even when a
    * rewrite keeps the file count and lands inside one mtime tick. */
  private[sources] def walk(dir: Path): Listing = {
    if (!Files.isDirectory(dir)) return Listing("absent", Vector.empty)
    def visible(n: String) =
      !(n.startsWith(".") || (n.startsWith("_") && !n.contains("=")) ||
        n.endsWith("._COPYING_"))
    def gone(t: Throwable) = t.isInstanceOf[java.nio.file.NoSuchFileException] ||
      t.isInstanceOf[java.io.FileNotFoundException]
    val sb = new StringBuilder
    val files = Vector.newBuilder[FileStatus]
    def visit(d: Path, rel: String): Unit = {
      val kids =
        try { val s = Files.list(d); try s.iterator().asScala.toVector finally s.close() }
        catch { case t: Throwable if gone(t) => Vector.empty }
      kids.map(p => p.getFileName.toString -> p).filter(kv => visible(kv._1))
        .sortBy(_._1).foreach { case (n, p) =>
          val attrs =
            try Some(Files.readAttributes(p, classOf[BasicFileAttributes]))
            catch { case t: Throwable if gone(t) => None }
          attrs.foreach { a =>
            if (a.isDirectory) visit(p, rel + n + "/")
            else {
              val mtime = a.lastModifiedTime.toMillis
              sb.append(rel).append(n).append(':').append(a.size)
                .append(':').append(mtime).append(';')
              files += new FileStatus(a.size, false, 1, 0L, mtime,
                new HPath("file", null, p.toAbsolutePath.toString))
            }
          }
        }
    }
    visit(dir, "")
    Listing(sb.toString, files.result())
  }

  /** A file index over `dir` that serves the walked leaf files from a
    * PRIVATE cache (no listing, no shared `FileStatusCache`) and equals
    * only an index over the same directory at the same stamp. */
  private final class PinnedIndex(spark: SparkSession, val root: HPath,
                                  val stamp: String, files: Vector[FileStatus],
                                  options: Map[String, String])
      extends InMemoryFileIndex(spark, Seq(root), options, None, new FileStatusCache {
          override def getLeafFiles(p: HPath): Option[Array[FileStatus]] =
            if (p == root) Some(files.toArray) else None
          override def putLeafFiles(p: HPath, fs: Array[FileStatus]): Unit = ()
          override def invalidateAll(): Unit = ()
        }, None, None) {
    override def equals(o: Any): Boolean = o match {
      case p: PinnedIndex => p.root == root && p.stamp == stamp
      case _ => false
    }
    override def hashCode: Int = (root, stamp).hashCode
  }

  /** The parquet relation over a walked listing; None for a store with
    * no visible file. One schema-inference job (a footer read). */
  private def relationOf(spark: SparkSession, dir: Path,
                         l: Listing): Option[HadoopFsRelation] =
    if (l.files.isEmpty) None
    else {
      val root = new HPath("file", null, dir.toAbsolutePath.toString)
      val options = Map("basePath" -> root.toString)
      val index = new PinnedIndex(spark, root, l.stamp, l.files, options)
      val format = new ParquetFileFormat
      val partCols = index.partitionSchema.fieldNames.toSet
      val inferred = format.inferSchema(spark, options, l.files)
        .getOrElse(throw new IllegalStateException(s"no parquet schema in $dir"))
      Some(HadoopFsRelation(index, index.partitionSchema,
        StructType(inferred.filterNot(f => partCols.contains(f.name))),
        None, format, options)(spark))
    }

  private case class Pin(stamp: String, rel: Option[HadoopFsRelation])
  private val pins = new java.util.concurrent.ConcurrentHashMap[String, Pin]()

  /** The store at `dir` as a relation pinned to its stamp, or None when
    * the store holds no visible file. A pin is a pure function of its
    * stamp, so racing builders need no publish guard: each caches a
    * relation that is exact for the stamp it is filed under. */
  def pinnedIfAny(spark: SparkSession, dir: Path): Option[DataFrame] = {
    val l = walk(dir)
    val cached = pins.get(dir.toString)
    val rel =
      if (cached != null && cached.stamp == l.stamp) cached.rel
      else {
        val r = relationOf(spark, dir, l)
        pins.put(dir.toString, Pin(l.stamp, r))
        r
      }
    rel.map(spark.baseRelationToDataFrame)
  }

  /** [[pinnedIfAny]] for a store that must hold data: an empty or absent
    * store raises the error a directory read raises. */
  def pinned(spark: SparkSession, dir: Path): DataFrame =
    pinnedIfAny(spark, dir).getOrElse(spark.read.parquet(dir.toString))

  private case class Entry(stamp: String, df: DataFrame)
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** Count of resident-frame builds PUBLISHED (cold loads + stamp-change
    * rebuilds) — the invalidation meter ServeBench's churn cells read: a
    * maintenance write swaps the stamp, the next request pays one
    * rebuild, and this counter prices how many the churn caused. */
  private val rebuilds = new java.util.concurrent.atomic.AtomicLong(0L)
  def rebuildCount: Long = rebuilds.get()

  /** A memory-resident parquet store, persisted in cluster memory and
    * swapped on stamp change — GENERAL over any store directory (key =
    * the dir), persisting the store's [[pinned]] relation. The BUILD
    * (relation + persist + count — Spark jobs) runs
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
    val stamp0 = walk(dir).stamp
    val cached = entries.get(key)
    if (cached != null && cached.stamp == stamp0) return cached.df
    // build outside any lock
    val fresh = pinned(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fresh.count() // materialize now: the first REQUEST must not pay the build
    var out: Entry = null
    entries.compute(key, (_, old) => {
      val stampNow = walk(dir).stamp
      if (old != null && old.stamp == stampNow) { out = old; old }
      else if (stampNow == stamp0) {
        if (old != null) old.df.unpersist(blocking = false)
        out = Entry(stamp0, fresh)
        rebuilds.incrementAndGet()
        out
      } else { out = null; old } // stamp moved mid-build: don't publish
    })
    if (out == null) { fresh.unpersist(blocking = false); return fresh }
    // frames of one stamp share one cached plan: unpersisting ours
    // would evict the published one
    if ((out.df ne fresh) && out.stamp != stamp0) fresh.unpersist(blocking = false)
    out.df
  }

  /** The keymap frame for (basePath, name) — [[frame]] over the index's
    * keymap store. */
  def keymap(spark: SparkSession, basePath: String, name: String): DataFrame =
    frame(spark, Paths.get(basePath, name, "keymap"))

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

  /** Drop one store's resident frame and pinned relation (tests;
    * explicit retire; the torn-read retry). */
  def invalidateDir(dir: Path): Unit = {
    pins.remove(dir.toString)
    val e = entries.remove(dir.toString)
    if (e != null) e.df.unpersist(blocking = false)
  }

  /** Drop one index's cached keymap (tests; explicit retire). */
  def invalidate(basePath: String, name: String): Unit =
    invalidateDir(Paths.get(basePath, name, "keymap"))
}
