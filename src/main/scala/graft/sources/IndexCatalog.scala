package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.KnnSearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index DDL + catalog (SURVEY.md §2.1 S7/S8).
  *
  * The reference's index lifecycle is Pinecone HTTP DDL: GET the index,
  * POST `{name, dimension, metric}` if absent (`upsert/upsert.go:38-111`),
  * list via the controller API (`debug-commands.txt:1-3`), stats via
  * `describe_index_stats` (`debug-commands.txt:10-12`). Here an index is a
  * directory: a JSON descriptor + a Parquet table partitioned by
  * `label` (the namespace analog — queries against one namespace prune to
  * its partition directories), with the per-vector L2 norm materialized at
  * build time so searches pay one dot product per scored pair.
  */
object IndexCatalog {

  case class IndexDescriptor(name: String, dimension: Int, metric: String)

  private def descPath(basePath: String, name: String) =
    Paths.get(basePath, name, "_index.json")

  def exists(basePath: String, name: String): Boolean =
    Files.exists(descPath(basePath, name))

  /** Create-if-absent (idempotent, like the reference's GET-then-POST):
    * persists the descriptor and writes `data` partitioned by
    * `partitionCols` with precomputed norms. Returns true if it created
    * the index.
    *
    * The default layout partitions by `label` (the namespace analog). An
    * ANN index passes `Seq("label", "bucket")` with a precomputed IVF
    * centroid id / LSH signature as `bucket`: the bucket then becomes a
    * physical partition directory, and a search restricted to its probe
    * buckets is Parquet PARTITION PRUNING — the scan reads nprobe/k of
    * the data instead of scanning everything and discarding. This is the
    * 100 TB load-bearing property the reference delegates to Pinecone
    * (`upsert/upsert.go:38-111`). The descriptor is written AFTER the
    * data, so a killed build leaves no half-index: exists() is false and
    * the next create rewrites it. */
  def createIfAbsent(spark: SparkSession, basePath: String,
                     desc: IndexDescriptor, data: DataFrame,
                     partitionCols: Seq[String] = Seq("label")): Boolean = {
    // validate at creation (like the reference's DDL, upsert/upsert.go:27)
    // — persisting an unknown metric would make every later search() throw
    // against an index that can only be fixed by manual file surgery
    require(KnnSearch.Metrics.contains(desc.metric),
      s"unknown metric '${desc.metric}' (expected one of ${KnnSearch.Metrics.mkString(", ")})")
    if (exists(basePath, name = desc.name)) return false
    val dir = Paths.get(basePath, desc.name)
    Files.createDirectories(dir)
    // One task per partition value → ONE file per partition directory.
    // Without this, every shuffle task holding rows of a directory writes
    // its own part-file there (tasks × dirs small files) — file-listing
    // cost at load time then dwarfs the scan it was meant to prune.
    KnnSearch.withNorm(data)
      .repartition(partitionCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(dir.resolve("data").toString)
    Files.writeString(descPath(basePath, desc.name),
      s"""{"name": "${desc.name}", "dimension": ${desc.dimension}, "metric": "${desc.metric}"}""")
    true
  }

  /** Deterministic per-dataset location for the declared persisted-index
    * queries (q_ann_ivf_persisted / q_ann_lsh_persisted): built once via
    * [[createIfAbsent]], reused across runs — the bench measures the
    * steady-state SEARCH cost, with the one-time index build amortized
    * exactly as a real deployment's offline build is. Bump the version
    * segment when the on-disk layout changes. */
  def cacheBase(sfDir: String): String =
    "/tmp/graft-index-cache/v2/" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Persist an ANN index's centroid codebook as a sidecar table under the
    * index directory (`<base>/<name>/centroids`) — the metadata a real IVF
    * serving tier keeps cached next to the index; [[graft.plans.AnnRouting]]
    * reads it to pick probe buckets at plan time. Columns: at least
    * (cent_id, c_embedding). Coalesced to one file: the codebook is
    * nprobe-discipline metadata, never corpus-sized. */
  def writeCentroids(spark: SparkSession, basePath: String, name: String,
                     centroids: DataFrame): Unit =
    centroids.coalesce(1).write.mode("overwrite")
      .parquet(Paths.get(basePath, name, "centroids").toString)

  /** The sidecar exists only if its write COMMITTED: a JVM killed mid-
    * write leaves a directory with no _SUCCESS marker and (usually) a
    * dangling `_temporary` child, and a bare-directory check would then
    * skip the rewrite forever while every routed read fails (the
    * createIfAbsent killed-build discipline, applied to the sidecar).
    * Deployments that disable the success-marker option still commit by
    * moving part files out of `_temporary`, so the fallback accepts a
    * directory with committed part files and no `_temporary` residue —
    * without it, such sessions would rebuild the sidecar on every call. */
  def hasCentroids(basePath: String, name: String): Boolean = {
    val dir = Paths.get(basePath, name, "centroids")
    if (!Files.exists(dir)) return false
    if (Files.exists(dir.resolve("_SUCCESS"))) return true
    if (Files.exists(dir.resolve("_temporary"))) return false
    val s = Files.list(dir)
    try s.iterator().asScala.exists(p =>
      p.getFileName.toString.startsWith("part-") && Files.size(p) > 0)
    finally s.close()
  }

  /** Descriptor read-back (the GET half of the reference's DDL,
    * `upsert/upsert.go:40-58`). */
  def describe(basePath: String, name: String): Option[IndexDescriptor] = {
    if (!exists(basePath, name)) return None
    val json = Files.readString(descPath(basePath, name))
    def field(k: String) = s""""$k":\\s*"?([^",}]+)"?""".r
      .findFirstMatchIn(json).map(_.group(1))
    for {
      n <- field("name"); d <- field("dimension"); m <- field("metric")
    } yield IndexDescriptor(n, d.trim.toInt, m)
  }

  /** The index's ACTUAL on-disk partition layout, derived from the
    * `col=value` directory nesting under `data/`. Deriving (rather than
    * trusting a per-caller argument) makes layout corruption structurally
    * impossible: a maintenance writer that assumed `bucket` against an
    * index built `label/bucket` would interleave conflicting directory
    * trees that fail every later load — with derivation the stored layout
    * always wins. */
  def partitionLayout(basePath: String, name: String): Seq[String] = {
    val cols = scala.collection.mutable.ArrayBuffer.empty[String]
    var dir = Paths.get(basePath, name, "data")
    var done = false
    while (!done) {
      val next = {
        val s = Files.list(dir)
        try s.iterator().asScala.find(p =>
          Files.isDirectory(p) && p.getFileName.toString.contains("="))
        finally s.close()
      }
      next match {
        case Some(p) =>
          cols += p.getFileName.toString.split("=", 2)(0)
          dir = p
        case None => done = true
      }
    }
    cols.toSeq
  }

  /** Catalog listing (`debug-commands.txt:1-3`). */
  def list(basePath: String): Seq[String] = {
    val base = Paths.get(basePath)
    if (!Files.exists(base)) return Seq.empty
    val s = Files.list(base)
    try s.iterator().asScala
      .filter(p => Files.exists(p.resolve("_index.json")))
      .map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  /** The physical rows on disk, including rows hidden by pending
    * tombstones — maintenance paths (vacuum, upsert discovery) need the
    * physical view; every user-facing read goes through [[load]]. */
  private[sources] def loadRaw(spark: SparkSession, basePath: String, name: String): DataFrame =
    spark.read.parquet(Paths.get(basePath, name, "data").toString)

  /** Logical view of the index: physical rows minus pending tombstones.
    * With no tombstone files (the steady state — [[vacuumTombstones]]
    * clears them) this is a plain scan with zero overhead; with pending
    * deletes it is one broadcast anti-join on the key column, so a delete
    * is VISIBLE to every search immediately while the physical rewrite is
    * deferred to vacuum (the LSM-style tombstone discipline — at 100 TB a
    * delete batch must not rewrite partitions synchronously). Partition
    * and pushed filters still prune: Catalyst pushes predicates on index
    * columns through the anti-join to the scan side.
    *
    * Data and tombstones are read through stamp-pinned relations
    * ([[ServingCache.pinned]]): a repeat read of an unchanged store
    * skips partition discovery and the schema-inference job, and any
    * write moves the stamp before the next read. */
  def load(spark: SparkSession, basePath: String, name: String): DataFrame = {
    val data = ServingCache.pinned(spark, Paths.get(basePath, name, "data"))
    ServingCache.pinnedIfAny(spark, tombstoneDir(basePath, name))
        .map(_.distinct()) match {
      case Some(ts) if ts.columns.length == 2 =>
        data.join(broadcast(versionedTombstoneMax(ts)),
          hiddenByVersioned(data, ts.columns(0), ts.columns(1)), "left_anti")
      case Some(ts) => data.join(broadcast(ts), ts.columns.toIndexedSeq, "left_anti")
      case None => data
    }
  }

  /** The binding tombstone per key of a VERSIONED tombstone frame (key,
    * version): the max version — a lower-versioned delete can never hide
    * what a higher one would not. Columns renamed to `__ts_*` so the
    * non-equi anti-join condition never collides with the data frame. */
  private def versionedTombstoneMax(ts: DataFrame): DataFrame = {
    val Array(k, v) = ts.columns
    ts.groupBy(col(k)).agg(max(col(v)).as("__ts_v"))
      .withColumnRenamed(k, "__ts_k")
  }

  /** A data row is hidden by a versioned tombstone iff a delete with
    * version ≥ the row's version exists for its key — the rule that makes
    * delete REDELIVERY safe: a stale delete (version below the stored
    * row's) arriving after a revival leaves the revived row visible,
    * where the un-versioned key-set tombstone would silently re-hide it. */
  private def hiddenByVersioned(data: DataFrame, keyCol: String,
                                versionCol: String): org.apache.spark.sql.Column = {
    require(data.columns.contains(versionCol),
      s"versioned tombstones need the index to store '$versionCol'")
    data(keyCol) === col("__ts_k") && col("__ts_v") >= data(versionCol)
  }

  /** Load restricted to a probe-bucket set. On a bucket-partitioned index
    * the predicate is a PARTITION FILTER: Spark lists only the matching
    * `bucket=N` directories and the scan never touches the rest of the
    * index (evidence: `PartitionFilters: [... bucket ...]` in PLANS.md /
    * IndexCatalogSpec). The literals are cast to the COLUMN's type
    * (partition-value inference reads small buckets back as int) so the
    * comparison never wraps the attribute in a cast — a casted attribute
    * would not prune. */
  def loadBuckets(spark: SparkSession, basePath: String, name: String,
                  buckets: Seq[Long]): DataFrame = {
    require(buckets.nonEmpty, "empty probe-bucket set")
    val idx = load(spark, basePath, name)
    idx.filter(bucketPredicate(idx, buckets))
  }

  private def bucketPredicate(idx: DataFrame, buckets: Seq[Long]) = {
    val bt = idx.schema("bucket").dataType
    buckets.map(b => col("bucket") === lit(b).cast(bt)).reduce(_ || _)
  }

  // ---------------------------------------------------------------- keymap

  /** Key-bucket fanout of the keymap sidecar. 64 shards keep each
    * directory executor-sized at test scale; raise at production scale
    * the same way as InvertedIndex.DocBuckets — the shard count bounds
    * how much of the sidecar a maintenance batch reads (a batch's keys
    * hash into ≤ KeyBuckets directories, and tiny CDC batches into far
    * fewer). */
  val KeyBuckets = 64

  private def kbucketCol(key: org.apache.spark.sql.Column) =
    pmod(xxhash64(key), lit(KeyBuckets.toLong))

  private def keymapDir(basePath: String, name: String) =
    Paths.get(basePath, name, "keymap")

  private def keymapMarker(basePath: String, name: String) =
    keymapDir(basePath, name).resolve("_keymap.json")

  /** KEY→PARTITION sidecar — `keymap/kbucket=<b>/` rows of
    * (keyCol, partition values as strings), partitioned by a key hash.
    * It answers the one question a value-partitioned index cannot answer
    * cheaply: "which partitions hold rows for this batch of keys?" — the
    * touched-partition DISCOVERY step of [[upsertInto]] and
    * [[vacuumTombstones]]. Without it, discovery column-scanned the WHOLE
    * index's (key, partitionCols) per call; with it, discovery reads
    * key-level metadata pruned to the batch keys' kbucket shards (the
    * doc→tbucket footprint discipline from InvertedIndex, applied to the
    * vector index — Pinecone keeps the same id→shard map inside its
    * serving tier).
    *
    * Crash discipline — the invariant every write preserves is
    * keymap ⊇ {(k, p) : data physically holds a row for key k in p}.
    * EXTRA entries are always safe (discovery treats the partition as
    * touched and rewrites identical content; the next maintenance of the
    * key compacts the entry away); a MISSING entry would leave a stale
    * duplicate row undiscovered, so additions land BEFORE the data write
    * (phase A: old ∪ new locations) and compaction strictly AFTER it
    * (phase C: surviving locations only). A kill between the phases
    * leaves a superset — self-healing, never corrupt.
    *
    * Partition values are stored as STRINGS: partition-directory
    * inference reads small values back as int while batches carry long
    * (or wider) types, and a type that widens as the index grows would
    * split one location into two rows. Discovery casts back to the
    * index's current column type before building the partition
    * predicate (the loadBuckets probe-side-cast rule).
    *
    * The `_keymap.json` marker records the key column (the
    * tokenizer-marker precedent from the inverted index): maintenance
    * against the wrong key fails fast instead of corrupting discovery.
    * The marker is written AFTER the parquet commit, so a killed
    * backfill leaves no marker and the next call rebuilds. */
  def hasKeymap(basePath: String, name: String): Boolean =
    Files.exists(keymapMarker(basePath, name))

  private[sources] def keymapKey(basePath: String, name: String): Option[String] = {
    if (!hasKeymap(basePath, name)) return None
    """"key":\s*"([^"]+)"""".r
      .findFirstMatchIn(Files.readString(keymapMarker(basePath, name)))
      .map(_.group(1))
  }

  /** REPAIR: re-derive the keymap from the data (the primary) — the
    * recovery op for an audit-flagged keymap_mirrors_data. Requires an
    * existing marker (the key column is not guessable); an index without
    * a keymap has nothing to repair. */
  def rebuildKeymap(spark: SparkSession, basePath: String, name: String): Unit =
      WriterLease.withLease(java.nio.file.Paths.get(basePath, name)) {
    val k = keymapKey(basePath, name).getOrElse(throw new IllegalArgumentException(
      s"index $name has no keymap to rebuild (no _keymap.json marker)"))
    writeKeymap(spark, basePath, name, loadRaw(spark, basePath, name), k)
  }

  /** Invalidate the keymap — REQUIRED after any rewrite that reassigns
    * partitions wholesale outside [[upsertInto]]/[[vacuumTombstones]]
    * (Maintenance.rebuildIvf re-buckets every row): a keymap missing the
    * new locations would hide stale rows from later discovery. The next
    * maintenance call backfills from the rewritten data. */
  def dropKeymap(basePath: String, name: String): Unit =
    Maintenance.deleteRecursively(keymapDir(basePath, name))

  /** Backfill the keymap for an index built before it existed (or whose
    * backfill was killed mid-write) — ONE column-pruned scan of the
    * index, exactly what a single discovery used to cost, paid once;
    * every later discovery is kbucket-pruned. Idempotent. */
  def ensureKeymap(spark: SparkSession, basePath: String, name: String,
                   keyCol: String): Unit = {
    keymapKey(basePath, name) match {
      case Some(k) =>
        require(k == keyCol,
          s"index $name has a keymap keyed by '$k', but maintenance is " +
            s"merging by '$keyCol' — one index, one key column")
      case None =>
        writeKeymap(spark, basePath, name,
          loadRaw(spark, basePath, name), keyCol)
    }
  }

  /** Write the keymap wholesale from `rows` (any frame carrying the key
    * and the partition columns — the index itself at backfill, the
    * reassigned frame at a rebuild). Marker written AFTER the parquet
    * commit (killed-build discipline). */
  private[sources] def writeKeymap(spark: SparkSession, basePath: String,
                                   name: String, rows: DataFrame,
                                   keyCol: String): Unit = {
    val partitionCols = partitionLayout(basePath, name)
    require(!partitionCols.contains(keyCol),
      s"index $name is partitioned by its key column '$keyCol' — " +
        "the keymap would duplicate the layout; partition by derived " +
        "columns (label/bucket), never the unique key")
    rows.select((keyCol +: partitionCols).map(col): _*)
      .select(col(keyCol) +: partitionCols.map(c => col(c).cast("string").as(c)): _*)
      .distinct()
      .withColumn("kbucket", kbucketCol(col(keyCol)))
      .repartition(col("kbucket"))
      .write.mode("overwrite").partitionBy("kbucket")
      .parquet(keymapDir(basePath, name).toString)
    Files.writeString(keymapMarker(basePath, name),
      s"""{"key": "$keyCol", "buckets": $KeyBuckets}""")
  }

  /** The kbucket shards a key frame hashes into — ≤ KeyBuckets values,
    * plan-time metadata (the InvertedIndex dbucket-collect discipline). */
  private def kbucketsOf(keys: DataFrame, keyCol: String): Seq[Long] =
    keys.select(kbucketCol(col(keyCol)).as("b")).distinct()
      .collect().map(_.getLong(0)).sorted.toIndexedSeq

  /** DRIVER-SIDE twin of [[kbucketCol]] (the InvertedIndex.bucketOf
    * discipline): the same Catalyst XxHash64 kernel (seed 42, Spark's
    * xxhash64 default) evaluated eagerly over an already-collected key
    * value, so the maintenance rewrites restricted to the keys that
    * actually CHANGED partitions get those keys' shard ids without a
    * one-row Spark job. `dt` must be the keymap's STORED key type (the
    * keymapKeyType rule — int and long hash differently). Bit-parity
    * with the column form is spec-gated in KeymapSpec. */
  private[sources] def kbucketOfValue(v: Any,
      dt: org.apache.spark.sql.types.DataType): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt)), 42L)
      .eval(null).asInstanceOf[Long]
    ((h % KeyBuckets) + KeyBuckets) % KeyBuckets
  }

  /** The keymap's STORED key type — the hash domain every precomputed
    * kbucket set must share. Stored shard assignments were hashed at
    * THIS type, and xxhash64 hashes int and long to different values;
    * precomputing a bucket set at the index's CURRENT key type (which a
    * wider-typed batch can have widened) would filter the wrong shards
    * and silently miss old locations — the exact mismatch [[alignKeys]]
    * exists to prevent, applied to the shared-set fast path too. One
    * footer read per trigger (schema inference only). */
  private def keymapKeyType(spark: SparkSession, basePath: String,
                            name: String,
                            keyCol: String): org.apache.spark.sql.types.DataType =
    spark.read.parquet(keymapDir(basePath, name).toString)
      .schema(keyCol).dataType

  /** Probe keys cast to the keymap's STORED key type before hashing:
    * xxhash64 hashes int and long to different values, so an int-typed
    * batch key probing a long-keyed keymap would look in the wrong
    * shard — the silent-miss failure the loadBuckets cast rule exists
    * to prevent, applied to the hash instead of the comparison. */
  private def alignKeys(keys: DataFrame, keyCol: String,
                        km: DataFrame): DataFrame =
    keys.select(col(keyCol).cast(km.schema(keyCol).dataType).as(keyCol))

  /** Discovery read: the keymap rows for `keys`, pruned to their kbucket
    * directories (PartitionFilters on kbucket — plan-asserted in
    * KeymapSpec). Returns (keyCol, partitionCols...) with partition
    * values still as stored strings. Package-private so the spec can
    * assert the plan shape of the exact frame maintenance collects.
    * `bks` is the keys' precomputed kbucket set when the caller already
    * collected it — one trigger computes it ONCE and shares it across
    * discovery and both keymap writes (driver-job count is the dominant
    * small-batch streaming cost). */
  private[sources] def keymapLocations(spark: SparkSession, basePath: String,
                                       name: String, keys: DataFrame,
                                       keyCol: String,
                                       bks: Seq[Long] = null): DataFrame = {
    val km = spark.read.parquet(keymapDir(basePath, name).toString)
    val k = alignKeys(keys, keyCol, km)
    val buckets = if (bks != null) bks else kbucketsOf(k, keyCol)
    km.filter(col("kbucket").isin(buckets: _*))
      .join(broadcast(k), Seq(keyCol), "left_semi")
      .drop("kbucket")
  }

  /** Dynamic-overwrite the `keys` keys' kbucket shards with
    * `rest ∪ locations` where rest = the shards' rows for OTHER keys —
    * i.e. set the keymap's view of `keys` to exactly `locations`
    * (strings). ∝ the batch's kbucket footprint, never the keymap size.
    * `mayEmpty = false` skips the emptied-shard cleanup collect: an
    * upsert's shards always keep ≥1 row per batch key (its surviving
    * location lands in the SAME shard — kbucket is a function of the
    * key), so only vacuum, which removes keys outright, can empty one. */
  private def rewriteKeymapFor(spark: SparkSession, basePath: String,
                               name: String, keys: DataFrame, keyCol: String,
                               locations: DataFrame,
                               bks: Seq[Long] = null,
                               mayEmpty: Boolean = true): Unit = {
    val km = spark.read.parquet(keymapDir(basePath, name).toString)
    val k = alignKeys(keys, keyCol, km)
    val buckets = if (bks != null) bks else kbucketsOf(k, keyCol)
    if (buckets.isEmpty) return
    val merged = mergedKeymapShards(km, k, keyCol, locations, buckets)
    Maintenance.rewriteShards(keymapDir(basePath, name).toString, Seq("kbucket"),
      merged, if (mayEmpty) buckets.map(Seq(_)) else Nil)
  }

  /** The shard-merge frame both keymap write forms share: the `buckets`
    * shards' rows for OTHER keys ∪ `locations`. */
  private def mergedKeymapShards(km: DataFrame, k: DataFrame, keyCol: String,
                                 locations: DataFrame,
                                 buckets: Seq[Long]): DataFrame = {
    // locations' key is cast to the keymap's stored type BEFORE the
    // union: a wider union type would re-hash every key into different
    // shards than the ones stored (the alignKeys rule, write side)
    val locs = locations.select(
      col(keyCol).cast(km.schema(keyCol).dataType).as(keyCol) +:
        locations.columns.filterNot(_ == keyCol).toIndexedSeq.map(col): _*)
    km.filter(col("kbucket").isin(buckets: _*)).drop("kbucket")
      .join(broadcast(k), Seq(keyCol), "left_anti")
      .unionByName(locs)
      .distinct()
      .withColumn("kbucket", kbucketCol(col(keyCol)))
  }

  /** The compute half of a shard-scoped keymap rewrite: materialize the
    * merged shards (lineage cut off the files about to be replaced) and
    * return the staged frame — no keymap file is touched, so this half
    * can overlap the DATA commit (keymap phase C's ordering constraint
    * binds only its WRITE, which must land strictly after the data
    * write). `keys`/`locations` must be pre-aligned to the keymap's
    * stored key type (the collected-locations path builds them from
    * keymap rows, which already carry that type). Upsert-scoped only: an
    * upsert's shards always keep ≥1 row per batch key, so no touched set
    * (and no emptied-shard cleanup) is needed. */
  private def stageKeymapRewrite(spark: SparkSession, basePath: String,
                                 name: String, keys: DataFrame, keyCol: String,
                                 locations: DataFrame,
                                 bks: Seq[Long]): Maintenance.StagedShards = {
    val km = spark.read.parquet(keymapDir(basePath, name).toString)
    Maintenance.stageShards(Seq("kbucket"),
      mergedKeymapShards(km, alignKeys(keys, keyCol, km), keyCol, locations, bks))
  }

  /** Partition values of `locs` (stored strings) cast back to the
    * index's CURRENT column types — the literal probe values for the
    * touched-partition predicate. */
  private def castLocations(locs: DataFrame, idx: DataFrame,
                            partitionCols: Seq[String]): DataFrame =
    locs.select(partitionCols.map(c =>
      col(c).cast(idx.schema(c).dataType).as(c)): _*)

  private def tombstoneDir(basePath: String, name: String) =
    Paths.get(basePath, name, "tombstones")

  /** Pending delete keys, if any tombstone files exist. One column — the
    * key column the deletes were issued against. */
  def pendingTombstones(spark: SparkSession, basePath: String,
                        name: String): Option[DataFrame] = {
    val dir = tombstoneDir(basePath, name)
    if (!Files.exists(dir)) return None
    val s = Files.list(dir)
    val hasFiles =
      try s.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    if (hasFiles) Some(spark.read.parquet(dir.toString).distinct()) else None
  }

  /** Delete-by-id, the write half (Pinecone's `vectors/delete` — the API
    * sibling of the reference's upsert loop, which the reference never
    * calls but the index it writes into supports). APPENDS the key set as
    * a tombstone file: O(|keys|) I/O, no data-partition rewrite, and the
    * keys vanish from every [[load]]/[[search]] immediately. The physical
    * rewrite is deferred to [[vacuumTombstones]] — the split any
    * LSM/lakehouse delete makes (delta tombstones now, compaction later),
    * and the only shape that survives 100 TB: a synchronous delete of k
    * keys must never rewrite the partitions holding them on the write
    * path. */
  /** With `versionCol` set, the delete is VERSIONED: the tombstone stores
    * (key, max batch version) and hides only rows whose stored version it
    * covers (see [[hiddenByVersioned]]) — the CDC-redelivery-safe form. A
    * later upsert with a HIGHER version revives the key with no tombstone
    * bookkeeping at all; a redelivered stale delete is inert. Versioned
    * and un-versioned tombstones cannot mix on one index (enforced), and
    * [[vacuumTombstones]] is the GC barrier: after a vacuum, ops with
    * versions at or below the vacuumed deletes must not be replayed (the
    * standard tombstone-GC watermark contract). */
  def tombstone(spark: SparkSession, basePath: String, name: String,
                keys: DataFrame, keyCol: String = "vec_id",
                versionCol: Option[String] = None): Unit =
      WriterLease.withLease(java.nio.file.Paths.get(basePath, name)) {
    require(exists(basePath, name), s"no such index: $name")
    // Fail FAST on an unpartitioned index: vacuumTombstones requires a
    // partition layout (touched-partition rewrite has nothing to prune
    // on), so accepting the delete here would accumulate tombstones that
    // can never compact — the read-path anti-join overhead would be
    // permanent, surfacing as an opaque vacuum failure much later.
    // BREAKING CHANGE (round 11): an unpartitioned index previously
    // accepted deletes (the read-path anti-join worked; only vacuum was
    // impossible). That window is closed DELIBERATELY — a store that
    // can never compact its deletes is a slow leak, and the error names
    // the migration (rebuild partitioned, or rewrite without the keys)
    // at the first delete instead of at the first full disk.
    require(partitionLayout(basePath, name).nonEmpty,
      s"index $name has no partition layout: its tombstones could never " +
        "be vacuumed (rebuild the index with partition columns, or drop " +
        "and rewrite it without the deleted keys)")
    val expected = keyCol +: versionCol.toSeq
    pendingTombstones(spark, basePath, name).foreach { ts =>
      require(ts.columns.sameElements(expected),
        s"index $name already has tombstones with schema " +
          s"(${ts.columns.mkString(", ")}); a delete with schema " +
          s"(${expected.mkString(", ")}) cannot mix with them — vacuum first")
    }
    val rows = versionCol match {
      case Some(v) =>
        require(loadRaw(spark, basePath, name).columns.contains(v),
          s"versioned delete needs the index to store '$v'")
        keys.groupBy(col(keyCol)).agg(max(col(v)).as(v))
      case None => keys.select(col(keyCol)).distinct()
    }
    rows
      .coalesce(1) // a delete batch's key set is metadata-sized
      .write.mode("append").parquet(tombstoneDir(basePath, name).toString)
  }

  /** Fold pending tombstones into the physical layout and clear them —
    * the compaction half of delete. Only partitions that physically hold
    * a tombstoned key are rewritten (the upsertInto touched-partition
    * discipline: discovery is a column-pruned key/partition-column scan,
    * the survivor scan is statically partition-pruned, untouched
    * directories keep their files byte-for-byte); a partition emptied by
    * the delete has its directory removed. Idempotent: tombstones whose
    * keys are already absent fold to a no-op. After the fold, [[load]]
    * reads the plain scan again — the anti-join cost was strictly
    * transient. */
  def vacuumTombstones(spark: SparkSession, basePath: String, name: String,
                       keyCol: String = "vec_id"): Unit =
      WriterLease.withLease(java.nio.file.Paths.get(basePath, name)) {
    val ts = pendingTombstones(spark, basePath, name).getOrElse(return)
    require(ts.columns.headOption.contains(keyCol),
      s"index $name has tombstones keyed by '${ts.columns.mkString(",")}', " +
        s"but the vacuum folds by '$keyCol'")
    require(ts.columns.length <= 2,
      s"unrecognized tombstone schema (${ts.columns.mkString(", ")})")
    val partitionCols = partitionLayout(basePath, name)
    require(partitionCols.nonEmpty, s"index $name has no partition layout")
    val idx = loadRaw(spark, basePath, name)
    // versioned tombstones hide only the rows their version covers —
    // touched-partition discovery and the survivor anti-join use the SAME
    // condition the read path does, so vacuum folds exactly what load hides
    val versioned = ts.columns.length == 2
    ensureKeymap(spark, basePath, name, keyCol)
    // A delete batch's key set is metadata-sized (the tombstone write
    // coalesces to one file on that contract) — ONE collect at the
    // keymap's stored key type, and the shard ids, probe frames, and the
    // phase decisions below are driver-side set algebra instead of a
    // checkpoint plus two more collect jobs (the upsertInto discipline).
    val kmType = keymapKeyType(spark, basePath, name, keyCol)
    val tsKeyRows = ts.select(col(keyCol).cast(kmType).as(keyCol))
      .distinct().collect()
    val tsBks = tsKeyRows.map(r => kbucketOfValue(r.get(0), kmType))
      .distinct.sorted.toIndexedSeq
    val keySchema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField(keyCol, kmType)))
    val tsKeys = spark.createDataFrame(tsKeyRows.toSeq.asJava, keySchema)
    val probe =
      if (versioned) broadcast(versionedTombstoneMax(ts))
      else broadcast(tsKeys)
    def hiddenCond(d: DataFrame) =
      if (versioned) hiddenByVersioned(d, keyCol, ts.columns(1))
      else d(keyCol) === probe(keyCol)
    // DISCOVERY: candidate partitions from the keymap pruned to the
    // tombstone keys' kbucket shards — never a full-index scan.
    val candValues = castLocations(
      keymapLocations(spark, basePath, name, tsKeys, keyCol, tsBks),
      idx, partitionCols)
      .distinct().collect().map(_.toSeq)
    if (candValues.nonEmpty) {
      val candPred = candValues.map { values =>
        partitionCols.zip(values)
          .map { case (c, v) => col(c) <=> lit(v) }
          .reduce(_ && _)
      }.reduce(_ || _)
      // An UNVERSIONED vacuum removes every candidate key's rows, so the
      // candidate set IS the touched set (keymap ⊇ physical locations —
      // a crash-residue phantom candidate rewrites identical content
      // once, harmlessly) and the tightening scan is skipped. A
      // VERSIONED index can hold a candidate key at a version the
      // tombstone does not cover, and that partition must keep its files
      // byte-for-byte — so the candidates are tightened by the EXACT
      // hidden-row condition (restricted to the candidate partitions).
      val cand = idx.filter(candPred)
      val touchedValues =
        if (!versioned) candValues
        else cand.join(probe, hiddenCond(cand), "left_semi")
          .select(partitionCols.map(col): _*)
          .distinct()
          .select(partitionCols.map(c => col(c).cast(idx.schema(c).dataType).as(c)): _*)
          .collect().map(_.toSeq)
      // keymap compaction: set the tombstone keys' entries to the rows
      // that physically REMAIN. Unversioned, that is nothing (every
      // candidate row folds); versioned, the survivors come from the
      // materialized rewrite output plus the untouched candidate
      // partitions (their files — and so their rows — are untouched by
      // construction), so nothing re-reads the store post-rewrite.
      // Removal never ADDS locations, so no phase-A superset is needed;
      // the compaction WRITE still lands strictly after the data commit
      // (a kill in between leaves extra entries, which are safe — the
      // reverse order would hide still-present rows from a replay's
      // discovery). Its COMPUTE half only reads keymap shards and the
      // materialized output, so it overlaps the data commit (§2.6).
      var kmStaged: Maintenance.StagedShards = null
      val kmDirPath = keymapDir(basePath, name)
      def stageKeymapCompaction(survivorsOut: Option[DataFrame]): Unit = {
        val locations = {
          val fromOut = survivorsOut.map(
            _.join(broadcast(tsKeys.select(
                col(keyCol).cast(idx.schema(keyCol).dataType).as(keyCol))),
                Seq(keyCol), "left_semi")
              .select(col(keyCol) +:
                partitionCols.map(c => col(c).cast("string").as(c)): _*))
          val untouchedVals = candValues.filterNot(touchedValues.contains)
          val fromUntouched =
            if (untouchedVals.isEmpty) None
            else {
              val p = untouchedVals.map { values =>
                partitionCols.zip(values)
                  .map { case (c, v) => col(c) <=> lit(v) }
                  .reduce(_ && _)
              }.reduce(_ || _)
              Some(idx.filter(p)
                .join(broadcast(tsKeys.select(
                    col(keyCol).cast(idx.schema(keyCol).dataType).as(keyCol))),
                  Seq(keyCol), "left_semi")
                .select(col(keyCol) +:
                  partitionCols.map(c => col(c).cast("string").as(c)): _*))
            }
          val parts = (fromOut.toSeq ++ fromUntouched.toSeq)
          if (parts.isEmpty)
            spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(
                keySchema.fields.toIndexedSeq ++ partitionCols.map(c =>
                  org.apache.spark.sql.types.StructField(
                    c, org.apache.spark.sql.types.StringType))))
          else parts.reduce(_ unionByName _).distinct()
        }
        val km = spark.read.parquet(kmDirPath.toString)
        // deletes can empty a shard: the touched set makes the commit
        // remove the emptied shard directories
        kmStaged = Maintenance.stageShards(Seq("kbucket"),
          mergedKeymapShards(km, alignKeys(tsKeys, keyCol, km), keyCol,
            locations, tsBks), tsBks.map(Seq(_)))
      }
      if (touchedValues.nonEmpty) {
        val touchedPred = touchedValues.map { values =>
          partitionCols.zip(values)
            .map { case (c, v) => col(c) <=> lit(v) }
            .reduce(_ && _)
        }.reduce(_ || _)
        val scoped = idx.filter(touchedPred)
        val survivors = scoped.join(probe, hiddenCond(scoped), "left_anti")
        val staged = Maintenance.stageShards(partitionCols, survivors, touchedValues)
        graft.operators.Par.run(Seq(
          () => Maintenance.commitShards(
            Paths.get(basePath, name, "data").toString, staged),
          () => stageKeymapCompaction(if (versioned) Some(staged.out) else None)),
          parallelism = 2)
      } else stageKeymapCompaction(None)
      Maintenance.commitShards(kmDirPath.toString, kmStaged)
    }
    Maintenance.deleteRecursively(tombstoneDir(basePath, name))
  }

  /** Top-K search against a cataloged index under ITS declared metric —
    * the reference stores the metric in the index descriptor
    * (`upsert/upsert.go:27`) and every query inherits it; the caller never
    * re-specifies (or contradicts) it at query time.
    *
    * `namespace` restricts to one label partition (Pinecone's per-namespace
    * query); `buckets` restricts an ANN index to the query's probe buckets.
    * Both are partition-column predicates — on a `label`/`bucket`-
    * partitioned index they prune the scan to the matching directories. */
  def search(spark: SparkSession, basePath: String, name: String,
             query: DataFrame, k: Int,
             buckets: Seq[Long] = Nil, namespace: Option[Int] = None): DataFrame = {
    val desc = describe(basePath, name).getOrElse(
      throw new IllegalArgumentException(s"no such index: $name"))
    require(KnnSearch.Metrics.contains(desc.metric),
      s"index '$name' declares unknown metric '${desc.metric}'")
    val full = load(spark, basePath, name)
    val scoped = (namespace, buckets) match {
      case (Some(ns), Nil) => full.filter(col("label") === ns)
      case (Some(ns), bs) => full.filter(col("label") === ns && bucketPredicate(full, bs))
      case (None, Nil) => full
      case (None, bs) => full.filter(bucketPredicate(full, bs))
    }
    KnnSearch.topK(scoped, query, k, desc.metric,
      keep = if (buckets.nonEmpty) Seq("bucket") else Nil)
  }

  /** Incremental upsert into a persisted partitioned index — the index-
    * MAINTENANCE half of the reference's upsert loop (`upsert/upsert.go:
    * 167-190` re-posts vectors one by one; Pinecone merges by id). Merge
    * semantics are last-write-wins by `keyCol` (batch beats index; within
    * the batch the caller pre-dedupes via [[graft.operators.Upsert]]) —
    * UNLESS `versionCol` is set, in which case the index must store that
    * column and each key resolves by HIGHEST VERSION across the stored
    * row and the batch row (ties to a content hash, so retries pick the
    * same winner). Version-aware merge is what makes the maintenance
    * sink safe under OUT-OF-ORDER redelivery: with plain batch-beats-
    * index, a source that redelivers an old version in a later batch
    * silently regresses the key (arrival-order semantics); with the
    * version stored, the stale redelivery loses the window and the
    * index state equals the ROW_NUMBER-over-version oracle no matter
    * the delivery order.
    *
    * Scale shape: only partitions TOUCHED by the batch are rewritten
    * (dynamic partition overwrite) — a partition is touched if the batch
    * writes into it or holds an old version of a batch key (an updated
    * vector can MOVE buckets, so its old partition must be rewritten to
    * drop the stale row). Batch keys broadcast; the survivor scan is
    * restricted to touched partitions via a partition-column semi-join, so
    * the rewrite I/O is proportional to the batch's partition footprint,
    * never the index size. The union is localCheckpoint-ed before the
    * write: it cuts the plan's lineage on the files being overwritten
    * (Spark refuses to overwrite a path it is reading from) and its
    * footprint is the touched partitions only.
    *
    * Touched-partition DISCOVERY reads the keymap sidecar pruned to the
    * batch keys' kbucket shards (see [[ensureKeymap]]) — key-level
    * metadata, never the index — so a steady trickle of tiny batches
    * costs I/O ∝ batch on BOTH the discovery and the rewrite side. An
    * index built before the sidecar existed pays one column-pruned
    * backfill scan (exactly what every discovery used to cost) on its
    * first maintenance call. */
  def upsertInto(spark: SparkSession, basePath: String, name: String,
                 batch: DataFrame, keyCol: String,
                 versionCol: Option[String] = None,
                 knownNonEmpty: Boolean = false): Unit =
      WriterLease.withLease(java.nio.file.Paths.get(basePath, name)) {
    require(exists(basePath, name), s"no such index: $name")
    // the layout is DERIVED from the index, never trusted from the caller
    // (see partitionLayout) — the batch must carry those columns
    val partitionCols = partitionLayout(basePath, name)
    require(partitionCols.nonEmpty, s"index $name has no partition layout")
    partitionCols.foreach(c => require(batch.columns.contains(c),
      s"batch is missing the index's partition column '$c' " +
        s"(layout: ${partitionCols.mkString("/")})"))
    // An empty batch touches no partitions — a no-op, not an error. Without
    // this guard the touched-partition reduce below throws an opaque
    // 'empty.reduce' from deep inside the merge. A caller that already
    // counted the batch (the CDC trigger counts per op anyway) passes
    // knownNonEmpty to skip this extra driver action — per-trigger job
    // count is the dominant streaming-merge cost at small batch sizes.
    if (!knownNonEmpty && batch.isEmpty) return
    val keys = batch.select(col(keyCol)).distinct().localCheckpoint(true)
    // The merge reads the PHYSICAL view: rows hidden by OTHER keys'
    // pending tombstones must survive the rewrite untouched — dropping
    // them opportunistically (the load() view) would desynchronize the
    // keymap (their entries outlive their rows until vacuum) and make
    // an upsert's physical outcome depend on which unrelated deletes
    // happen to be pending. Tombstoned rows are removed by vacuum, and
    // only by vacuum. Batch keys are unaffected: their unversioned
    // tombstones are cleared below, and under a versioned merge a
    // hidden stored row participates in last-write-wins exactly as the
    // version rule dictates (the read path's version mask still
    // applies to whichever row wins).
    val idx = loadRaw(spark, basePath, name)
    val newRows = KnnSearch.withNorm(batch).select(idx.columns.toIndexedSeq.map(col): _*)
    // Touched-partition DISCOVERY: old locations of the batch keys come
    // from the keymap sidecar pruned to their kbucket shards — never from
    // a scan of the index itself. Values are cast to the INDEX column's
    // current type before the predicate is built: partition-value
    // inference reads small buckets back as int while callers compute
    // long signatures, and a casted partition ATTRIBUTE would not prune
    // (same rule as loadBuckets) — the cast lands on the probe side,
    // never on idx's column. The footprint is collected (tiny — one tuple
    // per touched partition) into a LITERAL partition predicate so the
    // survivor scan is statically partition-pruned.
    ensureKeymap(spark, basePath, name, keyCol)
    // one trigger computes the batch's kbucket set ONCE for discovery
    // (job-count discipline); hashed at the KEYMAP's stored key type, the
    // same domain the stored shard assignments were hashed at (see
    // keymapKeyType)
    val kmType = keymapKeyType(spark, basePath, name, keyCol)
    val batchBks = kbucketsOf(
      keys.select(col(keyCol).cast(kmType).as(keyCol)), keyCol)
    // Three independent preparation steps — overlapped jobs (Par, guide
    // §2.6): the tombstone clear (re-upserting a deleted key REVIVES it:
    // drop the batch keys' pending tombstones, or load()'s anti-join
    // would hide the fresh row — nothing later in this op reads the
    // tombstone dir, so it overlaps safely), and the batch keys' NEW and
    // OLD locations COLLECTED driver-side. Both location sets are
    // batch-key-metadata-sized (the boundedness class the broadcast(keys)
    // in every merge below already assumes), and holding them on the
    // driver turns the touched-partition union, the phase-A/phase-C
    // necessity decisions, and the rewrite scoping below into free set
    // algebra instead of three more Spark jobs per call. Each collected
    // row carries the location twice: the keymap's stored-string form
    // (columns s_*, the comparison/write domain) and the index-typed form
    // (columns t_*, the partition-predicate domain).
    val idxKeyT = idx.schema(keyCol).dataType
    var newLocRows: Array[org.apache.spark.sql.Row] = null
    var oldLocRows: Array[org.apache.spark.sql.Row] = null
    graft.operators.Par.run(Seq(
      () => clearTombstonesFor(spark, basePath, name, keys, keyCol,
        versionedUpsert = versionCol.isDefined),
      () => newLocRows = newRows
        .select(col(keyCol).cast(idxKeyT).cast(kmType).as(keyCol) +:
          (partitionCols.map(c =>
            col(c).cast(idx.schema(c).dataType).cast("string").as(s"s_$c")) ++
           partitionCols.map(c =>
             col(c).cast(idx.schema(c).dataType).as(s"t_$c"))): _*)
        .distinct().collect(),
      () => oldLocRows =
        keymapLocations(spark, basePath, name, keys, keyCol, batchBks)
          .select(col(keyCol) +:
            (partitionCols.map(c => col(c).as(s"s_$c")) ++
             partitionCols.map(c =>
               col(c).cast(idx.schema(c).dataType).as(s"t_$c"))): _*)
          .collect()),
      parallelism = 3)
    val np = partitionCols.length
    def strsOf(r: org.apache.spark.sql.Row): Vector[String] =
      Vector.tabulate(np)(j => r.getAs[String](1 + j))
    def typedOf(r: org.apache.spark.sql.Row): Vector[Any] =
      Vector.tabulate(np)(j => r.get(1 + np + j))
    val emptyLocs = Set.empty[Vector[String]]
    val newByKey: Map[Any, Set[Vector[String]]] =
      newLocRows.groupBy(_.get(0)).map { case (k, rs) => k -> rs.map(strsOf).toSet }
    val oldByKey: Map[Any, Set[Vector[String]]] =
      oldLocRows.groupBy(_.get(0)).map { case (k, rs) => k -> rs.map(strsOf).toSet }
    val touchedValues: Array[Seq[Any]] =
      (newLocRows ++ oldLocRows).map(typedOf).distinct.map(_.toSeq)
    val touchedPred = touchedValues.map { values =>
      partitionCols.zip(values)
        .map { case (c, v) => col(c) <=> lit(v) }
        .reduce(_ && _)
    }.reduce(_ || _)
    // The two keymap rewrites are scoped to the keys that NEED them —
    // for everything else the write would rewrite identical content
    // (entries(k) is old(k) before phase A and the phases set old ∪ new
    // then surviving), so a steady batch whose keys keep their
    // partitions skips both writes outright, and a mixed batch rewrites
    // only the moved keys' shards. Phase A: keys whose batch row lands
    // somewhere the keymap does not know yet. Phase C: keys that may
    // hold a stale entry after the merge — unversioned, surviving is
    // exactly the batch's locations, so compaction is needed iff the
    // keymap holds a location outside them; versioned, the winner
    // (stored or batch row) is unknown driver-side, so any key whose
    // old ∪ new is not a single location compacts post-merge (for a
    // singleton the winner's location IS that singleton).
    val batchKeys = newByKey.keySet ++ oldByKey.keySet
    val keysNeedA = batchKeys.filter(k =>
      (newByKey.getOrElse(k, emptyLocs) -- oldByKey.getOrElse(k, emptyLocs)).nonEmpty)
    val keysNeedC = versionCol match {
      case None => batchKeys.filter(k =>
        (oldByKey.getOrElse(k, emptyLocs) -- newByKey.getOrElse(k, emptyLocs)).nonEmpty)
      case Some(_) => batchKeys.filter(k =>
        (oldByKey.getOrElse(k, emptyLocs) ++ newByKey.getOrElse(k, emptyLocs)).size > 1)
    }
    val locSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(keyCol, kmType) +:
        partitionCols.map(c => org.apache.spark.sql.types.StructField(
          c, org.apache.spark.sql.types.StringType)))
    def locDF(ks: Set[Any], locs: Any => Set[Vector[String]]): DataFrame =
      spark.createDataFrame(
        ks.toSeq.flatMap(k => locs(k).toSeq.map(l =>
          org.apache.spark.sql.Row.fromSeq(k +: l))).asJava, locSchema)
    def keyDF(ks: Set[Any]): DataFrame =
      spark.createDataFrame(
        ks.toSeq.map(k => org.apache.spark.sql.Row(k)).asJava,
        org.apache.spark.sql.types.StructType(
          Seq(org.apache.spark.sql.types.StructField(keyCol, kmType))))
    def bksLocal(ks: Set[Any]): Seq[Long] =
      ks.map(k => kbucketOfValue(k, kmType)).toSeq.distinct.sorted
    val merged = versionCol match {
      case None =>
        // batch beats index: stored rows for batch keys drop, batch lands
        idx.filter(touchedPred)
          .join(broadcast(keys), Seq(keyCol), "left_anti")
          .unionByName(newRows)
      case Some(v) =>
        require(idx.columns.contains(v),
          s"version-aware upsert needs the index to store '$v' " +
            s"(build the index with that column)")
        // highest version wins per key across stored + batch rows; the
        // content-hash tie-break makes a redelivered equal version pick
        // the same winner on every retry
        graft.operators.Upsert.lastWriteWins(
          idx.filter(touchedPred).unionByName(newRows), Seq(keyCol), v,
          tieBreak = Seq(xxhash64(idx.columns.toIndexedSeq.map(col): _*)))
    }
    // Phase A (keymap superset write: old ∪ new for the keys that gained
    // a location) must land BEFORE the data write but does not depend on
    // the merge's RESULT — so the merge's compute (the materialize half
    // of the dynamic overwrite, which touches no index file) overlaps
    // it; only the data COMMIT waits for both.
    var staged: Maintenance.StagedShards = null
    if (keysNeedA.nonEmpty)
      graft.operators.Par.run(Seq(
        () => Maintenance.commitShards(keymapDir(basePath, name).toString,
          stageKeymapRewrite(spark, basePath, name, keyDF(keysNeedA), keyCol,
            locDF(keysNeedA, k =>
              oldByKey.getOrElse(k, emptyLocs) ++ newByKey.getOrElse(k, emptyLocs)),
            bksLocal(keysNeedA))),
        () => staged = Maintenance.stageShards(partitionCols, merged, touchedValues)),
        parallelism = 2)
    else staged = Maintenance.stageShards(partitionCols, merged, touchedValues)
    // keymap phase C: compact the scoped keys' entries to their SURVIVING
    // locations (unversioned: the batch's locations, known driver-side;
    // versioned: from the materialized rewrite output — the stored row
    // can win, so the surviving location is not always the batch's). The
    // ordering invariant binds only phase C's WRITE, which runs strictly
    // after the data commit — a kill before it leaves phase A's superset,
    // which the next maintenance of these keys self-heals. Its COMPUTE
    // half reads only keymap shards and the materialized output, so it
    // overlaps the data commit (guide §2.6).
    var stagedC: Maintenance.StagedShards = null
    graft.operators.Par.run(Seq(
      () => Maintenance.commitShards(Paths.get(basePath, name, "data").toString, staged),
      () => if (keysNeedC.nonEmpty) {
        val cKeys = keyDF(keysNeedC)
        val cLocs = versionCol match {
          case None => locDF(keysNeedC, k => newByKey.getOrElse(k, emptyLocs))
          case Some(_) => staged.out
            .join(broadcast(cKeys.select(col(keyCol).cast(idxKeyT).as(keyCol))),
              Seq(keyCol), "left_semi")
            .select(col(keyCol) +:
              partitionCols.map(c => col(c).cast("string").as(c)): _*)
            .distinct()
        }
        stagedC = stageKeymapRewrite(spark, basePath, name, cKeys, keyCol,
          cLocs, bksLocal(keysNeedC))
      }),
      parallelism = 2)
    if (stagedC != null)
      Maintenance.commitShards(keymapDir(basePath, name).toString, stagedC)
  }

  /** Remove pending tombstones for `keys` (the upsert revival path). The
    * tombstone set is metadata-sized, so the fold-and-rewrite is one
    * broadcast anti-join over a single file. Tombstones must have been
    * issued against the same key column the upsert merges by.
    *
    * Crash discipline (the createIfAbsent rule applied here): the
    * REMAINING keys are written as a NEW file into the tombstone dir
    * BEFORE the old files are deleted — at every instant the pending set
    * on disk is a superset of `remaining`, so a kill at any point can
    * only leave a batch key still tombstoned (and the upsert it was
    * cleared for has not run either — the retry re-clears), never
    * resurrect an unrelated pending delete. A delete-then-rewrite order
    * would open exactly that window. */
  private def clearTombstonesFor(spark: SparkSession, basePath: String,
                                 name: String, keys: DataFrame,
                                 keyCol: String,
                                 versionedUpsert: Boolean): Unit =
    pendingTombstones(spark, basePath, name).foreach { ts =>
      require(ts.columns.headOption.contains(keyCol),
        s"index $name has tombstones keyed by '${ts.columns.mkString(",")}', " +
          s"but the upsert merges by '$keyCol'")
      // VERSIONED tombstones against a VERSIONED upsert need no clearing:
      // the read path compares versions, so a higher-versioned upsert
      // revives its key through the standing tombstone, while a stale
      // (lower-versioned) row stays correctly hidden by it — clearing
      // here would break exactly that second case. Only vacuum GCs them.
      if (!(ts.columns.length == 2 && versionedUpsert)) {
        val dir = tombstoneDir(basePath, name)
        val oldFiles = {
          val s = Files.list(dir)
          try s.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toList
          finally s.close()
        }
        // materialize BEFORE touching the files the plan reads from
        val remaining = ts
          .join(broadcast(keys.select(col(keyCol))), Seq(keyCol), "left_anti")
          .localCheckpoint(true)
        if (!remaining.isEmpty)
          remaining.coalesce(1).write.mode("append").parquet(dir.toString)
        oldFiles.foreach(Files.deleteIfExists(_))
      }
    }

  /** Point lookup by id through the keymap — the reference's FETCH
    * (`main.go:141-180` fetches each matched id with its own HTTPS GET;
    * Pinecone's fetch endpoint) as a PARTITION-PRUNED read: the batch
    * ids' locations come from the kbucket-pruned keymap read, become a
    * literal partition predicate, and the data scan lists ONLY the
    * directories that hold the ids — at fleet scale the difference
    * between touching every partition's listing/footers (an id
    * IN-filter prunes row groups but not directories) and touching K of
    * them. Tombstone-hidden ids stay hidden ([[load]] semantics); ids
    * absent from the index return no rows.
    *
    * READ-ONLY: a fetch against an index with no keymap falls back to
    * the id semi-join scan (directory-unpruned but correct) instead of
    * backfilling one — a read must never write (it would throw on a
    * read-only mount, and two concurrent first readers would race on
    * the keymap directory). Backfill belongs to the maintenance entry
    * points ([[upsertInto]]/[[vacuumTombstones]]/[[ensureKeymap]]);
    * a serving deployment ensures the keymap once at publish time. */
  def fetchByIds(spark: SparkSession, basePath: String, name: String,
                 keys: DataFrame, keyCol: String = "vec_id"): DataFrame = {
    val idx = load(spark, basePath, name)
    if (!hasKeymap(basePath, name))
      return idx.join(broadcast(keys.select(col(keyCol))), Seq(keyCol), "left_semi")
    val partitionCols = partitionLayout(basePath, name)
    val locValues = castLocations(
      keymapLocations(spark, basePath, name, keys, keyCol),
      idx, partitionCols)
      .distinct().collect().map(_.toSeq)
    if (locValues.isEmpty) return idx.filter(lit(false))
    val pred = locValues.map { values =>
      partitionCols.zip(values)
        .map { case (c, v) => col(c) <=> lit(v) }
        .reduce(_ && _)
    }.reduce(_ || _)
    idx.filter(pred)
      .join(broadcast(keys.select(col(keyCol))), Seq(keyCol), "left_semi")
  }

  /** [[fetchByIds]] through the SERVING-TIER keymap cache
    * ([[ServingCache]]): identical rows, the per-request keymap
    * listing/footer/scan job replaced by a broadcast semi-join against
    * the memory-resident frame — the latency shape a serving deployment
    * runs with (ServeBench's fetch_hot family measures the difference).
    * Stateless correctness is preserved by the cache's filesystem stamp:
    * any maintenance write to the keymap swaps the cached frame before
    * the next request reads it. A request IN FLIGHT across a
    * dynamic-overwrite (the same torn-read window the stateless path
    * has — see [[ServingCache]]'s scaladoc) can lose a persisted block
    * to eviction and recompute from deleted files: that one failure
    * shape is closed with an invalidate-and-retry against the fresh
    * stamp. Falls back exactly like fetchByIds when no keymap exists. */
  def fetchByIdsServing(spark: SparkSession, basePath: String, name: String,
                        keys: DataFrame, keyCol: String = "vec_id"): DataFrame = {
    val idx = load(spark, basePath, name)
    if (!hasKeymap(basePath, name))
      return idx.join(broadcast(keys.select(col(keyCol))), Seq(keyCol), "left_semi")
    val partitionCols = partitionLayout(basePath, name)
    def lookup(): Array[Seq[Any]] = {
      val km = ServingCache.keymap(spark, basePath, name)
      val locs = km.drop("kbucket")
        .join(broadcast(alignKeys(keys, keyCol, km)), Seq(keyCol), "left_semi")
      castLocations(locs, idx, partitionCols).distinct().collect().map(_.toSeq)
    }
    val locValues =
      try lookup()
      catch {
        case e: Throwable if ServingCache.isTornRead(e) =>
          ServingCache.invalidate(basePath, name)
          lookup()
      }
    if (locValues.isEmpty) return idx.filter(lit(false))
    val pred = locValues.map { values =>
      partitionCols.zip(values)
        .map { case (c, v) => col(c) <=> lit(v) }
        .reduce(_ && _)
    }.reduce(_ || _)
    idx.filter(pred)
      .join(broadcast(keys.select(col(keyCol))), Seq(keyCol), "left_semi")
  }

  /** Physical-layer invariants for a persisted vector index — the
    * InvertedIndex.auditFrame discipline applied to the catalog's own
    * artifact (artifact column `vector`), one row per invariant with a
    * violation count, each ONE aggregation over the stores:
    *  - keymap_mirrors_data: the key→partition sidecar holds exactly the
    *    data's distinct (key, partition values) relation — the steady-
    *    state form of the superset invariant (extra entries are legal
    *    only inside a crash window, so a standing surplus is drift);
    *  - one_row_per_key: at most one physical row per key (both merge
    *    modes keep a single winner — a duplicate means a discovery miss
    *    let a stale row survive a move);
    *  - norm_matches_embedding: the stored vec_norm equals the same
    *    kernel recomputed over the stored vector (exact equality — one
    *    sequential per-row pass, bit-deterministic for equal input).
    * Reads the PHYSICAL layer: pending tombstones are the read path's
    * masking business and violate none of these.
    *
    * READ-ONLY (the fetchByIds rule): an index with no keymap has no
    * sidecar to drift — keymap_mirrors_data reports 0 against the
    * data-derived relation itself instead of backfilling one as a side
    * effect of a read. [[graft.sources.MinhashIndex.indexAudit]]
    * ensures the fleet's keymap explicitly first, so the declared audit
    * always checks a REAL sidecar. */
  def auditFrame(spark: SparkSession, basePath: String, name: String,
                 keyCol: String = "vec_id"): DataFrame = {
    val partitionCols = partitionLayout(basePath, name)
    val data = loadRaw(spark, basePath, name)
    def row(inv: String, violations: org.apache.spark.sql.Column,
            from: DataFrame): DataFrame =
      from.agg(coalesce(violations, lit(0L)).as("violations"))
        .select(lit("vector").as("artifact"), lit(inv).as("invariant"),
          col("violations"))
    val dataLocs = data
      .select(col(keyCol) +:
        partitionCols.map(c => col(c).cast("string").as(c)): _*)
      .distinct().withColumn("d", lit(1))
    val kmLocs =
      if (hasKeymap(basePath, name))
        spark.read.parquet(keymapDir(basePath, name).toString)
          .drop("kbucket").withColumn("m", lit(1))
      else dataLocs.withColumnRenamed("d", "m") // no sidecar, nothing drifted
    val mirrorCmp = dataLocs.join(kmLocs,
      (keyCol +: partitionCols).toIndexedSeq, "full_outer")
    val a1 = row("keymap_mirrors_data",
      sum(when(col("d").isNull || col("m").isNull, 1L).otherwise(0L)), mirrorCmp)
    val a2 = row("one_row_per_key",
      sum(when(col("cnt") > 1, 1L).otherwise(0L)),
      data.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt")))
    val renormed = KnnSearch.withNorm(
      data.withColumnRenamed("vec_norm", "stored_norm"))
    val a3 = row("norm_matches_embedding",
      sum(when(col("stored_norm") =!= col("vec_norm"), 1L).otherwise(0L)),
      renormed)
    a1.unionByName(a2).unionByName(a3)
  }

  /** `describe_index_stats` (`debug-commands.txt:10-12`): vector counts per
    * namespace — partition pruning makes this a metadata-sized scan; with
    * `namespace` set, a single-directory scan. */
  def describeStats(spark: SparkSession, basePath: String, name: String,
                    namespace: Option[Int] = None): DataFrame = {
    val idx = load(spark, basePath, name)
    namespace.fold(idx)(ns => idx.filter(col("label") === ns))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("label"))
  }

}
