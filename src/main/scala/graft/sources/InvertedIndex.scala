package graft.sources

import java.nio.file.{Files, Paths}

import graft.Tables
import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted INVERTED INDEX for keyword retrieval — the lexical twin of
  * the persisted IVF layout (`IndexCatalog`): where the vector index
  * partitions by centroid bucket so a query reads nprobe directories,
  * the text index partitions posting lists by a TERM-HASH bucket so a
  * query reads only the directories its terms hash into. q_bm25 computes
  * df/N/avgdl from the corpus at query time (one full tokenize pass per
  * query); q_bm25_indexed pays that pass ONCE at build and serves every
  * later query from |query terms| bucket directories — identical results
  * (same oracle), different access path, exactly the q_ann_ivf →
  * q_ann_ivf_persisted relationship.
  *
  * Layout under `IndexCatalog.cacheBase(dir)/docs-inverted/`:
  *  - `data/tbucket=<b>/` — postings (w, doc_id, tf, dl); dl is
  *    denormalized per posting (immutable per doc), df is NOT — a term's
  *    df changes whenever ANY doc containing it arrives, so denormalizing
  *    df would turn every upsert into a rewrite of every touched term's
  *    full posting list (the reason real engines keep a term dictionary)
  *  - `dict/tbucket=<b>/` — the term dictionary (w, df), partitioned by
  *    the SAME term-hash bucket as the postings: a dict merge (upsert's
  *    df increments, vacuum's decrements) dynamic-overwrites only the
  *    batch's touched term buckets, never the whole dictionary. This
  *    matters most for the GRAM index (`docs-gram-inverted`), whose
  *    shingle vocabulary grows ~corpus-proportionally (df ≤ 25 by
  *    construction) — a flat dict made every trigger's dict I/O corpus-
  *    proportional through one writer task; bucketed, it is ∝ the
  *    batch's term buckets, the same discipline the postings always had
  *  - `stats/` — one row (n, avgdl), the corpus constants
  *  - `_text_index.json` — descriptor, written AFTER the data (the
  *    createIfAbsent killed-build discipline: a half-built index is
  *    invisible and rebuilt on the next call)
  *
  * 100 TB: the build is one tokenize-explode + one (doc, term) count
  * shuffle + the df re-aggregation — corpus-linear, offline, amortized
  * over every query served. A query computes its terms' buckets
  * DRIVER-SIDE (|terms| hashes — metadata, the probe-selection
  * discipline), reads those directories under partition pruning with the
  * term equality pushed to Parquet, and scores |postings of query terms|
  * rows: cost ∝ term selectivity, independent of corpus size. Skewed
  * (stopword-grade) terms concentrate in single buckets — the df-cap /
  * stopword-strip a production build applies first is the same hot-gram
  * discipline the dedup family documents. */
object InvertedIndex {

  /** Term-hash partition fanout. 32 keeps directory count civil at test
    * scale; a 100 TB corpus raises it so each bucket's posting shard
    * stays executor-sized (the shuffle-partition sizing rule applied to
    * layout). */
  val TermBuckets = 32

  val IndexName = "docs-inverted"

  /** Doc-length sidecar — `lens/dbucket=<b>/` rows of (doc_id, dl), one
    * per doc, the Lucene norms-file analog. It exists so a DELETE by id
    * can decrement the exact-integer corpus stats without scanning
    * postings (a doc's length is unreachable from a term-partitioned
    * layout without a full scan). Partitioned by the SAME doc-id hash as
    * the footprint sidecar (v4 — it was a flat directory before, read in
    * full by every delete batch: a corpus-sized store scanned per batch
    * while the dbucket discipline sat one directory over): delete-time
    * reads prune to the batch ids' dbucket shards, vacuum folds only the
    * touched shards, and upsert appends ∝ batch into its shards.
    * Maintained at build, appended by upsert, folded by vacuum. */
  private[sources] def lensPathOf(layout: Layout): String = pathOf(layout, Lens)

  /** Doc-level tombstones (doc_id) — the Lucene deleted-docs discipline:
    * a delete writes ids here (batch-proportional metadata), the read
    * path masks them, vacuum folds them into the physical layout. */
  private[sources] def tombDirOf(layout: Layout): java.nio.file.Path =
    Paths.get(layout.dataPath).getParent.resolve("deletes")

  /** Doc-hash partition fanout of the FOOTPRINT sidecar — sized like
    * [[TermBuckets]]: raise it at production scale so each shard stays
    * executor-sized. */
  val DocBuckets = 32

  private[graft] def dbucketCol(docId: org.apache.spark.sql.Column) =
    pmod(xxhash64(docId), lit(DocBuckets.toLong))

  /** Doc→tbucket FOOTPRINT sidecar — `footprint/dbucket=<b>/` rows of
    * (doc_id, tbucket) distinct pairs, partitioned by a doc-id hash. It
    * answers the one question a term-partitioned layout cannot answer
    * cheaply: "which term buckets does this batch of doc_ids touch?" —
    * the discovery step of delete-side maintenance. Without it, vacuum's
    * dead-posting discovery scanned the WHOLE posting store; with it,
    * discovery reads doc-level metadata pruned to the batch ids' dbucket
    * shards, and the posting scan that follows is pruned to the touched
    * term buckets. Maintained at build, appended by upsert (batch-
    * proportional), folded by vacuum (touched-dbucket dynamic
    * overwrite). The Lucene analog is the per-doc term-vector file. */
  private[sources] def footprintPathOf(layout: Layout): String =
    pathOf(layout, Footprint)

  /** Per-term IMPACT-BOUND sidecar — `impacts/tbucket=<b>/` rows of
    * (w, tf_max, dl_min), the Lucene per-segment max-impact metadata that
    * makes MaxScore/WAND-style top-k pruning possible ([[bm25MaxScore]]):
    * the BM25 tf-saturation part is monotone increasing in tf and
    * decreasing in dl, so impact(tf_max, dl_min) upper-bounds every
    * posting's contribution UNDER ANY avgdl. NOT written at build: the
    * first upsert, MaxScore plan or audit backfills it from the stored
    * postings. Max/min-merged by upsert (exact for add-only), left
    * VALID-but-stale by delete (an upper bound over a superset still
    * bounds the subset), refreshed exactly for the touched buckets by
    * vacuum — the per-segment-static impact discipline. */
  private[sources] def impactsPathOf(layout: Layout): String =
    pathOf(layout, Impacts)

  private[sources] def hasParquet(dir: java.nio.file.Path): Boolean =
    Files.exists(dir) && {
      val s = Files.list(dir)
      try s.anyMatch(p => p.toString.endsWith(".parquet"))
      finally s.close()
    }

  private[graft] def bucketCol(term: org.apache.spark.sql.Column) =
    pmod(xxhash64(term), lit(TermBuckets.toLong))

  /** DRIVER-SIDE twin of [[bucketCol]] — the same Catalyst XxHash64
    * kernel evaluated eagerly (seed 42, Spark's xxhash64 default), so a
    * query's ≤|terms| bucket ids are computed in nanoseconds instead of
    * a one-row Spark job per request. Bit-parity with the column form is
    * spec-gated over every distinct corpus term (a divergence would make
    * the pruned scan silently miss a term's bucket). Serving-latency
    * math: the old `terms.toDF.collect()` cost one scheduler round-trip
    * (~50–100 ms at local concurrency) before any data was touched — on
    * the serve path that job WAS the floor. */
  private[graft] def bucketOf(term: String): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    ((h % TermBuckets) + TermBuckets) % TermBuckets
  }

  private[graft] def bucketsOf(terms: Seq[String]): Seq[Long] =
    terms.distinct.map(bucketOf).distinct.sorted

  /** The index's on-disk locations. */
  case class Layout(dataPath: String, dictPath: String, statsPath: String)

  /** Postings + doc-length frame for a batch of documents — the one
    * tokenize pipeline build and upsert share (a drift between them would
    * silently corrupt df/tf merges). The feature extractor is a
    * parameter so the WORD index (`docs-inverted`, BM25 keyword search)
    * and the GRAM index (`docs-gram-inverted`, near-dup retrieval — the
    * q_fusion_tune-chosen arm served) ride one build/merge pipeline. */
  private def postingsOfWith(docs: DataFrame,
                             tok: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : (DataFrame, DataFrame) = {
    val toks = docs.select(col("doc_id"), tok(col("text")).as("t"))
    val lens = toks.select(col("doc_id"), size(col("t")).as("dl"))
    val tf = toks.select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    (tf.join(lens, "doc_id"), lens)
  }

  /** Build the index if absent. */
  def ensure(spark: SparkSession, dir: String): Layout =
    ensureWith(spark, dir, IndexName, "word")

  private def markerOf(base: String, name: String) =
    Paths.get(base, name, "_text_index.json")

  /** The on-disk layout generation this code writes. Bumped when the
    * physical layout changes shape (v2: tbucket-partitioned dict; v3:
    * positional sidecar for word indexes; v4: dbucket-partitioned lens
    * sidecar; v5: prefix-partitioned dictlex sidecar for word indexes;
    * v6: deletion-neighborhood dictdel sidecar for word indexes; v7:
    * reversed-term dictrev sidecar for word indexes);
    * an older marker self-heals by rebuild, so a stale cache can never
    * feed new readers a layout they no longer parse. */
  private val DictFormatVersion = 7

  /** PREFIX-ORDERED dictionary sidecar — `dictlex/p2=<cc>/` rows of
    * (w, len), partitioned by the term's FIRST TWO CHARACTERS (word
    * indexes only): the FST analog for multi-term expansion. The main
    * dict partitions by term HASH (so df merges ride the postings' own
    * bucket discipline), which is exactly the layout a PREFIX cannot
    * prune — Lucene walks a sorted FST instead; this sidecar is that
    * sorted access path as a partition scheme. [[expandPrefix]] reads
    * only the partitions whose p2 can begin with the prefix (plan-time
    * PartitionFilters), [[expandFuzzy]] restricts its levenshtein scan
    * to the length band |len−|q||≤maxEdits (a provable superset of the
    * matches — each unit-cost edit changes length by ≤1) through the
    * stored len column. Holds KEYS only (no df — expansion needs
    * membership; scoring re-reads df from the dict with the tombstone
    * correction), so maintenance is set-maintenance: a pure function of
    * the dict's key set, merged per touched p2 partition on every dict
    * merge, rebuilt by [[rebuildDerived]].
    * The empty-string term (empty text tokenizes to one "" token) maps
    * to a sentinel partition so no partition value is empty/null. */
  private[sources] def dictLexPathOf(layout: Layout): String =
    pathOf(layout, DictLex)

  private val LexEmptySentinel = "~empty~"

  private[sources] def lexP2Col(w: org.apache.spark.sql.Column) =
    when(length(w) === 0, lit(LexEmptySentinel)).otherwise(substring(w, 1, 2))

  /** (w, len, p2) lex rows for a set of dictionary keys. */
  private def lexRowsOf(keys: DataFrame): DataFrame =
    keys.select(col("w"), length(col("w")).as("len"),
      lexP2Col(col("w")).as("p2"))

  /** REVERSED-TERM sidecar — `dictrev/r2=<p>/` rows of (w, rw =
    * reverse(w)), partitioned by the REVERSED key's 2-char prefix: the
    * classical leading-wildcard mitigation (Lucene ships it as
    * ReverseStringFilter + ReversedWildcardFilter — index the reversed
    * term, rewrite `*tion` as `noit*` against it). A leading-wildcard
    * pattern has no literal prefix to prune the lex walk with, but its
    * literal SUFFIX reversed IS a prefix of rw, so expansion prunes by
    * a StartsWith(r2) partition filter exactly like [[prefixCandidates]]
    * instead of walking the whole vocabulary-scale lex store (the r17
    * documented caveat, now closed for any pattern with ≥1 trailing
    * literal; `*x*` keeps the honest full walk). Like dictlex this
    * holds KEYS only and is a pure function of the dict's key set: a
    * term's reverse lands in ONE r2 partition, so maintenance follows
    * the lex sidecar's touched-partition merge discipline (NOT
    * dictdel's append-dominant form — there is no fanout here), rebuilt
    * by [[rebuildDerived]]. */
  private[sources] def dictRevPathOf(layout: Layout): String =
    pathOf(layout, DictRev)

  private[sources] def revP2Col(w: org.apache.spark.sql.Column) =
    when(length(w) === 0, lit(LexEmptySentinel))
      .otherwise(substring(reverse(w), 1, 2))

  /** (w, rw, r2) reversed rows for a set of dictionary keys. */
  private def revRowsOf(keys: DataFrame): DataFrame =
    keys.select(col("w"), reverse(col("w")).as("rw"),
      revP2Col(col("w")).as("r2"))

  /** The index tree root — where the cross-process writer lease lives
    * ([[WriterLease]]: every maintenance entry point below wraps itself
    * in it; reads never take it). */
  private def leaseRoot(layout: Layout): java.nio.file.Path =
    Paths.get(layout.dataPath).getParent

  /** DELETION-NEIGHBORHOOD sidecar — `dictdel/vbucket=<b>/` rows of
    * (v, w) where v ranges over w's deletion variants at ≤[[MaxDeletes]]
    * character deletions (including w itself), partitioned by v's hash
    * (the term-bucket function on the VARIANT key). The SymSpell
    * discipline (Garbe's symmetric-delete spelling correction, the same
    * candidate algebra Lucene 4's FuzzyTermsEnum replaced its n-gram
    * walk with): if lev(w, q) ≤ d then an optimal alignment matches
    * m ≥ max(|w|,|q|) − d characters, so deleting the unmatched ones
    * from each side (≤ d deletions each) reaches a COMMON string —
    * deletes(w, d) ∩ deletes(q, d) ≠ ∅. A fuzzy query therefore reads
    * ONLY the buckets of q's own deletion variants (a per-request
    * constant: Σ C(|q|, i) for i ≤ d strings) and verifies the candidate
    * terms with one exact levenshtein — candidates ∝ the true typo
    * neighborhood, never ∝ the vocabulary or a length band of it. Like
    * dictlex this holds KEYS only and is a pure function of the dict's
    * key set: merged per touched vbucket on every dict merge
    * ([[mergeDelPartitions]] inside [[mergeDictBuckets]] — covers upsert
    * AND vacuum), rebuilt by [[rebuildDerived]]. Storage is the
    * documented SymSpell trade: ~Σ C(|w|, ≤2) ≈ |w|²/2 rows per term — vocabulary-scale metadata
    * (the Heaps budget), nowhere near posting-scale. */
  private[sources] def dictDelPathOf(layout: Layout): String =
    pathOf(layout, DictDel)

  /** The deletion depth the sidecar is built at — matches Lucene's
    * FuzzyQuery ceiling (maxEdits ≤ 2); a request above it falls back to
    * the length-band scan, which is correct at any distance. */
  private[graft] val MaxDeletes = 2

  /** All strings reachable from `s` by at most `maxDeletes` single-
    * character deletions, INCLUDING s itself (the 0-deletion variant —
    * required so an exact-match candidate is found through the same
    * join). Deterministic and engine-independent: pure string algebra,
    * so the executor-side derivation (sidecar build) and the driver-side
    * derivation (query variants) cannot disagree. */
  private[graft] def deleteVariants(s: String, maxDeletes: Int): Seq[String] = {
    val all = scala.collection.mutable.LinkedHashSet(s)
    var frontier: Set[String] = Set(s)
    var d = 0
    while (d < maxDeletes) {
      frontier = frontier.flatMap(w =>
        (0 until w.length).map(i => w.substring(0, i) + w.substring(i + 1)))
      all ++= frontier
      d += 1
    }
    all.toSeq
  }

  /** Column form of [[deleteVariants]] at [[MaxDeletes]] — a Scala UDF,
    * acceptable here because it runs on MAINTENANCE paths only (build,
    * touched-partition merge, repair, audit recompute), never per
    * request: the query side evaluates [[deleteVariants]] driver-side in
    * nanoseconds (|q| is a word, not a corpus). */
  private val delVariantsUdf =
    udf((w: String) => deleteVariants(w, MaxDeletes))

  /** (v, w) deletion-variant rows for a set of dictionary keys. */
  private[sources] def delRowsOf(keys: DataFrame): DataFrame =
    keys.select(explode(delVariantsUdf(col("w"))).as("v"), col("w"))

  /** Positional-posting sidecar — `positions/tbucket=<b>/` rows of
    * (w, doc_id, pos), the Lucene positions file: what PHRASE queries
    * need and the tf-only postings cannot answer. Word indexes carry it
    * from build (v3); the gram index skips it (phrase-over-shingles is
    * meaningless). Token-occurrence-proportional by nature — the
    * documented cost every positional index pays. Maintained by upsert
    * (pure append ∝ batch) and vacuum (touched-bucket fold: a doc's
    * positions live in the same term buckets as its postings, so the
    * footprint-derived touched set covers both stores). */
  private[sources] def positionsPathOf(layout: Layout): String =
    pathOf(layout, Positions)

  /** Per-doc SQUARED-NORM sidecar — `norms/dbucket=<b>/` rows of
    * (doc_id, n2 = Σ tf²), carried by EMBED-tokenized indexes only
    * ([[graft.sources.EmbedIndex]]): cosine serving needs every doc's
    * ‖e‖² and a term-partitioned layout cannot answer that per-doc
    * question without a corpus-wide re-aggregation per query. The lens
    * discipline applied to the L2 statistic: maintained at build,
    * appended by upsert (a NEW doc's n2 is a pure per-doc batch
    * aggregate), masked by tombstones at read, folded by vacuum,
    * compacted with the other append-only stores, re-derivable from
    * postings (repair). */
  private[sources] def normsPathOf(layout: Layout): String =
    pathOf(layout, Norms)

  /** (doc_id, n2) for a batch's postings — the one aggregation build,
    * upsert, and repair share. */
  private def normsOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("n2"))

  /** (w, doc_id, pos) occurrence stream for a batch — posexplode indices
    * ARE the token positions (0-based). */
  private def positionsOf(docs: DataFrame,
                          tok: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame =
    docs.select(col("doc_id"), posexplode(tok(col("text"))).as(Seq("pos", "w")))
      .select(col("w"), col("doc_id"), col("pos").cast("long").as("pos"))

  // ---- the store declarations -----------------------------------------
  // Every store of the index is declared once below ([[Store]]). Build,
  // backfill, the deep audit, repair and compaction read the
  // declarations; none of them names a store's directory, partition
  // column, derivation or invariant itself.

  /** Postings rows (w, doc_id, tf, dl): at build the tokenizer's output,
    * afterwards the stored postings. */
  private[sources] case object Postings extends Input(None)
  /** The stored postings, tbucket included. */
  private[sources] case object StoredPostings extends Input(None)
  /** One (doc_id, dl) row per doc, from the postings. */
  private[sources] case object DocLens extends Input(None)
  /** The same rows as stored in the lens store. */
  private[sources] case object StoredLens extends Input(Some("lens"))
  /** The stored dict's keys (w). */
  private[sources] case object DictKeys extends Input(Some("dict"))

  private val AllKinds = Set("word", "gram3", "embed16")
  private val WordOnly = Set("word")

  private def byTerm(df: DataFrame): DataFrame =
    df.withColumn("tbucket", bucketCol(col("w")))

  private def byDoc(df: DataFrame): DataFrame =
    df.withColumn("dbucket", dbucketCol(col("doc_id")))

  private[sources] val Data = Store("data", Some("tbucket"), AllKinds,
    appended = true)
  // primary: occurrence order is not derivable from tf, so the audit's
  // positions_match_tf stays a hand-written check
  private[sources] val Positions = Store("positions", Some("tbucket"), WordOnly,
    appended = true)
  // the SAME term hash as the postings: the touched-bucket merge
  // discipline needs both stores on one key
  private[sources] val Dict = Store("dict", Some("tbucket"), AllKinds,
    Some(Derivation(Postings, "dict_df_matches_postings", p => byTerm(
      p.groupBy(col("w")).agg(count(lit(1)).as("df"))))))
  private[sources] val DictLex = Store("dictlex", Some("p2"), WordOnly,
    Some(Derivation(DictKeys, "lex_matches_dict", lexRowsOf)))
  private[sources] val DictRev = Store("dictrev", Some("r2"), WordOnly,
    Some(Derivation(DictKeys, "rev_matches_dict", revRowsOf)))
  // variant-hash partitioned, so a fuzzy query reads only its own
  // variants' buckets
  private[sources] val DictDel = Store("dictdel", Some("vbucket"), WordOnly,
    Some(Derivation(DictKeys, "del_matches_dict", k =>
      delRowsOf(k).withColumn("vbucket", bucketCol(col("v"))))),
    appended = true)
  // a zero-length row is healthy only for a doc without postings (its
  // text yielded no token), which [[storedInput]] keeps
  private[sources] val Lens = Store("lens", Some("dbucket"), AllKinds,
    Some(Derivation(DocLens, "lens_matches_postings", byDoc)), appended = true)
  // (n, total_dl), NOT (n, avgdl): the average is one double division
  // away, and storing the EXACT integer total is what lets an upsert
  // update the stats incrementally without FP drift (n·avgdl does not
  // round-trip to the exact token total). Live: a delete lowers the
  // stats at once, while lens keeps the dead rows until vacuum.
  private[sources] val Stats = Store("stats", None, AllKinds,
    Some(Derivation(StoredLens, "stats_match_lens", l =>
      l.agg(count(lit(1)).as("n"), sum(col("dl")).as("total_dl")), live = true)))
  // tbucket cast long: the partition-inferred int must match the upsert
  // append path, which derives it as a long hash
  private[sources] val Footprint = Store("footprint", Some("dbucket"), AllKinds,
    Some(Derivation(StoredPostings, "footprint_matches_postings", p => byDoc(
      p.select(col("doc_id"), col("tbucket").cast("long").as("tbucket")).distinct()))),
    appended = true)
  // a BOUND of the scorable postings (tombstones masked), not an
  // equality: its purpose is MaxScore validity, and the scorer masks
  // tombstoned rows before ranking, so deletes legitimately leave the
  // bounds stale-but-valid until vacuum or [[refreshImpacts]]
  private[sources] val Impacts = Store("impacts", Some("tbucket"), AllKinds,
    Some(Derivation(StoredPostings, "impacts_bound_postings", p => byTerm(
      p.groupBy(col("w")).agg(max(col("tf")).as("tf_max"), min(col("dl")).as("dl_min"))),
      Bound("w", upper = "tf_max", lower = "dl_min"), live = true)),
    built = false)
  private[sources] val Norms = Store("norms", Some("dbucket"), Set("embed16"),
    Some(Derivation(Postings, "norms_match_postings", p => byDoc(normsOf(p)))),
    appended = true)

  /** Every store: the primaries, then the derived stores in build order
    * (a store reading another derived store comes after it). */
  private val Stores = Seq(Data, Positions, Dict, DictLex, DictRev, DictDel,
    Lens, Stats, Footprint, Impacts, Norms)

  /** The stores an index of `layout`'s tokenizer kind carries. */
  private def storesOf(layout: Layout): Seq[Store] =
    Stores.filter(_.kinds(tokKindOf(layout)))

  private def pathOf(layout: Layout, s: Store): String =
    Store.pathOf(leaseRoot(layout), s)

  /** Input `in` as stored — what backfill, the deep audit and repair
    * derive from. The doc lens rows come from the postings; a doc whose
    * text yields no token (embed16 drops blank tokens) has a zero-length
    * lens row and no posting, so the postings cannot show it: the stored
    * zero-length rows of docs without postings are kept. */
  private def storedInput(read: String => DataFrame, layout: Layout, in: Input): DataFrame =
    in match {
      case Postings | StoredPostings => read(layout.dataPath)
      case DictKeys => read(layout.dictPath).select(col("w"))
      case StoredLens => read(lensPathOf(layout)).select(col("doc_id"), col("dl"))
      case DocLens =>
        val post = read(layout.dataPath)
        val fromPostings = post.select(col("doc_id"), col("dl")).distinct()
        if (!Files.exists(Paths.get(lensPathOf(layout)))) fromPostings
        else fromPostings.unionByName(read(lensPathOf(layout))
          .filter(col("dl") === 0).select(col("doc_id"), col("dl"))
          .join(post.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    }

  /** BACKFILL: publish each of `stores` that is absent, derived from the
    * stored inputs — the path for an index predating a sidecar, for the
    * lazy impacts store, and for a store a crashed repair left missing.
    * Staged move: a killed backfill is invisible and re-derived on the
    * next call. */
  private[sources] def backfill(spark: SparkSession, layout: Layout,
                                stores: Store*): Unit =
    stores.foreach(s => Maintenance.publishIfAbsent(pathOf(layout, s))(
      Store.write(s, s.derive(storedInput(spark.read.parquet(_), layout,
        s.derivation.get.from)), _)))

  /** The tokenizer REGISTRY: every feature extractor an index can be
    * built with, keyed by the name recorded in `_text_index.json`.
    * Maintenance (upsert, streaming, CDC) dispatches from the MARKER, not
    * a caller parameter — so attaching a word-tokenizing maintenance
    * pipeline to the gram index (or vice versa) is structurally
    * impossible, instead of a silent df/stats corruption discovered by an
    * incremental==rebuild hash much later. */
  private[graft] def tokenizerOf(kind: String)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = kind match {
    case "word" => t => split(trim(t), "\\s+")
    case "gram3" => t => graft.operators.Dedup.shingles3(t)
    case "embed16" => graft.operators.EmbedOps.embed16Tokenizer
    case other => throw new IllegalArgumentException(
      s"unknown tokenizer kind '$other' (registry: word, gram3, embed16)")
  }

  /** The tokenizer kind an index was BUILT with, read from its marker.
    * Clones carry the marker (copyTree copies the whole index dir), so a
    * lifecycle query's maintenance dispatches identically to the shared
    * cache's. Markers predating the `tok` field were all word indexes. */
  private[graft] def tokKindOf(layout: Layout): String = {
    val marker = Paths.get(layout.dataPath).getParent.resolve("_text_index.json")
    if (!Files.exists(marker)) "word"
    else """"tok":\s*"(\w+)"""".r.findFirstMatchIn(Files.readString(marker))
      .map(_.group(1)).getOrElse("word")
  }

  private[graft] def ensureWith(spark: SparkSession, dir: String, name: String,
                                tokKind: String): Layout = {
    val base = IndexCatalog.cacheBase(dir)
    val layout = Layout(
      Paths.get(base, name, "data").toString,
      Paths.get(base, name, "dict").toString,
      Paths.get(base, name, "stats").toString)
    // a marker from an older layout generation (flat dict) self-heals:
    // wipe and rebuild, exactly as if the build had been killed half-way
    if (Files.exists(markerOf(base, name)) &&
        !Files.readString(markerOf(base, name))
          .contains(s""""dictv": $DictFormatVersion""")) {
      Maintenance.deleteRecursively(Paths.get(base, name))
    }
    if (!Files.exists(markerOf(base, name))) {
      Files.createDirectories(Paths.get(base, name))
      val tok = tokenizerOf(tokKind)
      val (postings, lens) = postingsOfWith(Tables.documents(spark, dir), tok)
      // the primaries first: footprint and the dict key-set sidecars
      // derive from what is already stored
      Store.write(Data, byTerm(postings), layout.dataPath)
      if (Positions.kinds(tokKind))
        Store.write(Positions, byTerm(positionsOf(Tables.documents(spark, dir), tok)),
          pathOf(layout, Positions))
      def input(in: Input): DataFrame = in match {
        case Postings => postings
        case DocLens | StoredLens => lens
        case stored => storedInput(spark.read.parquet(_), layout, stored)
      }
      Stores.filter(s => s.derivation.isDefined && s.built && s.kinds(tokKind))
        .foreach(s => Store.write(s, s.derive(input(s.derivation.get.from)), pathOf(layout, s)))
      Files.writeString(markerOf(base, name),
        s"""{"name": "$name", "kind": "inverted", "buckets": $TermBuckets, """ +
          s""""tok": "$tokKind", "dictv": $DictFormatVersion}""")
    }
    layout
  }

  /** Q-bm25-indexed: BM25 top-10 for the fixed 3-term query, served from
    * the persisted posting lists. Bucket selection is plan-time metadata
    * (|terms| driver-side hashes → a `tbucket IN (...)` PartitionFilter);
    * the per-term/per-doc arithmetic is IDENTICAL to [[TextOps]] q_bm25 —
    * same expression tree, same operand types (tf/df/n LONG, dl INT,
    * avgdl DOUBLE), same fixed-order pivot assembly — so the shared
    * oracle hash-matches both. */
  def bm25Indexed(spark: SparkSession, dir: String): DataFrame =
    bm25Over(spark, ensure(spark, dir))

  /** BM25 top-k against an arbitrary index layout — shared by the
    * build-then-query path (q_bm25_indexed), the upsert path
    * (q_bm25_upsert) and the hybrid fusion's lexical arm
    * (q_hybrid_indexed), so all serve through literally the same plan.
    * `excludeDoc` drops one doc BEFORE ranking (the hybrid query's
    * "every doc but the query doc" contract). */
  private[graft] def bm25Over(spark: SparkSession, layout: Layout,
                              k: Int = 10,
                              excludeDoc: Option[Long] = None,
                              restrictTo: Option[DataFrame] = None,
                              terms: Seq[String] = TextOps.Bm25Terms,
                              serving: Boolean = false): DataFrame =
    bm25RawScores(spark, layout, excludeDoc, restrictTo, terms, serving)
      .select(col("doc_id"), round(col("raw"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** The UNROUNDED per-doc BM25 sum (doc_id, raw) for a term set — the
    * single scoring pipeline [[bm25Over]] rounds and ranks, and composed
    * scorers (the proximity-boosted [[bm25ProxOver]]) extend BEFORE the
    * one final round, so parity with a one-ROUND oracle holds. */
  private def bm25RawScores(spark: SparkSession, layout: Layout,
                            excludeDoc: Option[Long] = None,
                            restrictTo: Option[DataFrame] = None,
                            terms: Seq[String] = TextOps.Bm25Terms,
                            serving: Boolean = false): DataFrame =
    contribFrame(spark, layout, excludeDoc, restrictTo, terms, serving)
      .groupBy(col("doc_id")).pivot("w", terms).agg(sum(col("s")))
      .select(col("doc_id"),
        terms.map(t => coalesce(col(t), lit(0.0))).reduce(_ + _).as("raw"))

  /** Per-(doc, term) BM25 contributions (doc_id, w, s) for a term set —
    * the single masked/df-corrected/pruned scoring core. [[bm25RawScores]]
    * assembles it with the FIXED-ORDER pivot (cross-engine double-sum
    * parity for a statically-known term list); [[bm25ExpandedOver]]
    * quantizes it to exact longs instead (the order-free discipline a
    * data-dependent expansion set needs). */
  private def contribFrame(spark: SparkSession, layout: Layout,
                           excludeDoc: Option[Long] = None,
                           restrictTo: Option[DataFrame] = None,
                           terms: Seq[String] = TextOps.Bm25Terms,
                           serving: Boolean = false): DataFrame = {
    import spark.implicits._
    val buckets = bucketsOf(terms)
    // serving=true reads the METADATA stores (dict, stats) through the
    // memory-resident [[ServingCache]] — the per-request listing/footer/
    // scan jobs those two reads cost are the latency floor under
    // concurrency (the keymap-cache story applied to the lexical tier;
    // Lucene pins the FST + segment stats on heap the same way).
    // Postings and tombstones are never made resident: the data plane
    // is partition-pruned and batch-sized. They are read through
    // stamp-pinned relations instead — a pin holds the store's file list
    // and schema, not rows, so it costs the same at 100 TB and saves
    // each request the listing and schema-inference job. Staleness
    // rides the stores' stamps — a dict merge, stats swap or posting
    // append moves one, so the very next request reads the new state
    // (spec-gated in ServingCacheSpec).
    def metaFrame(path: String): DataFrame =
      if (serving) ServingCache.frame(spark, Paths.get(path))
      else spark.read.parquet(path)
    // term-filtered postings BEFORE tombstone/exclusion masking: the df
    // correction below must count every stored posting of a query term,
    // exactly as the dict's df counted them at build
    val post0 = ServingCache.pinned(spark, Paths.get(layout.dataPath))
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(terms: _*))
    // pending DELETES (doc-level tombstones, the Lucene deleted-docs
    // read path): mask tombstoned postings from ranking, and correct each
    // SCANNED term's df by its tombstoned-posting count — exact within
    // the pruned scan, because ALL postings of a term live in its term
    // bucket (df is per-term knowledge, and the scan reads the whole
    // term). Corpus stats (n, total_dl) were decremented exactly at
    // delete time from the lens sidecar, so every statistic this query
    // serves equals a from-scratch rebuild over the reduced corpus —
    // the incremental==rebuild contract, pre-vacuum.
    val tombOpt = ServingCache.pinnedIfAny(spark, tombDirOf(layout))
      .map(_.select(col("doc_id")))
    val post1 = tombOpt
      .map(t => post0.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(post0)
      .filter(excludeDoc.map(col("doc_id") =!= _).getOrElse(lit(true)))
    // candidate restriction (the MaxScore path): applied AFTER masking
    // and AFTER the df-correction inputs are fixed — restriction narrows
    // which docs get SCORED, never what df/idf mean
    val post = restrictTo
      .map(c => post1.join(c.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi"))
      .getOrElse(post1)
    // dict read rides the same partition pruning as the postings: the
    // query terms' tbuckets are already plan-time metadata (resident
    // frame in serving mode — the filter applies in memory)
    val dict0 = metaFrame(layout.dictPath)
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(terms: _*))
      .select(col("w"), col("df"))
    val dict = tombOpt.map { t =>
      val dead = post0.join(broadcast(t), Seq("doc_id"))
        .groupBy(col("w")).agg(count(lit(1)).as("ddf"))
      dict0.join(dead, Seq("w"), "left")
        .select(col("w"),
          (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
    }.getOrElse(dict0)
    // avgdl = exact-long total / exact-long count, ONE double division —
    // the same value avg(dl) produces (Spark and DuckDB both sum integer
    // dl exactly and divide once), so oracle parity is preserved
    val stats = metaFrame(layout.statsPath)
      .select(col("n"),
        (col("total_dl").cast("double") / col("n").cast("double")).as("avgdl"))
    post.join(broadcast(dict), "w")
      .crossJoin(broadcast(stats))
      .withColumn("s",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .select(col("doc_id"), col("w"), col("s"))
  }

  /** MaxScore-pruned BM25 top-k (Turtle & Flood's MaxScore, the
    * block-max/WAND family's simplest member) served relationally:
    *
    *  1. per-term score UPPER BOUNDS from the impacts sidecar —
    *     ub(t) = idf(t) · sat(tf_max, dl_min), valid under any avgdl
    *     because the saturation is monotone ↑tf, ↓dl. ≤|terms| rows of
    *     (df, tf_max, dl_min) metadata cross the driver, never postings;
    *  2. a THRESHOLD θ = the k-th full score among docs containing the
    *     highest-ub term (one restricted scoring pass over that term's
    *     posting list);
    *  3. the ESSENTIAL prefix E of the ub-descending term order — the
    *     smallest prefix with Σ_{t∉E} ub(t) < θ − ε. A doc containing
    *     only non-essential terms scores ≤ that sum, strictly below the
    *     k-th achieved score, so it cannot enter the top-k (ε = 1e-6
    *     absorbs the served scores' 6-decimal rounding);
    *  4. full scoring RESTRICTED to docs holding ≥1 essential term.
    *
    * Exactness: every true top-k doc scores ≥ θ (θ is achieved by k
    * docs), a non-candidate scores < θ, and all candidates are ranked by
    * the same (score, doc_id) order as the unpruned plan — so the result
    * equals [[bm25Over]] bit-for-bit and SHARES q_bm25's oracle. The win
    * at scale: the rank/pivot aggregation consumes only the essential
    * terms' doc set instead of every query term's postings — on a long
    * query the non-essential tail (stopword-grade terms with huge
    * postings but tiny ub) never reaches the aggregation. Falls back to
    * the unpruned plan when fewer than k docs hold the top term.
    * Tombstone-safe: ubs use the corrected df and bounds remain upper
    * bounds over the masked subset. */
  private[graft] def maxScorePlan(spark: SparkSession, layout: Layout,
                                  k: Int = 10,
                                  terms: Seq[String] = TextOps.Bm25Terms,
                                  serving: Boolean = false)
      : (Seq[String], DataFrame) = {
    import spark.implicits._
    val buckets = bucketsOf(terms)
    backfill(spark, layout, Impacts)
    // serving mode: the ubs collect below consumes dict⋈impacts⋈stats —
    // three per-request metadata jobs over files; resident frames remove
    // the listing/footer/scan floor exactly as in [[bm25Over]]
    def metaFrame(path: String): DataFrame =
      if (serving) ServingCache.frame(spark, Paths.get(path))
      else spark.read.parquet(path)
    // corrected per-term df — the bm25Over read path's exact arithmetic
    val dict0 = metaFrame(layout.dictPath)
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(terms: _*))
      .select(col("w"), col("df"))
    val tombOpt =
      if (hasParquet(tombDirOf(layout)))
        Some(spark.read.parquet(tombDirOf(layout).toString).select(col("doc_id")))
      else None
    val post0 = spark.read.parquet(layout.dataPath)
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(terms: _*))
    val dict = tombOpt.map { t =>
      val dead = post0.join(broadcast(t), Seq("doc_id"))
        .groupBy(col("w")).agg(count(lit(1)).as("ddf"))
      dict0.join(dead, Seq("w"), "left")
        .select(col("w"),
          (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
    }.getOrElse(dict0)
    val imp = metaFrame(impactsPathOf(layout))
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(terms: _*))
      .select(col("w"), col("tf_max"), col("dl_min"))
    val statsRow = metaFrame(layout.statsPath)
      .select(col("n"),
        (col("total_dl").cast("double") / col("n").cast("double")).as("avgdl"))
      .head()
    val n = statsRow.getLong(0)
    val avgdl = statsRow.getDouble(1)
    val ubs = dict.join(imp, "w").collect().map { r =>
      val w = r.getString(0)
      val df = r.getLong(1)
      val tfMax = r.getLong(2).toDouble
      val dlMin = r.getInt(3).toDouble
      val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
      w -> idf * (tfMax * 2.2) /
        (tfMax + 1.2 * (0.25 + 0.75 * dlMin / avgdl))
    }.toMap
    // ub-descending order, term as the deterministic tie-break; terms the
    // corpus never saw contribute 0 to every score and drop out
    val ordered = terms.filter(ubs.contains).sortBy(t => (-ubs(t), t))
    if (ordered.isEmpty)
      return (terms, bm25Over(spark, layout, k, terms = terms, serving = serving))
    def livePost = tombOpt
      .map(t => post0.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(post0)
    val topDocs = livePost.filter(col("w") === ordered.head).select(col("doc_id"))
    val thetaRows = bm25Over(spark, layout, k, restrictTo = Some(topDocs),
      terms = terms, serving = serving).collect()
    val theta =
      if (thetaRows.length < k) Double.NegativeInfinity
      else thetaRows.last.getDouble(1)
    val e = (1 to ordered.size)
      .find(e0 => ordered.drop(e0).map(ubs).sum < theta - 1e-6)
      .getOrElse(ordered.size)
    val essential = ordered.take(e)
    val cand = livePost.filter(col("w").isin(essential: _*))
      .select(col("doc_id")).distinct()
    (essential,
      bm25Over(spark, layout, k, restrictTo = Some(cand), terms = terms,
        serving = serving))
  }

  /** Q-bm25-maxscore: [[maxScorePlan]] over the shared persisted index —
    * result-identical to q_bm25/q_bm25_indexed (shared oracle), computed
    * with the pruned candidate set. */
  def bm25MaxScore(spark: SparkSession, dir: String): DataFrame =
    maxScorePlan(spark, ensure(spark, dir))._2

  /** A SECOND, four-term query set — the generality witness: q_bm25 and
    * its index-served twins are not a hard-wired demo, the same persisted
    * layout answers ANY term set through the same parameterized plan
    * (bucket selection, df correction, pivot parity all term-driven). */
  val Bm25Terms2 = Seq("merge", "group", "customer", "scan")

  /** Q-bm25-query2: the second query set served from the SHARED index —
    * one build, any query. Oracle = the parameterized builder
    * ([[TextOps.bm25SqlFor]]) instantiated for this set. */
  def bm25Query2(spark: SparkSession, dir: String): DataFrame =
    bm25Over(spark, ensure(spark, dir), terms = Bm25Terms2)

  /** The fixed two-word phrase the declared query serves — both words are
    * [[TextOps.Bm25Terms]] members, so q_phrase is literally the phrase
    * refinement of the keyword query (matches at every SF: 28–303 docs). */
  val PhraseW1 = "vector"
  val PhraseW2 = "hash"

  /** Exact PHRASE match over the positional sidecar — the query class
    * tf-only postings cannot answer (Lucene PhraseQuery; the capability
    * keyword retrieval engines add positions to their postings FOR).
    * Access path: both words' tbuckets are plan-time metadata (pruned
    * scan + pushed term filter, the bm25Over discipline), tombstoned docs
    * masked, then adjacency is ONE equi-join on (doc_id, pos) — w2's
    * positions shifted by −1, so "pos and pos+1" is a hash join key, not
    * a range condition. phrase_tf = matched-adjacency count per doc.
    * Work ∝ the two words' position lists, never the corpus. */
  private[graft] def phraseOver(spark: SparkSession, layout: Layout,
                                words: Seq[String], k: Int = 10): DataFrame = {
    require(words.size >= 2, "a phrase is at least two words")
    import spark.implicits._
    val buckets = bucketsOf(words)
    val pos0 = spark.read.parquet(positionsPathOf(layout))
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(words.distinct: _*))
    val tombDir = tombDirOf(layout)
    val pos =
      if (hasParquet(tombDir))
        pos0.join(broadcast(
          spark.read.parquet(tombDir.toString).select(col("doc_id"))),
          Seq("doc_id"), "left_anti")
      else pos0
    // word i's positions shifted by −i: a doc holds the phrase at start p
    // iff every word agrees on the shifted key — n−1 equi-joins on
    // (doc_id, pos), each a hash join over the pruned position lists.
    // Duplicate words compose correctly (the shifted self-join finds
    // adjacent repeats).
    words.zipWithIndex.map { case (w, i) =>
        pos.filter(col("w") === w)
          .select(col("doc_id"), (col("pos") - i.toLong).as("pos"))
      }
      .reduce((a, b) => a.join(b, Seq("doc_id", "pos")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("phrase_tf"))
      .orderBy(col("phrase_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** Q-phrase: exact phrase search served from the shared persisted
    * index's positional sidecar. The oracle replays token positions from
    * raw text — the sidecar must add nothing and lose nothing. */
  def phraseIndexed(spark: SparkSession, dir: String): DataFrame =
    phraseOver(spark, ensure(spark, dir), Seq(PhraseW1, PhraseW2))

  /** Token-gap window of the declared proximity query: w2 within
    * [[PhraseSlop]] intervening tokens after w1 (slop 0 ≡ exact
    * phrase — the degeneracy is spec-gated). */
  val PhraseSlop = 2

  /** PROXIMITY search over the positional sidecar — Lucene's
    * PhraseQuery~n for the two-word case: count ordered occurrence
    * pairs (p1, p2) with w1 at p1, w2 at p2, 0 < p2 − p1 ≤ slop + 1.
    * Same pruned access path as [[phraseOver]] (both words' tbuckets
    * are plan-time metadata, tombstones masked); the pair match is a
    * doc_id hash join with the gap window as a residual range
    * predicate — per-doc position lists of two SPECIFIC terms are
    * term-selectivity-bounded, so the residual never sees a corpus-
    * sized cross product. Work ∝ the two words' position lists. */
  private[graft] def proximityOver(spark: SparkSession, layout: Layout,
                                   w1: String, w2: String, slop: Int,
                                   k: Int = 10): DataFrame = {
    import spark.implicits._
    val words = Seq(w1, w2).distinct
    val buckets = bucketsOf(Seq(w1, w2))
    val pos0 = spark.read.parquet(positionsPathOf(layout))
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(words: _*))
    val tombDir = tombDirOf(layout)
    val pos =
      if (hasParquet(tombDir))
        pos0.join(broadcast(
          spark.read.parquet(tombDir.toString).select(col("doc_id"))),
          Seq("doc_id"), "left_anti")
      else pos0
    val p1 = pos.filter(col("w") === w1)
      .select(col("doc_id").as("doc_a"), col("pos").as("p1"))
    val p2 = pos.filter(col("w") === w2)
      .select(col("doc_id").as("doc_b"), col("pos").as("p2"))
    p1.join(p2, col("doc_a") === col("doc_b") &&
        col("p2") - col("p1") >= 1L && col("p2") - col("p1") <= (slop + 1).toLong)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("prox_tf"))
      .orderBy(col("prox_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** Q-phrase-slop: within-[[PhraseSlop]] proximity for the fixed word
    * pair, served from the positional sidecar. The oracle replays the
    * gap-window pair count from raw text (the q_phrase discipline). */
  def phraseSlop(spark: SparkSession, dir: String): DataFrame =
    proximityOver(spark, ensure(spark, dir), PhraseW1, PhraseW2, PhraseSlop)

  val phraseSlopSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |              FROM documents),
       |m AS (SELECT doc_id,
       |        CAST(list_sum(list_transform(range(1, len(t)+1),
       |          i -> CASE WHEN t[i] = '$PhraseW1'
       |               THEN len(list_filter(
       |                 range(i+1, least(i+${PhraseSlop + 2}, len(t)+1)),
       |                 j -> t[j] = '$PhraseW2'))
       |               ELSE 0 END)) AS BIGINT) AS prox_tf
       |      FROM toks)
       |SELECT doc_id, prox_tf FROM m WHERE prox_tf > 0
       |ORDER BY prox_tf DESC, doc_id LIMIT 10""".stripMargin

  /** UNORDERED proximity — Lucene's `"w1 w2"~n` transposition-tolerant
    * semantics: count occurrence pairs with 1 ≤ |p2 − p1| ≤ slop + 1,
    * either order ("hash vector" matches as readily as "vector hash").
    * Same pruned access path as [[proximityOver]]; the ordered count is
    * a subset by construction (containment spec-gated). Distinct words
    * only — a self-pair would count twice, once from each side. */
  private[graft] def proximityUnorderedOver(spark: SparkSession, layout: Layout,
                                            w1: String, w2: String, slop: Int,
                                            k: Int = 10): DataFrame = {
    require(w1 != w2, "unordered proximity needs two distinct words")
    val buckets = bucketsOf(Seq(w1, w2))
    val pos0 = spark.read.parquet(positionsPathOf(layout))
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(w1, w2))
    val tombDir = tombDirOf(layout)
    val pos =
      if (hasParquet(tombDir))
        pos0.join(broadcast(
          spark.read.parquet(tombDir.toString).select(col("doc_id"))),
          Seq("doc_id"), "left_anti")
      else pos0
    val p1 = pos.filter(col("w") === w1)
      .select(col("doc_id").as("doc_a"), col("pos").as("p1"))
    val p2 = pos.filter(col("w") === w2)
      .select(col("doc_id").as("doc_b"), col("pos").as("p2"))
    p1.join(p2, col("doc_a") === col("doc_b") &&
        abs(col("p2") - col("p1")) >= 1L &&
        abs(col("p2") - col("p1")) <= (slop + 1).toLong)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("prox_tf"))
      .orderBy(col("prox_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** Q-phrase-slop-unordered: the transposition-tolerant form of the
    * fixed proximity query. Oracle replays the bidirectional gap window
    * from raw text (the q_phrase_slop template, both directions). */
  def phraseSlopUnordered(spark: SparkSession, dir: String): DataFrame =
    proximityUnorderedOver(spark, ensure(spark, dir), PhraseW1, PhraseW2, PhraseSlop)

  val phraseSlopUnorderedSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |              FROM documents),
       |m AS (SELECT doc_id,
       |        CAST(list_sum(list_transform(range(1, len(t)+1),
       |          i -> CASE WHEN t[i] = '$PhraseW1'
       |               THEN len(list_filter(
       |                 range(greatest(i-${PhraseSlop + 1}, 1),
       |                       least(i+${PhraseSlop + 2}, len(t)+1)),
       |                 j -> j <> i AND t[j] = '$PhraseW2'))
       |               ELSE 0 END)) AS BIGINT) AS prox_tf
       |      FROM toks)
       |SELECT doc_id, prox_tf FROM m WHERE prox_tf > 0
       |ORDER BY prox_tf DESC, doc_id LIMIT 10""".stripMargin

  /** PROXIMITY-WEIGHTED BM25 — the scoring form of the slop family: the
    * standard two-term BM25 sum plus a boost ∝ 1/gap for every ordered
    * in-window pair (gap = p2 − p1 ∈ [1, slop+1]), so documents where
    * the words sit CLOSE rank above equal-BM25 documents where they
    * merely co-occur (the positional-scoring idea behind Lucene's
    * PhraseQuery boosts and Clarke et al.'s term-proximity evidence).
    * Oracle-parity discipline for the boost: pairs are GROUPED BY GAP
    * first (exact long counts — there are only slop+1 gap values), then
    * the score adds count_g / g in one fixed order, so double addition
    * associates identically in both engines (the q_bm25 pivot rule; a
    * raw Σ 1/gap over pairs would be accumulation-order-dependent).
    * Access path: postings-pruned BM25 ([[bm25RawScores]]) + the
    * positions-pruned pair join ([[proximityOver]]'s) — both ∝ the two
    * words' lists, never the corpus. */
  private[graft] def bm25ProxOver(spark: SparkSession, layout: Layout,
                                  w1: String, w2: String, slop: Int,
                                  k: Int = 10): DataFrame = {
    val gaps = (1 to slop + 1).toSeq
    val buckets = bucketsOf(Seq(w1, w2))
    val pos0 = spark.read.parquet(positionsPathOf(layout))
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(w1, w2))
    val tombDir = tombDirOf(layout)
    val pos =
      if (hasParquet(tombDir))
        pos0.join(broadcast(
          spark.read.parquet(tombDir.toString).select(col("doc_id"))),
          Seq("doc_id"), "left_anti")
      else pos0
    val p1 = pos.filter(col("w") === w1)
      .select(col("doc_id").as("doc_a"), col("pos").as("p1"))
    val p2 = pos.filter(col("w") === w2)
      .select(col("doc_id").as("doc_b"), col("pos").as("p2"))
    val gapAggs = gaps.map(g =>
      sum(when(col("g") === g.toLong, 1L).otherwise(0L)).as(s"g$g"))
    val gapCounts = p1.join(p2, col("doc_a") === col("doc_b") &&
        col("p2") - col("p1") >= 1L && col("p2") - col("p1") <= (slop + 1).toLong)
      .select(col("doc_a").as("doc_id"), (col("p2") - col("p1")).as("g"))
      .groupBy(col("doc_id"))
      .agg(gapAggs.head, gapAggs.tail: _*)
    val boost = gaps.map(g => coalesce(col(s"g$g"), lit(0L)) / lit(g.toDouble))
    bm25RawScores(spark, layout, terms = Seq(w1, w2))
      .join(gapCounts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(boost.foldLeft(col("raw"))(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Q-bm25-prox: the fixed pair's proximity-weighted ranking served
    * from the shared index (postings + positions). Oracle: the
    * parameterized BM25 replay plus the same gap-bucketed boost from
    * raw text, one ROUND at the end. */
  def bm25Prox(spark: SparkSession, dir: String): DataFrame =
    bm25ProxOver(spark, ensure(spark, dir), PhraseW1, PhraseW2, PhraseSlop)

  val bm25ProxSql: String = {
    val base = TextOps.bm25SqlFor(Seq(PhraseW1, PhraseW2))
    val tail = "SELECT doc_id, ROUND(s1 + s2, 6) AS score FROM piv\nORDER BY score DESC, doc_id LIMIT 10"
    require(base.contains(tail), "bm25SqlFor tail shape changed — update bm25ProxSql")
    val gapCols = (1 to PhraseSlop + 1).map { g =>
      s"""        CAST(list_sum(list_transform(range(1, len(t)+1),
         |          i -> CASE WHEN t[i] = '$PhraseW1' AND t[i+$g] = '$PhraseW2'
         |               THEN 1 ELSE 0 END)) AS BIGINT) AS g$g""".stripMargin
    }.mkString(",\n")
    val boost = (1 to PhraseSlop + 1)
      .map(g => s"COALESCE(x.g$g, 0) / $g.0").mkString(" + ")
    base.replace(tail,
      s"""prox AS (SELECT doc_id,
         |$gapCols
         |  FROM toks)
         |SELECT p.doc_id, ROUND(s1 + s2 + $boost, 6) AS score
         |FROM piv p LEFT JOIN prox x ON p.doc_id = x.doc_id
         |ORDER BY score DESC, p.doc_id LIMIT 10""".stripMargin)
      .replace("  FROM contrib GROUP BY doc_id)\nprox AS",
        "  FROM contrib GROUP BY doc_id),\nprox AS")
  }

  /** The declared boolean query: (vector AND hash) AND NOT merge —
    * both positives are [[TextOps.Bm25Terms]] members, the negative is
    * [[Bm25Terms2]]'s head, so the composition reuses corpus terms with
    * non-trivial hit sets at every SF. */
  val BoolMust = Seq("vector", "hash")
  val BoolMustNot = "merge"

  /** BOOLEAN-composed BM25 over the persisted index — the Lucene
    * BooleanQuery shape (MUST / MUST_NOT) the flat term-set scorer
    * cannot express: docs holding ALL `must` terms and NONE of the
    * `mustNot` terms, ranked by BM25 over the `must` terms (idf stays
    * corpus-level — a boolean FILTER narrows who gets scored, never
    * what df means, exactly [[bm25Over]]'s restrictTo contract).
    * Access path: must + mustNot tbuckets are plan-time metadata; the
    * presence test is a distinct-count over the must terms' pruned
    * postings, the exclusion one anti-join against the negative term's
    * pruned postings — cost ∝ the query terms' posting lists. */
  private[graft] def bm25Bool(spark: SparkSession, layout: Layout,
                              must: Seq[String], mustNot: Seq[String],
                              k: Int = 10): DataFrame = {
    import spark.implicits._
    val all = (must ++ mustNot).distinct
    val buckets = bucketsOf(all)
    val post0 = spark.read.parquet(layout.dataPath)
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(all: _*))
    val tombOpt =
      if (hasParquet(tombDirOf(layout)))
        Some(spark.read.parquet(tombDirOf(layout).toString).select(col("doc_id")))
      else None
    val post = tombOpt
      .map(t => post0.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(post0)
    val withAll = post.filter(col("w").isin(must: _*))
      .groupBy(col("doc_id")).agg(countDistinct(col("w")).as("nw"))
      .filter(col("nw") === must.size).select(col("doc_id"))
    val cand =
      if (mustNot.isEmpty) withAll
      else withAll.join(
        post.filter(col("w").isin(mustNot: _*)).select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    bm25Over(spark, layout, k, restrictTo = Some(cand), terms = must)
  }

  /** Q-bm25-bool: the fixed MUST/MUST_NOT composition served from the
    * shared index. Oracle: the parameterized BM25 replay filtered by
    * the same presence/exclusion predicates over raw text. */
  def bm25BoolIndexed(spark: SparkSession, dir: String): DataFrame =
    bm25Bool(spark, ensure(spark, dir), BoolMust, Seq(BoolMustNot))

  /** The declared minimum-should-match composition: 4 SHOULD terms,
    * ≥2 must be present. */
  val MsmTerms = Seq("vector", "hash", "join", "merge")
  val MsmMin = 2

  /** MINIMUM-SHOULD-MATCH BM25 — the third Lucene BooleanQuery form
    * (after MUST/MUST_NOT): docs holding at least `m` DISTINCT terms of
    * the SHOULD set, ranked by BM25 over the full set (a doc scores
    * every term it holds once past the gate — Lucene's
    * minimumNumberShouldMatch contract). Like [[bm25Bool]], the gate
    * narrows WHO is scored, never what df/idf mean (the restrictTo
    * contract); presence is one distinct-count over the terms' pruned
    * postings. */
  private[graft] def bm25Msm(spark: SparkSession, layout: Layout,
                             terms: Seq[String], m: Int,
                             k: Int = 10): DataFrame = {
    require(m >= 1 && m <= terms.size, s"minShouldMatch $m out of range")
    val buckets = bucketsOf(terms)
    val post0 = spark.read.parquet(layout.dataPath)
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(terms: _*))
    val post =
      if (hasParquet(tombDirOf(layout)))
        post0.join(broadcast(
          spark.read.parquet(tombDirOf(layout).toString).select(col("doc_id"))),
          Seq("doc_id"), "left_anti")
      else post0
    val cand = post.groupBy(col("doc_id"))
      .agg(countDistinct(col("w")).as("nw"))
      .filter(col("nw") >= m).select(col("doc_id"))
    bm25Over(spark, layout, k, restrictTo = Some(cand), terms = terms)
  }

  /** Q-bm25-msm: the fixed ≥2-of-4 composition served from the shared
    * index. */
  def bm25MsmIndexed(spark: SparkSession, dir: String): DataFrame =
    bm25Msm(spark, ensure(spark, dir), MsmTerms, MsmMin)

  val bm25MsmSql: String = {
    val base = TextOps.bm25SqlFor(MsmTerms)
    val tail = "SELECT doc_id, ROUND(s1 + s2 + s3 + s4, 6) AS score FROM piv\nORDER BY"
    require(base.contains(tail), "bm25SqlFor tail shape changed — update bm25MsmSql")
    base.replace(tail,
      s"""SELECT doc_id, ROUND(s1 + s2 + s3 + s4, 6) AS score FROM piv
         |WHERE doc_id IN (SELECT doc_id FROM tf
         |                 GROUP BY doc_id HAVING COUNT(DISTINCT w) >= $MsmMin)
         |ORDER BY""".stripMargin)
  }

  val bm25BoolSql: String = {
    val base = TextOps.bm25SqlFor(BoolMust)
    val tail = "SELECT doc_id, ROUND(s1 + s2, 6) AS score FROM piv\nORDER BY"
    require(base.contains(tail), "bm25SqlFor tail shape changed — update bm25BoolSql")
    base.replace(tail,
      s"""SELECT doc_id, ROUND(s1 + s2, 6) AS score FROM piv
         |WHERE doc_id IN (SELECT doc_id FROM tf
         |                 GROUP BY doc_id HAVING COUNT(DISTINCT w) = ${BoolMust.size})
         |  AND doc_id NOT IN (SELECT doc_id
         |                     FROM (SELECT doc_id, unnest(t) AS w FROM toks) u
         |                     WHERE u.w = '$BoolMustNot')
         |ORDER BY""".stripMargin)
  }

  val phraseSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |              FROM documents),
       |m AS (SELECT doc_id,
       |        len(list_filter(range(1, len(t)),
       |              i -> t[i] = '$PhraseW1' AND t[i+1] = '$PhraseW2')) AS phrase_tf
       |      FROM toks)
       |SELECT doc_id, phrase_tf FROM m WHERE phrase_tf > 0
       |ORDER BY phrase_tf DESC, doc_id LIMIT 10""".stripMargin

  // ---- multi-term expansion (prefix / fuzzy) -----------------------------

  /** Lucene's BooleanQuery.maxClauseCount discipline: a multi-term
    * expansion (prefix/fuzzy) rewrites into a scoring boolean over the
    * matched dictionary terms, and an expansion past this cap fails
    * loudly instead of silently scheduling an unbounded scoring pass. */
  val MaxExpansion = 1024

  /** The declared expansion queries: prefix `s*` (six corpus terms at
    * every SF) and the typo `grup` at ≤2 edits ({group: 1, dup: 2} —
    * two matches at DIFFERENT distances, so the distance boost is
    * exercised, not just the expansion). */
  val PrefixQ = "s"
  val FuzzyQ = "grup"
  val FuzzyMaxEdits = 2

  /** The lex frame an expansion scans: the prefix-partitioned sidecar
    * when the layout carries it (v5 word indexes; resident via
    * [[ServingCache]] in serving mode), else the dict keys themselves
    * (legacy/gram layouts — full-vocabulary scan, the pre-v5 shape). */
  private def lexFrame(spark: SparkSession, layout: Layout,
                       serving: Boolean): DataFrame = {
    val lexPath = Paths.get(dictLexPathOf(layout))
    if (Files.exists(lexPath)) {
      if (serving) ServingCache.frame(spark, lexPath)
      else spark.read.parquet(lexPath.toString)
    } else {
      val dict =
        if (serving) ServingCache.frame(spark, Paths.get(layout.dictPath))
        else spark.read.parquet(layout.dictPath)
      dict.select(col("w"), length(col("w")).as("len"),
        lexP2Col(col("w")).as("p2"))
    }
  }

  /** The reversed twin of [[lexFrame]] over [[dictRevPathOf]], with the
    * same derive-from-dict fallback for stores predating the sidecar. */
  private def revFrame(spark: SparkSession, layout: Layout,
                       serving: Boolean): DataFrame = {
    val revPath = Paths.get(dictRevPathOf(layout))
    if (Files.exists(revPath)) {
      if (serving) ServingCache.frame(spark, revPath)
      else spark.read.parquet(revPath.toString)
    } else {
      val dict =
        if (serving) ServingCache.frame(spark, Paths.get(layout.dictPath))
        else spark.read.parquet(layout.dictPath)
      dict.select(col("w"), reverse(col("w")).as("rw"),
        revP2Col(col("w")).as("r2"))
    }
  }

  /** Dictionary EXPANSION for a prefix query — Lucene's PrefixQuery
    * TermsEnum walk re-expressed over the PREFIX-PARTITIONED lex sidecar
    * ([[dictLexPathOf]] — the FST analog): the scan reads only the
    * partitions whose p2 can begin with the prefix (a `StartsWith(p2)`
    * partition filter — plan-time pruning, exact for |prefix| ≥ 2 and a
    * first-character partition family for |prefix| = 1), then applies
    * the full prefix test within them. The collected set is bounded by
    * [[MaxExpansion]] BEFORE it crosses the driver: the limit(cap+1)
    * keeps the cap's require exact while guaranteeing an oversized
    * expansion fails fast without materializing the whole matched set
    * driver-side (the r15 enforcement-order fix). */
  /** The frame [[expandPrefix]] collects — exposed so the plan gate can
    * assert the partition pruning (`StartsWith(p2)` PartitionFilters on
    * the stateless read). */
  private[graft] def prefixCandidates(spark: SparkSession, layout: Layout,
                                      prefix: String,
                                      serving: Boolean = false): DataFrame =
    lexFrame(spark, layout, serving)
      .filter(col("p2").startsWith(prefix.take(2)) &&
        col("w").startsWith(prefix))
      .select(col("w"))

  /** The frame [[expandFuzzy]] collects: (w, dist) for dictionary terms
    * within maxEdits of q. Primary path — the DELETION-NEIGHBORHOOD join
    * ([[dictDelPathOf]], the SymSpell discipline): q's own deletion
    * variants (driver-side string algebra, Σ C(|q|, ≤d) strings) name
    * the vbuckets to read (plan-time PartitionFilters on the stateless
    * read; an `v IN variants` membership filter within them), the
    * matched candidate terms — a PROVABLE superset of the ≤maxEdits ball
    * (the containment theorem in [[dictDelPathOf]]'s doc) — are then
    * verified by ONE exact levenshtein each. Cost ∝ the typo
    * neighborhood, never the vocabulary: the pre-v6 length-band
    * levenshtein scan (kept below as the fallback for legacy layouts and
    * maxEdits > [[MaxDeletes]]) was band-linear — the worst serving p95
    * cell at 100-TB vocabularies. Result identity: candidates ⊇ matches
    * and the verify predicate IS the band path's predicate, so both
    * paths produce the same (w, dist) set and q_bm25_fuzzy's oracle is
    * unchanged. */
  private[graft] def fuzzyCandidates(spark: SparkSession, layout: Layout,
                                     q: String, maxEdits: Int,
                                     serving: Boolean = false): DataFrame = {
    val delPath = Paths.get(dictDelPathOf(layout))
    if (maxEdits <= MaxDeletes && Files.exists(delPath)) {
      val variants = deleteVariants(q, maxEdits)
      val vbuckets = variants.map(bucketOf).distinct.sorted
      val frame =
        if (serving) ServingCache.frame(spark, delPath)
        else spark.read.parquet(delPath.toString)
      frame
        .filter(col("vbucket").isin(vbuckets: _*) &&
          col("v").isin(variants: _*))
        .select(col("w")).distinct()
        .withColumn("dist", levenshtein(col("w"), lit(q)))
        .filter(col("dist") <= maxEdits)
    } else fuzzyBandCandidates(spark, layout, q, maxEdits, serving)
  }

  /** The length-band fallback: |len − |q|| ≤ maxEdits is a provable
    * superset of the matches (each unit-cost edit changes length by at
    * most one), scanned with levenshtein over the lex sidecar. Correct
    * at ANY maxEdits; band-linear in the vocabulary — the legacy path
    * and the restriction spec's comparison baseline. */
  private[graft] def fuzzyBandCandidates(spark: SparkSession, layout: Layout,
                                         q: String, maxEdits: Int,
                                         serving: Boolean = false): DataFrame =
    lexFrame(spark, layout, serving)
      .filter(col("len").between(q.length - maxEdits, q.length + maxEdits))
      .withColumn("dist", levenshtein(col("w"), lit(q)))
      .filter(col("dist") <= maxEdits)
      .select(col("w"), col("dist"))

  private[graft] def expandPrefix(spark: SparkSession, layout: Layout,
                                  prefix: String,
                                  cap: Int = MaxExpansion,
                                  serving: Boolean = false,
                                  truncateAtCap: Boolean = false): Seq[String] = {
    // truncateAtCap: a LOAD GENERATOR wants bounded driver memory, not
    // the declared queries' fail-loud guarantee — limit(cap) truncates
    // the expansion instead of materializing past the cap to prove the
    // overflow (ServeBench; an uncapped collect would make the generator
    // itself driver-memory-bound at larger SFs)
    val ws = prefixCandidates(spark, layout, prefix, serving)
      .limit(if (truncateAtCap) cap else cap + 1)
      .collect().map(_.getString(0)).sorted.toSeq
    require(truncateAtCap || ws.size <= cap,
      s"prefix '$prefix' expands to > $cap terms " +
        "(the Lucene maxClauseCount discipline) — narrow the prefix")
    ws
  }

  /** FuzzyQuery expansion: dictionary terms within `maxEdits` Levenshtein
    * edits of the query term, each carrying Lucene's FuzzyTermsEnum
    * similarity boost max(0, 1 − dist / min(|w|, |q|)) (an exact
    * 0-distance match scores unboosted; a distant match is discounted;
    * the clamp keeps generic (q, maxEdits) inputs from producing
    * NEGATIVE term weights when maxEdits ≥ min length — Lucene's
    * FuzzyQuery never emits a non-positive similarity). Candidates come
    * from the deletion-neighborhood join ([[fuzzyCandidates]] — reads
    * only q's own variants' vbuckets, cost ∝ the typo neighborhood) with
    * one exact levenshtein verify per candidate; legacy layouts and
    * maxEdits > [[MaxDeletes]] fall back to the length-band scan. (A
    * first-character restriction would NOT be sound: a substitution at
    * position 0 makes w's first character arbitrary — q="ab"→w="cb" at
    * distance 1 shares no prefix.) The collect is bounded by
    * limit(cap+1), like [[expandPrefix]]. Spark's and DuckDB's
    * `levenshtein` are both the standard unit-cost edit distance, so the
    * oracle re-derives the identical expansion set and boosts. */
  private[graft] def expandFuzzy(spark: SparkSession, layout: Layout,
                                 q: String, maxEdits: Int,
                                 cap: Int = MaxExpansion,
                                 serving: Boolean = false,
                                 truncateAtCap: Boolean = false)
      : Seq[(String, Double)] = {
    val ws = fuzzyCandidates(spark, layout, q, maxEdits, serving)
      .limit(if (truncateAtCap) cap else cap + 1)
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq
    require(truncateAtCap || ws.size <= cap,
      s"fuzzy '$q'~$maxEdits expands to > $cap terms " +
        "(the Lucene maxClauseCount discipline)")
    ws.map { case (w, d) =>
      (w, math.max(0.0,
        1.0 - d.toDouble / math.min(w.length, q.length).toDouble))
    }
  }

  /** The declared wildcard pattern: `s*a?` — both metacharacters, a
    * 1-char literal prefix to prune on, and ≥2 corpus matches at every
    * SF (scan, stream) so the scoring boolean is exercised. */
  val WildcardQ = "s*a?"

  /** Wildcard pattern → anchored regex: `*` matches any run, `?` exactly
    * one character, everything else literal (regex metacharacters
    * escaped). The same translation both engines evaluate — Spark via
    * rlike, the oracle via LIKE (`*`→`%`, `?`→`_`), which are equivalent
    * languages for these two metacharacters. */
  private[graft] def wildcardRegex(pattern: String): String = {
    val sb = new StringBuilder("^")
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if c.isLetterOrDigit => sb.append(c)
      case c => sb.append('\\').append(c)
    }
    sb.append('$').toString
  }

  /** The LIKE twin of [[wildcardRegex]] for the DuckDB oracle. Literal
    * `%`, `_`, and `\` in the pattern are backslash-escaped so a generic
    * pattern containing LIKE's own metacharacters stays literal on the
    * SQL side exactly as [[wildcardRegex]] keeps it literal on the Spark
    * side — interpolation sites must therefore attach `ESCAPE '\'`
    * ([[wildcardLikeSql]] builds the whole predicate). */
  private[graft] def wildcardLike(pattern: String): String =
    pattern.flatMap {
      case '*' => "%"
      case '?' => "_"
      case c @ ('%' | '_' | '\\') => s"\\$c"
      case c => c.toString
    }.mkString

  /** The full oracle-side LIKE predicate for a wildcard pattern —
    * single quotes doubled (SQL string-literal escaping) and the ESCAPE
    * clause attached, so any pattern alphabet survives interpolation. */
  private[graft] def wildcardLikeSql(expr: String, pattern: String): String =
    s"$expr LIKE '${wildcardLike(pattern).replace("'", "''")}' ESCAPE '\\'"

  /** Dictionary EXPANSION for a wildcard pattern — Lucene's
    * WildcardQuery TermsEnum walk over the prefix-partitioned lex
    * sidecar: the pattern's LITERAL PREFIX (characters before the first
    * metacharacter) prunes exactly like [[prefixCandidates]] (a
    * `StartsWith(p2)` partition filter — plan-time pruning), then the
    * anchored regex decides within the pruned slice. A LEADING-wildcard
    * pattern has no literal prefix — it prunes by its literal SUFFIX
    * reversed against the [[dictRevPathOf]] sidecar instead (Lucene's
    * ReversedWildcardFilter rewrite: `*tion` seeks `noit*` on the
    * reversed field), a `StartsWith(r2)` partition filter of the same
    * shape. Only a pattern with NO literal edge at all (`*x*`, `?x?`)
    * honestly walks the vocabulary-sized store — the cost Lucene
    * documents for the same class. */
  private[graft] def wildcardCandidates(spark: SparkSession, layout: Layout,
                                        pattern: String,
                                        serving: Boolean = false): DataFrame = {
    val litPrefix = pattern.takeWhile(c => c != '*' && c != '?')
    val litSuffix = pattern.reverse.takeWhile(c => c != '*' && c != '?').reverse
    val decided =
      if (litPrefix.nonEmpty)
        lexFrame(spark, layout, serving)
          .filter(col("p2").startsWith(litPrefix.take(2)) &&
            col("w").startsWith(litPrefix))
      else if (litSuffix.nonEmpty) {
        val revSuffix = litSuffix.reverse
        revFrame(spark, layout, serving)
          .filter(col("r2").startsWith(revSuffix.take(2)) &&
            col("rw").startsWith(revSuffix))
      } else lexFrame(spark, layout, serving)
    decided.filter(col("w").rlike(wildcardRegex(pattern))).select(col("w"))
  }

  /** The declared regexp pattern: alternation behind a shared literal
    * prefix — two corpus matches (scan, sort), prefix-prunable. Simple
    * syntax by design: the pattern must mean the same thing to Java's
    * regex (Spark) and RE2 (DuckDB's regexp_full_match), so the
    * declared query sticks to the common subset (literals, groups,
    * alternation, classes, quantifiers — no backrefs/lookaround, which
    * RE2 rejects; Lucene's RegexpQuery draws the same automaton-
    * friendly line). */
  val RegexQ = "s(can|ort)"

  /** Dictionary EXPANSION for a regexp term query — Lucene's
    * RegexpQuery discipline: the pattern matches the ENTIRE term
    * (anchored), and the pattern's literal PREFIX (leading letter/digit
    * run) prunes the lex walk exactly like a prefix query; a pattern
    * with no literal prefix walks the vocabulary-sized lex sidecar (the
    * same honest caveat as a leading wildcard — Lucene intersects the
    * regex automaton with the FST, whose win is also bounded by the
    * pattern's literal prefix). */
  private[graft] def regexCandidates(spark: SparkSession, layout: Layout,
                                     pattern: String,
                                     serving: Boolean = false): DataFrame = {
    val litPrefix = pattern.takeWhile(_.isLetterOrDigit)
    val base = lexFrame(spark, layout, serving)
    val pruned =
      if (litPrefix.nonEmpty)
        base.filter(col("p2").startsWith(litPrefix.take(2)) &&
          col("w").startsWith(litPrefix))
      else base
    pruned.filter(col("w").rlike("^(?:" + pattern + ")$")).select(col("w"))
  }

  private[graft] def expandRegex(spark: SparkSession, layout: Layout,
                                 pattern: String,
                                 cap: Int = MaxExpansion,
                                 serving: Boolean = false,
                                 truncateAtCap: Boolean = false)
      : Seq[String] = {
    val ws = regexCandidates(spark, layout, pattern, serving)
      .limit(if (truncateAtCap) cap else cap + 1)
      .collect().map(_.getString(0)).sorted.toSeq
    require(truncateAtCap || ws.size <= cap,
      s"regexp '$pattern' expands to > $cap terms " +
        "(the Lucene maxClauseCount discipline) — anchor a literal prefix")
    ws
  }

  private[graft] def expandWildcard(spark: SparkSession, layout: Layout,
                                    pattern: String,
                                    cap: Int = MaxExpansion,
                                    serving: Boolean = false,
                                    truncateAtCap: Boolean = false)
      : Seq[String] = {
    val ws = wildcardCandidates(spark, layout, pattern, serving)
      .limit(if (truncateAtCap) cap else cap + 1)
      .collect().map(_.getString(0)).sorted.toSeq
    require(truncateAtCap || ws.size <= cap,
      s"wildcard '$pattern' expands to > $cap terms " +
        "(the Lucene maxClauseCount discipline) — add literal characters")
    ws
  }

  /** BM25 over an EXPANDED term set — the scoring-BooleanQuery rewrite
    * of Lucene's multi-term queries (PrefixQuery, FuzzyQuery): each
    * matched dictionary term contributes its OWN BM25 score (its own
    * df/idf — expansion never blends statistics), scaled by a per-term
    * boost (1.0 for prefix, the edit-distance boost for fuzzy). The
    * expansion set is data-dependent, so the fixed-order pivot parity
    * trick cannot apply; instead per-(doc, term) contributions quantize
    * to exact longs (floor((s·boost)·1e9) — the q_fusion_tune
    * integer-sum discipline), the per-doc sum is order-free integer
    * arithmetic, and ONE division + round at the end restores the score
    * scale. Both engines compute the same doubles from the same
    * (tf, df, dl, n, avgdl) integers, so the quantized sums hash-match.
    * Access path: tombstone masking and df correction ride the shared
    * [[contribFrame]]; posting reads prune to the expansion's tbuckets. */
  private[graft] def bm25ExpandedOver(spark: SparkSession, layout: Layout,
                                      termBoosts: Seq[(String, Double)],
                                      k: Int = 10,
                                      serving: Boolean = false): DataFrame = {
    import spark.implicits._
    require(termBoosts.nonEmpty, "expansion matched no dictionary term")
    val boostDf = broadcast(termBoosts.toDF("w", "boost"))
    contribFrame(spark, layout, terms = termBoosts.map(_._1),
        serving = serving)
      .join(boostDf, "w")
      .withColumn("q", floor(col("s") * col("boost") * lit(1e9)))
      .groupBy(col("doc_id")).agg(sum(col("q")).as("qs"))
      .select(col("doc_id"), round(col("qs") / lit(1e9), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Q-bm25-prefix: `s*` expanded against the shared index's dictionary,
    * scored as a boolean-of-terms. Oracle: the expansion and the
    * quantized sums re-derived from raw text. */
  def bm25Prefix(spark: SparkSession, dir: String): DataFrame = {
    val layout = ensure(spark, dir)
    bm25ExpandedOver(spark, layout,
      expandPrefix(spark, layout, PrefixQ).map((_, 1.0)))
  }

  /** Q-bm25-fuzzy: the typo `grup` at ≤[[FuzzyMaxEdits]] edits, expanded
    * and distance-boosted. */
  def bm25Fuzzy(spark: SparkSession, dir: String): DataFrame = {
    val layout = ensure(spark, dir)
    bm25ExpandedOver(spark, layout,
      expandFuzzy(spark, layout, FuzzyQ, FuzzyMaxEdits))
  }

  /** Q-bm25-wildcard: `s*a?` expanded against the dictionary (prefix-
    * pruned lex walk + anchored regex), scored as a boolean-of-terms.
    * Oracle: the expansion re-derived from raw text with the equivalent
    * LIKE pattern, quantized sums as ever. */
  def bm25Wildcard(spark: SparkSession, dir: String): DataFrame = {
    val layout = ensure(spark, dir)
    bm25ExpandedOver(spark, layout,
      expandWildcard(spark, layout, WildcardQ).map((_, 1.0)))
  }

  /** The declared LEADING-wildcard pattern: no literal prefix, a 2-char
    * literal suffix — the dictrev-pruned class (matches customer /
    * filter / order at every SF). */
  val WildcardLeadQ = "*er"

  /** Q-bm25-wildcard-lead: a leading-wildcard term query served through
    * the reversed-term sidecar — the expansion prunes by the reversed
    * suffix's r2 partitions instead of walking the vocabulary (the r17
    * "documented honest caveat", closed); scoring rides the same
    * expanded-BM25 plan as every multi-term query. Oracle: the LIKE
    * twin re-derived from raw text, identical in form to q_bm25_wildcard. */
  def bm25WildcardLead(spark: SparkSession, dir: String): DataFrame = {
    val layout = ensure(spark, dir)
    bm25ExpandedOver(spark, layout,
      expandWildcard(spark, layout, WildcardLeadQ).map((_, 1.0)))
  }

  /** Q-bm25-regex: `s(can|ort)` expanded via the anchored-regex lex walk
    * (literal-prefix pruned), scored as a boolean-of-terms. Oracle: the
    * expansion re-derived from raw text with regexp_full_match — the
    * RE2 twin of the anchored Java regex on the shared syntax subset. */
  def bm25Regex(spark: SparkSession, dir: String): DataFrame = {
    val layout = ensure(spark, dir)
    bm25ExpandedOver(spark, layout,
      expandRegex(spark, layout, RegexQ).map((_, 1.0)))
  }

  /** The expanded-BM25 oracle for ANY term predicate + boost expression
    * (both over the token column `w`): the bm25SqlFor CTE chain with the
    * pivot replaced by the quantized integer sum. */
  private def bm25ExpandedSqlFor(matchPred: String, boostExpr: String): String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |              FROM documents),
       |lens AS (SELECT doc_id, len(t) AS dl FROM toks),
       |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens),
       |tf AS (SELECT doc_id, w, COUNT(*) AS tf
       |       FROM (SELECT doc_id, unnest(t) AS w FROM toks)
       |       WHERE $matchPred GROUP BY 1, 2),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
       |contrib AS (SELECT tf.doc_id, tf.w,
       |    ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |      * (tf.tf * 2.2)
       |      / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / stats.avgdl)) AS s
       |  FROM tf JOIN df USING (w) JOIN lens USING (doc_id) CROSS JOIN stats),
       |qc AS (SELECT doc_id, CAST(floor((s * ($boostExpr)) * 1e9) AS BIGINT) AS q
       |       FROM contrib),
       |agg AS (SELECT doc_id, CAST(SUM(q) AS BIGINT) AS qs FROM qc GROUP BY doc_id)
       |SELECT doc_id, ROUND(qs / 1e9, 6) AS score FROM agg
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  val bm25PrefixSql: String =
    bm25ExpandedSqlFor(s"w LIKE '$PrefixQ%'", "1.0")

  val bm25FuzzySql: String =
    bm25ExpandedSqlFor(
      s"levenshtein(w, '$FuzzyQ') <= $FuzzyMaxEdits",
      s"greatest(0.0, 1.0 - CAST(levenshtein(w, '$FuzzyQ') AS DOUBLE) " +
        s"/ CAST(least(length(w), ${FuzzyQ.length}) AS DOUBLE))")

  val bm25WildcardSql: String =
    bm25ExpandedSqlFor(wildcardLikeSql("w", WildcardQ), "1.0")

  val bm25WildcardLeadSql: String =
    bm25ExpandedSqlFor(wildcardLikeSql("w", WildcardLeadQ), "1.0")

  val bm25RegexSql: String =
    bm25ExpandedSqlFor(s"regexp_full_match(w, '$RegexQ')", "1.0")

  // ---- highlighting -------------------------------------------------------

  /** Context tokens either side of the first match in a snippet. */
  val HighlightWindow = 2

  /** HIGHLIGHTING — the Lucene highlighter analog served from the
    * positional sidecar: for each BM25 winner, the FIRST occurrence
    * position of any query term (min over the terms' pruned position
    * lists — no document re-tokenization) anchors a (2·window+1)-token
    * snippet sliced from the stored text. The reference returns matches
    * as bare ids+vectors (`README.md:18`, bug B8) — match CONTEXT is
    * exactly what its users lose; this composes the fix from the index's
    * own metadata. Cost: the winners frame is k rows (broadcast);
    * positions read ∝ the query terms' lists; the text fetch-join
    * touches k docs. */
  private[graft] def highlightOver(spark: SparkSession, layout: Layout,
                                   docs: DataFrame,
                                   terms: Seq[String] = TextOps.Bm25Terms,
                                   k: Int = 10): DataFrame =
    highlightWinners(spark, layout, docs,
      bm25Over(spark, layout, k, terms = terms), terms)

  /** The anchoring half of [[highlightOver]], parameterized over the
    * RANKING and the ANCHOR TERM SET — so expansion-scored winners
    * (prefix/fuzzy) highlight with their own matched dictionary terms
    * (r15 verdict #9: the expanded set's first occurrence anchors the
    * snippet, not a fixed term list). */
  private[graft] def highlightWinners(spark: SparkSession, layout: Layout,
                                      docs: DataFrame, top: DataFrame,
                                      terms: Seq[String]): DataFrame = {
    val buckets = bucketsOf(terms)
    val pos0 = spark.read.parquet(positionsPathOf(layout))
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(terms: _*))
    val tombDir = tombDirOf(layout)
    val pos =
      if (hasParquet(tombDir))
        pos0.join(broadcast(
          spark.read.parquet(tombDir.toString).select(col("doc_id"))),
          Seq("doc_id"), "left_anti")
      else pos0
    val first = pos.join(broadcast(top.select(col("doc_id"))), Seq("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("pos")).as("first_pos"))
    val start = greatest(col("first_pos") - HighlightWindow.toLong, lit(0L))
    broadcast(top.join(first, Seq("doc_id")))
      .join(docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("t")),
        Seq("doc_id"))
      .select(col("doc_id"), col("score"), col("first_pos"),
        array_join(slice(col("t"), (start + 1L).cast("int"),
          lit(2 * HighlightWindow + 1)), " ").as("snippet"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** Q-highlight: snippets for the fixed query's BM25 winners, anchored
    * by the positional sidecar. Oracle replays the first-match position
    * and the token slice from raw text. */
  def highlightIndexed(spark: SparkSession, dir: String): DataFrame =
    highlightOver(spark, ensure(spark, dir), Tables.documents(spark, dir))

  val highlightSql: String = {
    val base = TextOps.bm25Sql
    val Seq(t1, t2, t3) = TextOps.Bm25Terms
    val w = HighlightWindow
    val tail = "SELECT doc_id, ROUND(s1 + s2 + s3, 6) AS score FROM piv\nORDER BY score DESC, doc_id LIMIT 10"
    require(base.contains(tail), "bm25SqlFor tail shape changed — update highlightSql")
    val mid = base.replace(tail,
      s"""top AS (SELECT doc_id, ROUND(s1 + s2 + s3, 6) AS score FROM piv
         |        ORDER BY score DESC, doc_id LIMIT 10),
         |fp AS (SELECT doc_id,
         |         CAST(list_min(list_filter(range(1, len(t)+1),
         |           i -> t[i] IN ('$t1', '$t2', '$t3'))) - 1 AS BIGINT) AS first_pos
         |       FROM toks)
         |SELECT p.doc_id, p.score, f.first_pos,
         |  array_to_string(k.t[CAST(greatest(f.first_pos - $w, 0) + 1 AS BIGINT) :
         |                      CAST(greatest(f.first_pos - $w, 0) + ${2 * w + 1} AS BIGINT)],
         |    ' ') AS snippet
         |FROM top p JOIN fp f USING (doc_id) JOIN toks k USING (doc_id)
         |ORDER BY p.score DESC, p.doc_id""".stripMargin)
    // guarded like the tail replace above: a silent no-op here would emit
    // invalid oracle SQL (a CTE chain missing its comma) discovered only
    // at oracle run time
    require(mid.contains("  FROM contrib GROUP BY doc_id)\ntop AS"),
      "bm25SqlFor CTE shape changed — update highlightSql's comma splice")
    mid.replace("  FROM contrib GROUP BY doc_id)\ntop AS",
      "  FROM contrib GROUP BY doc_id),\ntop AS")
  }

  /** Q-highlight-prefix: EXPANSION-AWARE highlighting (r15 verdict #9) —
    * the prefix query's winners (q_bm25_prefix's exact quantized
    * ranking) highlighted by the EXPANDED term set: the snippet anchors
    * at the first occurrence of ANY matched dictionary term, read from
    * the positional sidecar pruned to the expansion's tbuckets — the
    * multi-term query's own match evidence, never a re-tokenization. */
  def highlightPrefix(spark: SparkSession, dir: String): DataFrame = {
    val layout = ensure(spark, dir)
    val terms = expandPrefix(spark, layout, PrefixQ)
    highlightWinners(spark, layout, Tables.documents(spark, dir),
      bm25ExpandedOver(spark, layout, terms.map((_, 1.0))), terms)
  }

  val highlightPrefixSql: String = {
    val base = bm25PrefixSql
    val w = HighlightWindow
    val tail = "SELECT doc_id, ROUND(qs / 1e9, 6) AS score FROM agg\nORDER BY score DESC, doc_id LIMIT 10"
    require(base.contains(tail),
      "bm25ExpandedSqlFor tail shape changed — update highlightPrefixSql")
    val mid = base.replace(tail,
      s"""top AS (SELECT doc_id, ROUND(qs / 1e9, 6) AS score FROM agg
         |        ORDER BY score DESC, doc_id LIMIT 10),
         |fp AS (SELECT doc_id,
         |         CAST(list_min(list_filter(range(1, len(t)+1),
         |           i -> t[i] LIKE '$PrefixQ%')) - 1 AS BIGINT) AS first_pos
         |       FROM toks)
         |SELECT p.doc_id, p.score, f.first_pos,
         |  array_to_string(k.t[CAST(greatest(f.first_pos - $w, 0) + 1 AS BIGINT) :
         |                      CAST(greatest(f.first_pos - $w, 0) + ${2 * w + 1} AS BIGINT)],
         |    ' ') AS snippet
         |FROM top p JOIN fp f USING (doc_id) JOIN toks k USING (doc_id)
         |ORDER BY p.score DESC, p.doc_id""".stripMargin)
    require(mid.contains("FROM qc GROUP BY doc_id)\ntop AS"),
      "bm25ExpandedSqlFor CTE shape changed — update highlightPrefixSql's comma splice")
    mid.replace("FROM qc GROUP BY doc_id)\ntop AS",
      "FROM qc GROUP BY doc_id),\ntop AS")
  }

  /** The declared prefix-inside-a-phrase query: `"vector ha*"` — the
    * phrase anchor word followed by any `ha`-prefixed term (PhraseW2
    * "hash" is one member, so the pair family stays non-empty at every
    * SF while the expansion genuinely widens the match set). */
  val PhrasePrefixQ = "ha"

  /** PREFIX-INSIDE-A-PHRASE (r15 verdict #9's composition ask): Lucene's
    * MultiPhraseQuery for the (word, prefix*) case — the prefix expands
    * against the dictionary ([[expandPrefix]]: the pruned lex walk,
    * maxClauseCount-capped), then the phrase match is [[phraseOver]]'s
    * adjacency equi-join with the SECOND slot matching ANY expanded
    * term: w1's positions ⋈ the expansion terms' positions at pos+1.
    * Work ∝ w1's list + the expansion terms' lists — the positional
    * sidecar answers a multi-term slot with the same pruned access path
    * as a single term, because position rows are term-keyed. A position
    * holds exactly one term, so occurrence pairs count exactly once. */
  private[graft] def phrasePrefixOver(spark: SparkSession, layout: Layout,
                                      w1: String, prefix: String,
                                      k: Int = 10): DataFrame = {
    val exp = expandPrefix(spark, layout, prefix)
    require(exp.nonEmpty, s"prefix '$prefix' matched no dictionary term")
    phraseExpandedOver(spark, layout, w1, exp, k)
  }

  /** The general (word, EXPANSION-SET) phrase slot both phrase-prefix
    * and phrase-fuzzy ride — any dictionary expansion plugs into the
    * second slot, because position rows are term-keyed: the multi-term
    * slot costs exactly the expansion terms' pruned position lists. */
  private[graft] def phraseExpandedOver(spark: SparkSession, layout: Layout,
                                        w1: String, exp: Seq[String],
                                        k: Int = 10): DataFrame = {
    val words = (w1 +: exp).distinct
    val buckets = bucketsOf(words)
    val pos0 = spark.read.parquet(positionsPathOf(layout))
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(words: _*))
    val tombDir = tombDirOf(layout)
    val pos =
      if (hasParquet(tombDir))
        pos0.join(broadcast(
          spark.read.parquet(tombDir.toString).select(col("doc_id"))),
          Seq("doc_id"), "left_anti")
      else pos0
    pos.filter(col("w") === w1)
      .select(col("doc_id"), col("pos"))
      .join(pos.filter(col("w").isin(exp: _*))
          .select(col("doc_id"), (col("pos") - 1L).as("pos")),
        Seq("doc_id", "pos"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("phrase_tf"))
      .orderBy(col("phrase_tf").desc, col("doc_id"))
      .limit(k)
  }

  def phrasePrefix(spark: SparkSession, dir: String): DataFrame =
    phrasePrefixOver(spark, ensure(spark, dir), PhraseW1, PhrasePrefixQ)

  /** FUZZY-INSIDE-A-PHRASE: MultiPhraseQuery with the second slot filled
    * by a FuzzyQuery's expansion — "vector grup"~2 matches `vector
    * group` AND `vector dup`, because the deletion-neighborhood
    * expansion ([[expandFuzzy]]) feeds the same positional equi-join as
    * any other term set (boosts are a SCORING concept; a phrase slot is
    * pure membership, so the distance boosts drop here exactly as
    * Lucene's MultiPhraseQuery ignores per-term boosts). Oracle: the
    * adjacency recount from raw text with the levenshtein predicate on
    * the second token. */
  def phraseFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val layout = ensure(spark, dir)
    val exp = expandFuzzy(spark, layout, FuzzyQ, FuzzyMaxEdits).map(_._1)
    require(exp.nonEmpty, s"fuzzy '$FuzzyQ' matched no dictionary term")
    phraseExpandedOver(spark, layout, PhraseW1, exp)
  }

  /** WILDCARD-INSIDE-A-PHRASE: the third expansion kind through the same
    * positional slot — "vector s*a?" matches `vector scan` and `vector
    * stream`. One general mechanism ([[phraseExpandedOver]]), three
    * expansion feeders (prefix, fuzzy, wildcard): the MultiPhraseQuery
    * composition is closed over any dictionary expansion. */
  def phraseWildcard(spark: SparkSession, dir: String): DataFrame = {
    val layout = ensure(spark, dir)
    val exp = expandWildcard(spark, layout, WildcardQ)
    require(exp.nonEmpty, s"wildcard '$WildcardQ' matched no dictionary term")
    phraseExpandedOver(spark, layout, PhraseW1, exp)
  }

  val phraseWildcardSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |              FROM documents),
       |m AS (SELECT doc_id,
       |        len(list_filter(range(1, len(t)),
       |              i -> t[i] = '$PhraseW1'
       |                   AND ${wildcardLikeSql("t[i+1]", WildcardQ)})) AS phrase_tf
       |      FROM toks)
       |SELECT doc_id, phrase_tf FROM m WHERE phrase_tf > 0
       |ORDER BY phrase_tf DESC, doc_id LIMIT 10""".stripMargin

  val phraseFuzzySql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |              FROM documents),
       |m AS (SELECT doc_id,
       |        len(list_filter(range(1, len(t)),
       |              i -> t[i] = '$PhraseW1'
       |                   AND levenshtein(t[i+1], '$FuzzyQ') <= $FuzzyMaxEdits)) AS phrase_tf
       |      FROM toks)
       |SELECT doc_id, phrase_tf FROM m WHERE phrase_tf > 0
       |ORDER BY phrase_tf DESC, doc_id LIMIT 10""".stripMargin

  val phrasePrefixSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |              FROM documents),
       |m AS (SELECT doc_id,
       |        len(list_filter(range(1, len(t)),
       |              i -> t[i] = '$PhraseW1' AND t[i+1] LIKE '$PhrasePrefixQ%')) AS phrase_tf
       |      FROM toks)
       |SELECT doc_id, phrase_tf FROM m WHERE phrase_tf > 0
       |ORDER BY phrase_tf DESC, doc_id LIMIT 10""".stripMargin

  /** SPAN-NEAR queries — the last Lucene positional query class this
    * engine lacked (SpanNearQuery: NESTED ordered/unordered proximity
    * with per-clause slop, composable — `spanNear([spanNear([w1,w2],0),
    * w3], 2)` finds "w1 w2" as a unit within 2 tokens of w3). A span is
    * a (doc_id, start, end) interval (end exclusive); clauses compose:
    *  - a TERM's spans are its positional rows, width 1;
    *  - an ORDERED near-match is one span per clause, consecutive
    *    clauses non-overlapping in order (s_{i+1} ≥ e_i) with the TOTAL
    *    inter-span gap Σ(s_{i+1} − e_i) ≤ slop; the match spans
    *    (s_1, e_n). Lucene's SpanNearQuery measures slop the same way —
    *    positions skipped between sub-spans;
    *  - an UNORDERED pair match admits either order (non-overlap with
    *    gap ≤ slop), spanning (min s, max e) — Lucene's inOrder=false
    *    for the two-clause case.
    * Execution: ONE pruned positional read for every term in the tree
    * (tbucket PartitionFilters + pushed `w IN`, tombstones masked — the
    * phraseOver access path), then one hash equi-join on doc_id per
    * clause with the order/gap window as a residual range predicate:
    * per-doc position lists of SPECIFIC terms are selectivity-bounded,
    * so the residual never sees a corpus-sized product (the
    * proximityOver cost argument, nested). Work ∝ the clause terms'
    * position lists at every nesting level — the 100 TB shape. */
  sealed trait SpanClause
  object SpanClause {
    final case class Term(w: String) extends SpanClause
    final case class Near(clauses: Seq[SpanClause], slop: Int,
                          inOrder: Boolean = true) extends SpanClause
  }

  private[graft] def spanTermsOf(c: SpanClause): Seq[String] = c match {
    case SpanClause.Term(w) => Seq(w)
    case SpanClause.Near(cs, _, _) => cs.flatMap(spanTermsOf)
  }

  /** The (doc_id, s, e) span frame of a clause over a position frame
    * (already pruned + masked by the caller). */
  private[graft] def spanFrame(pos: DataFrame, c: SpanClause): DataFrame =
    c match {
      case SpanClause.Term(w) =>
        pos.filter(col("w") === w)
          .select(col("doc_id"), col("pos").as("s"), (col("pos") + 1L).as("e"))
      case SpanClause.Near(clauses, slop, true) =>
        require(clauses.size >= 2, "a span-near is at least two clauses")
        // fold left: acc carries (doc_id, s, e, gap); each next clause
        // joins on doc_id with the order + running-gap residual. Gaps
        // are non-negative, so pruning at each step (gap' ≤ slop) is
        // exact for the final total-gap test.
        val first = spanFrame(pos, clauses.head).withColumn("gap", lit(0L))
        clauses.tail.foldLeft(first) { (acc, cl) =>
            val a = acc.select(col("doc_id"), col("s"), col("e").as("ae"),
              col("gap"))
            val b = spanFrame(pos, cl).select(col("doc_id"),
              col("s").as("bs"), col("e").as("be"))
            a.join(b, Seq("doc_id"))
              .filter(col("bs") >= col("ae") &&
                col("gap") + (col("bs") - col("ae")) <= slop.toLong)
              .select(col("doc_id"), col("s"), col("be").as("e"),
                (col("gap") + (col("bs") - col("ae"))).as("gap"))
          }
          .select(col("doc_id"), col("s"), col("e"))
      case SpanClause.Near(clauses, slop, false) =>
        require(clauses.size == 2,
          "unordered span-near supports two clauses (Lucene's two-clause " +
            "inOrder=false semantics; nest ordered clauses inside)")
        val a = spanFrame(pos, clauses.head).select(col("doc_id"),
          col("s").as("as0"), col("e").as("ae"))
        val b = spanFrame(pos, clauses.last).select(col("doc_id"),
          col("s").as("bs"), col("e").as("be"))
        a.join(b, Seq("doc_id"))
          .filter(
            (col("bs") >= col("ae") && col("bs") - col("ae") <= slop.toLong) ||
            (col("as0") >= col("be") && col("as0") - col("be") <= slop.toLong))
          .select(col("doc_id"), least(col("as0"), col("bs")).as("s"),
            greatest(col("ae"), col("be")).as("e"))
    }

  /** Top-k docs by span-match count for a clause tree, served from the
    * positional sidecar with the shared pruned access path. */
  private[graft] def spanNearOver(spark: SparkSession, layout: Layout,
                                  clause: SpanClause, k: Int = 10): DataFrame = {
    val words = spanTermsOf(clause).distinct
    val buckets = bucketsOf(words)
    val pos0 = spark.read.parquet(positionsPathOf(layout))
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(words: _*))
    val tombDir = tombDirOf(layout)
    val pos =
      if (hasParquet(tombDir))
        pos0.join(broadcast(
          spark.read.parquet(tombDir.toString).select(col("doc_id"))),
          Seq("doc_id"), "left_anti")
      else pos0
    spanFrame(pos, clause)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("span_tf"))
      .orderBy(col("span_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** The declared nested span query: the exact phrase "vector hash" AS A
    * UNIT within [[SpanOuterSlop]] tokens before "[[SpanW3]]" — chosen so
    * the inner clause is the q_phrase pair (the nesting is real: its
    * matches are width-2 spans, not a token) and the outer window has
    * ≥5 matches at every SF. */
  val SpanW3 = "order"
  val SpanOuterSlop = 2

  def spanNear(spark: SparkSession, dir: String): DataFrame =
    spanNearOver(spark, ensure(spark, dir),
      SpanClause.Near(Seq(
        SpanClause.Near(Seq(SpanClause.Term(PhraseW1), SpanClause.Term(PhraseW2)),
          slop = 0),
        SpanClause.Term(SpanW3)), slop = SpanOuterSlop))

  /** Raw-text replay: inner matches are adjacency positions i (span
    * [i, i+2)); the outer Term's position j satisfies j ≥ i+2 and
    * j − (i+2) ≤ slop — range(i+2, i+2+slop+1) clipped to the doc. */
  val spanNearSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |              FROM documents),
       |m AS (SELECT doc_id,
       |        CAST(list_sum(list_transform(range(1, len(t)+1), i ->
       |          CASE WHEN i+1 <= len(t) AND t[i] = '$PhraseW1'
       |                    AND t[i+1] = '$PhraseW2'
       |          THEN len(list_filter(range(i+2, least(i+2+$SpanOuterSlop+1, len(t)+1)),
       |                    j -> t[j] = '$SpanW3'))
       |          ELSE 0 END)) AS BIGINT) AS span_tf
       |      FROM toks)
       |SELECT doc_id, span_tf FROM m WHERE span_tf > 0
       |ORDER BY span_tf DESC, doc_id LIMIT 10""".stripMargin

  /** PHYSICAL-LAYER self-audit of one inverted-index layout — one row per
    * invariant with its violation count (0 on a healthy store). Every
    * derived store of the index's tokenizer kind is diffed against its
    * declared derivation ([[Store.audit]]), under the invariant its
    * declaration names: exact equality for all but the impact bounds,
    * which must only BOUND the scorable postings. Stats and impacts are
    * checked against the live docs (pending tombstones masked), every
    * other store against the physical rows, so pending deletes violate
    * no invariant. One check is hand-written, on the primary positions
    * store: positions_match_tf — per (w, doc_id), the positional sidecar
    * holds exactly tf occurrences (word indexes). */
  private[graft] def auditFrame(spark: SparkSession, layout: Layout,
                                artifact: String = "inverted"): DataFrame = {
    backfill(spark, layout, Lens, Footprint, Impacts)
    // one read per store directory: each read infers its schema in a job
    val reads = scala.collection.mutable.Map.empty[String, DataFrame]
    def read(path: String): DataFrame = reads.getOrElseUpdate(path, spark.read.parquet(path))
    val tombs = tombDirOf(layout)
    def live(df: DataFrame): DataFrame =
      if (!hasParquet(tombs)) df
      else df.join(broadcast(read(tombs.toString).select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
    val stores = storesOf(layout)
    val derived = Store.audit(artifact, leaseRoot(layout), stores, read,
      storedInput(read, layout, _), live)
    if (!stores.contains(Positions)) derived
    else derived.unionByName(Store.auditRow(artifact, "positions_match_tf",
      sum(when(col("ptf").isNull || col("tf").isNull ||
        col("ptf") =!= col("tf"), 1L).otherwise(0L)),
      read(positionsPathOf(layout))
        .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("ptf"))
        .join(read(layout.dataPath).select(col("w"), col("doc_id"), col("tf")),
          Seq("w", "doc_id"), "full_outer")))
  }

  /** New-doc derivation for the declared upsert query: the first
    * [[UpsertSrcCount]] docs re-keyed past the id domain by
    * [[UpsertIdOffset]] (the MAX()+1 discipline with a fixed headroom
    * constant — doc_id tops out at 5k on the largest SF) — deterministic,
    * so the oracle replays the same corpus growth as a UNION. */
  val UpsertSrcCount = 10
  val UpsertIdOffset = 1000000L

  /** Incremental DOCUMENT ADD into an existing index — the maintenance
    * path the dict layout exists for. The tokenizer dispatches from the
    * index's own marker ([[tokKindOf]]) — word for `docs-inverted`,
    * shingles for `docs-gram-inverted` — so ONE maintenance pipeline
    * serves both indexes and a mismatched attach cannot corrupt either.
    * Three moves, each touching only what changed:
    *  - postings: pure APPEND of the new docs' (w, doc_id, tf, dl) rows
    *    into their term-bucket directories — new doc_ids add part files,
    *    zero read-modify-write, I/O ∝ the new batch (REPLACING an
    *    existing doc_id is the partition-rewrite path of
    *    [[IndexCatalog.upsertInto]], not this)
    *  - dict: TOUCHED-BUCKET df merge ([[mergeDictBuckets]]): only the
    *    batch terms' tbucket partitions read, merge, and dynamic-
    *    overwrite — I/O ∝ the batch's term buckets even when the
    *    vocabulary itself is corpus-scale (the gram index). This bounded
    *    term-level rewrite is exactly the cost denormalizing df would
    *    multiply onto every posting
    *  - stats: exact-integer increments (n += Δn, total_dl += Δdl) —
    *    no FP drift, so an upserted index serves the SAME avgdl a fresh
    *    build over the grown corpus would */
  def upsertDocs(spark: SparkSession, layout: Layout, docs: DataFrame): Unit =
      WriterLease.withLease(leaseRoot(layout)) {
    // backfill BEFORE the posting append: a pre-sidecar index derives its
    // lens (and impact bounds) from the stored postings, which must not
    // yet include this batch
    backfill(spark, layout, Lens, Impacts)
    val (postings, lens0) = postingsOfWith(docs, tokenizerOf(tokKindOf(layout)))
    // the two batch pins tokenize independently (lens is a subframe of
    // the postings plan, so each checkpoint runs its own pass) — the
    // passes are map-side work over the same batch and overlap (§2.6)
    var newPost: DataFrame = null // consumed by data append + 4 sidecar deltas
    var lens: DataFrame = null // consumed twice: stats delta + dbucket append
    graft.operators.Par.run(Seq(
      () => newPost = postings.withColumn("tbucket", bucketCol(col("w")))
        .localCheckpoint(eager = true),
      () => lens = lens0.localCheckpoint(eager = true)),
      parallelism = 2)
    // The EIGHT store updates below touch eight DISJOINT paths (data,
    // dict+lex/rev/del, impacts, stats, lens, footprint, positions,
    // norms) and all derive from the checkpointed batch frames — they
    // run as OVERLAPPED jobs (Par, guide §2.6) under the ONE held lease
    // (none of them re-acquires it): per-batch wall clock drops from the
    // sum of ~8 small sequential job chains to ~max of them, measured in
    // OPTIMIZATION_r18.md. Crash-consistency is unchanged in kind — a
    // kill mid-upsert leaves partially-updated sidecars exactly as the
    // sequential form could (just in any prefix, not one fixed order);
    // the streaming path replays the whole batch by marker, and the
    // audit/repair family is the named backstop for direct callers.
    val tasks = Seq.newBuilder[() => Unit]
    tasks += (() => Store.append(leaseRoot(layout), Data, newPost))
    tasks += (() =>
      mergeDictBuckets(spark, layout,
        newPost.groupBy(col("w")).agg(count(lit(1)).as("ddf"))))
    // impact bounds: max/min-merge of the batch's per-term extremes into
    // the touched buckets — EXACT for add-only maintenance (the max of two
    // true maxima is the true maximum of the union)
    tasks += (() => mergeImpactBuckets(spark, layout, Impacts.derive(newPost)))
    tasks += (() => {
      val d = lens.agg(count(lit(1)).as("dn"), sum(col("dl")).as("ddl")).head()
      val mergedStats = spark.read.parquet(layout.statsPath)
        .select((col("n") + d.getLong(0)).as("n"),
          (col("total_dl") + d.getLong(1)).as("total_dl"))
      Maintenance.publishReplace(spark, layout.statsPath)(
        mergedStats.coalesce(1).write.mode("overwrite").parquet(_))
    })
    // lens follows the corpus: the batch's (doc_id, dl) rows append into
    // their dbucket shards (∝ batch), so a later DELETE of an upserted
    // doc finds its length in a pruned read
    tasks += (() => Store.append(leaseRoot(layout), Lens, Lens.derive(lens)))
    // footprint follows too: new doc_ids append their (doc_id, tbucket)
    // pairs into their dbucket shards — delete-side discovery stays
    // batch-proportional for docs added after the build
    tasks += (() => Store.append(leaseRoot(layout), Footprint, Footprint.derive(newPost)))
    // positional sidecar follows (word indexes carry it from build):
    // pure append of the batch's occurrence stream — I/O ∝ batch
    if (Files.exists(Paths.get(positionsPathOf(layout))))
      tasks += (() => Store.append(leaseRoot(layout), Positions,
        byTerm(positionsOf(docs, tokenizerOf(tokKindOf(layout))))))
    // squared-norm sidecar follows (embed indexes carry it from build):
    // a NEW doc's n2 is a pure per-doc aggregate of its own batch
    // postings — append ∝ batch into the batch ids' dbucket shards
    if (Files.exists(Paths.get(normsPathOf(layout))))
      tasks += (() => Store.append(leaseRoot(layout), Norms, Norms.derive(newPost)))
    graft.operators.Par.run(tasks.result(), parallelism = 6)
  }

  /** TOUCHED-BUCKET dictionary merge — the maintenance move that keeps
    * dict I/O ∝ the batch when the vocabulary is corpus-scale. `delta` is
    * a SIGNED per-term df adjustment (w, ddf): upsert passes increments,
    * vacuum negative decrements. Only the delta terms' tbucket partitions
    * are read (partition-pruned scan), merged (full-outer: new terms
    * appear, zeroed terms drop), and dynamic-overwritten; a bucket whose
    * every term died has its directory removed explicitly (the postings'
    * overwritePartitions discipline, one directory over). The merge frame
    * is checkpointed before the write — dynamic overwrite must never
    * consume lineage over the files it is replacing. */
  private def mergeDictBuckets(spark: SparkSession, layout: Layout,
                               delta: DataFrame): Unit = {
    import spark.implicits._
    val d = delta.withColumn("tbucket", bucketCol(col("w")))
      .localCheckpoint(eager = true)
    val touched = d.select(col("tbucket")).distinct()
      .as[Long].collect().sorted.toIndexedSeq
    if (touched.isEmpty) return
    val staged = Maintenance.stageShards(Seq("tbucket"),
      spark.read.parquet(layout.dictPath)
        .filter(col("tbucket").isin(touched: _*))
        .select(col("w"), col("df"))
        .join(d.select(col("w"), col("ddf")), Seq("w"), "full_outer")
        .select(col("w"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("ddf"), lit(0L))).as("df"))
        .filter(col("df") > 0L)
        .withColumn("tbucket", bucketCol(col("w"))),
      touched.map(Seq(_)))
    val merged = staged.out
    // the deletion-neighborhood sidecar needs the KEY-SET DELTA (terms
    // entering / leaving the dictionary), derivable only from the
    // PRE-merge slice — computed and pinned (two overlapped read-only
    // checkpoints) STRICTLY before the dict overwrite below starts
    val dictDelExists = Files.exists(Paths.get(dictDelPathOf(layout)))
    var enteringTerms: DataFrame = null
    var leavingTerms: DataFrame = null
    if (dictDelExists) {
      val preKeys = spark.read.parquet(layout.dictPath)
        .filter(col("tbucket").isin(touched: _*)).select(col("w"))
      graft.operators.Par.run(Seq(
        () => enteringTerms =
          merged.select(col("w")).join(preKeys, Seq("w"), "left_anti")
            .localCheckpoint(eager = true),
        () => leavingTerms =
          preKeys.join(d.select(col("w")), Seq("w"), "left_semi")
            .join(merged.select(col("w")), Seq("w"), "left_anti")
            .localCheckpoint(eager = true)),
        parallelism = 2)
    }
    // The dict overwrite and the three key-set sidecar merges touch four
    // DISJOINT stores (dict tbuckets, dictlex/, dictrev/, dictdel/) and
    // consume only the pinned frames above (merged / d / entering /
    // leaving — every read of the pre-merge dict slice is already
    // checkpointed), so they run as overlapped jobs (Par, guide §2.6)
    // instead of a ~20-job sequential chain — this chain is the critical
    // path of every word-index maintenance trigger. Crash-consistency is
    // the upsertDocs story: any SUBSET of the four stores may land; the
    // streaming path replays whole batches by marker and the audit/
    // repair family heals direct callers.
    val lexExists = Files.exists(Paths.get(dictLexPathOf(layout)))
    val revExists = Files.exists(Paths.get(dictRevPathOf(layout)))
    val deltaTermsCkpt =
      if (lexExists || revExists)
        d.select(col("w")).distinct().localCheckpoint(eager = true)
      else null
    val folds = Seq.newBuilder[() => Unit]
    folds += (() => Maintenance.commitShards(layout.dictPath, staged))
    // the lex sidecar follows the dict's KEY SET (word indexes): only the
    // delta terms can enter or leave the dictionary in this merge, so the
    // lex update reads and overwrites exactly their p2 partitions
    if (lexExists)
      folds += (() => mergeLexPartitions(spark, layout, deltaTermsCkpt,
        merged.select(col("w"))))
    // the reversed-term sidecar follows the same key set on the reversed
    // prefix key (one r2 partition per term — the lex discipline)
    if (revExists)
      folds += (() => mergeRevPartitions(spark, layout, deltaTermsCkpt,
        merged.select(col("w"))))
    // the deletion-neighborhood sidecar follows the same key set, with
    // its own cost discipline (append-dominant — see mergeDelPartitions)
    if (dictDelExists)
      folds += (() => mergeDelPartitions(spark, layout, enteringTerms, leavingTerms))
    graft.operators.Par.run(folds.result(), parallelism = 4)
  }

  /** TOUCHED-PARTITION lex merge — [[mergeDictBuckets]]' discipline on
    * the prefix key: the delta terms' p2 partitions are read, the dead
    * delta terms (no longer in the merged dict slice) drop, the alive
    * ones enter (idempotent — re-adding an existing key is a no-op by
    * the distinct), and only those partitions dynamic-overwrite. I/O ∝
    * the batch's prefix footprint, never the vocabulary. `deltaTerms`
    * must be pre-checkpointed by the caller (it is consumed three times,
    * and the lex and rev merges share one pinned frame). */
  private def mergeLexPartitions(spark: SparkSession, layout: Layout,
                                 deltaTerms: DataFrame,
                                 liveTouched: DataFrame): Unit = {
    import spark.implicits._
    val lexPath = dictLexPathOf(layout)
    val delta = deltaTerms
    val touchedP2 = delta.select(lexP2Col(col("w")).as("p2")).distinct()
      .as[String].collect().sorted.toIndexedSeq
    if (touchedP2.isEmpty) return
    val aliveDelta = delta.join(liveTouched, Seq("w"), "left_semi")
    val deadDelta = delta.join(liveTouched, Seq("w"), "left_anti")
    val existing = spark.read.parquet(lexPath)
      .filter(col("p2").isin(touchedP2: _*)).select(col("w"))
    Maintenance.rewriteShards(lexPath, Seq("p2"),
      lexRowsOf(existing.unionByName(aliveDelta).distinct()
        .join(deadDelta, Seq("w"), "left_anti")),
      touchedP2.map(Seq(_)))
  }

  /** TOUCHED-PARTITION reversed-term merge — [[mergeLexPartitions]]'
    * discipline verbatim on the reversed-prefix key: the delta terms'
    * r2 partitions read, dead delta terms drop, alive ones enter, only
    * those partitions dynamic-overwrite. I/O ∝ the batch's reversed-
    * prefix footprint, never the vocabulary. */
  private def mergeRevPartitions(spark: SparkSession, layout: Layout,
                                 deltaTerms: DataFrame,
                                 liveTouched: DataFrame): Unit = {
    import spark.implicits._
    val revPath = dictRevPathOf(layout)
    val delta = deltaTerms
    val touchedR2 = delta.select(revP2Col(col("w")).as("r2")).distinct()
      .as[String].collect().sorted.toIndexedSeq
    if (touchedR2.isEmpty) return
    val aliveDelta = delta.join(liveTouched, Seq("w"), "left_semi")
    val deadDelta = delta.join(liveTouched, Seq("w"), "left_anti")
    val existing = spark.read.parquet(revPath)
      .filter(col("r2").isin(touchedR2: _*)).select(col("w"))
    Maintenance.rewriteShards(revPath, Seq("r2"),
      revRowsOf(existing.unionByName(aliveDelta).distinct()
        .join(deadDelta, Seq("w"), "left_anti")),
      touchedR2.map(Seq(_)))
  }

  /** Deletion-neighborhood maintenance — APPEND-DOMINANT, because the
    * variant key defeats the touched-bucket discipline: a single term's
    * ~|w|²/2 variants hash across ~every vbucket, so a read-modify-write
    * merge (the lex/dict shape) re-reads the WHOLE store on every batch
    * — measured as a 2.5× tax on per-trigger streaming maintenance
    * before this form. Instead:
    *  - a term ENTERING the dictionary appends its variant rows as new
    *    part files in their vbucket dirs — pure append, zero read, I/O ∝
    *    the batch's new terms (the posting-append discipline).
    *    Exactness needs no dedup: a term appends only when absent, and
    *    its rows leave in the same merge it dies, so (v, w) rows are
    *    never duplicated;
    *  - a term LEAVING the dictionary (its last posting died — vacuum's
    *    decrement merge, never the add path) anti-joins its rows out of
    *    the store. Its variants touch ~every vbucket, so this fold is
    *    the ONE vocabulary-scale-metadata step in the delete lifecycle
    *    (the store is ~Σ|w|²/2 rows over the WORD vocabulary — the
    *    Heaps budget, far below posting scale) and it amortizes over
    *    vacuum's posting rewrites.
    * Appended part files accumulate per trigger; [[compactStores]] folds
    * them (the shared segment-merge discipline). */
  private def mergeDelPartitions(spark: SparkSession, layout: Layout,
                                 enteringTerms: DataFrame,
                                 leavingTerms: DataFrame): Unit = {
    import spark.implicits._
    val delPath = dictDelPathOf(layout)
    if (enteringTerms.limit(1).count() > 0)
      Store.append(leaseRoot(layout), DictDel, DictDel.derive(enteringTerms))
    if (leavingTerms.limit(1).count() > 0) {
      val deadRows = DictDel.derive(leavingTerms).localCheckpoint(eager = true)
      val touchedVb = deadRows.select(col("vbucket")).distinct()
        .as[Long].collect().sorted.toIndexedSeq
      Maintenance.rewriteShards(delPath, Seq("vbucket"),
        spark.read.parquet(delPath)
          .filter(col("vbucket").isin(touchedVb: _*))
          .select(col("v"), col("w"))
          .join(leavingTerms, Seq("w"), "left_anti")
          .withColumn("vbucket", bucketCol(col("v"))),
        touchedVb.map(Seq(_)))
    }
  }

  /** TOUCHED-BUCKET impact merge — [[mergeDictBuckets]]' discipline with
    * max/min combine: only the batch terms' tbucket partitions read,
    * merge (greatest tf_max, least dl_min), and dynamic-overwrite. Exact
    * for adds; deletes leave bounds valid-but-stale (vacuum refreshes the
    * touched buckets exactly). */
  private def mergeImpactBuckets(spark: SparkSession, layout: Layout,
                                 batchImp: DataFrame): Unit = {
    import spark.implicits._
    val d = batchImp
      .select(col("w"), col("tf_max").as("btf"), col("dl_min").as("bdl"))
      .withColumn("tbucket", bucketCol(col("w")))
      .localCheckpoint(eager = true)
    val touched = d.select(col("tbucket")).distinct()
      .as[Long].collect().sorted.toIndexedSeq
    if (touched.isEmpty) return
    // a full-outer max/min merge never empties a shard: no touched set
    Maintenance.rewriteShards(impactsPathOf(layout), Seq("tbucket"),
      spark.read.parquet(impactsPathOf(layout))
        .filter(col("tbucket").isin(touched: _*))
        .select(col("w"), col("tf_max"), col("dl_min"))
        .join(d.select(col("w"), col("btf"), col("bdl")), Seq("w"), "full_outer")
        .select(col("w"),
          greatest(coalesce(col("tf_max"), lit(0L)),
            coalesce(col("btf"), lit(0L))).as("tf_max"),
          least(coalesce(col("dl_min"), lit(Int.MaxValue)),
            coalesce(col("bdl"), lit(Int.MaxValue))).as("dl_min"))
        .withColumn("tbucket", bucketCol(col("w"))))
  }

  /** The lens rows for a batch of doc ids, pruned to the ids' dbucket
    * shards — the delete path's discovery read (∝ batch, never the
    * corpus). `dbuckets` is the batch's precomputed shard set.
    * Package-private so the spec can assert the plan shape (dbucket
    * PartitionFilters) of the exact frame deleteDocs joins. */
  private[graft] def lensFor(spark: SparkSession, layout: Layout,
                             dbuckets: Seq[Long]): DataFrame =
    spark.read.parquet(lensPathOf(layout))
      .filter(col("dbucket").isin(dbuckets: _*))
      .select(col("doc_id"), col("dl"))

  /** Incremental DOCUMENT DELETE — the lexical twin of
    * [[IndexCatalog.tombstone]], completing the maintenance symmetry
    * between the two retrieval indexes (the vector index has
    * delete+vacuum+CDC; before this the inverted index was add-only).
    * A term-partitioned layout cannot cheaply reach a doc's postings by
    * id, so deletes follow the Lucene deleted-docs discipline instead of
    * the partition-rewrite one:
    *  - tombstones: the batch's ids APPEND to `deletes/` — I/O ∝ batch
    *  - stats: (n, total_dl) decrement EXACTLY via the lens sidecar
    *    (pushed-down id join — batch-proportional), so avgdl equals a
    *    from-scratch rebuild's immediately, no FP drift
    *  - postings and dict stay untouched; the read path masks tombstoned
    *    postings and corrects each scanned term's df exactly
    *    ([[bm25Over]]), and [[vacuum]] folds the tombstones into the
    *    physical layout when their read-time cost outgrows a rewrite
    * Ids with no live lens row (never indexed, or already tombstoned) are
    * dropped — a delete is idempotent and never double-decrements.
    * Re-adding a deleted doc_id via [[upsertDocs]] is NOT masked (the
    * tombstone hides only the OLD postings' rows... which are
    * indistinguishable from re-added ones by id alone) — id reuse under
    * pending tombstones needs the versioned discipline
    * ([[IndexCatalog.upsertInto]]'s versionCol); callers vacuum first. */
  def deleteDocs(spark: SparkSession, layout: Layout, ids: DataFrame): Unit =
      WriterLease.withLease(leaseRoot(layout)) {
    backfill(spark, layout, Lens)
    val tombDir = tombDirOf(layout)
    val existing =
      if (hasParquet(tombDir)) spark.read.parquet(tombDir.toString)
      else spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
    val batch = ids.select(col("doc_id")).distinct().localCheckpoint(eager = true)
    // the lens read prunes to the batch ids' dbucket shards (≤ DocBuckets
    // values, plan-time metadata) — delete-time discovery ∝ batch, never
    // a full scan of the corpus-sized sidecar
    val dbuckets = batch.select(dbucketCol(col("doc_id")).as("b")).distinct()
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    val fresh = batch
      .join(existing.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(lensFor(spark, layout, dbuckets), Seq("doc_id")) // only docs in the index
      .localCheckpoint(eager = true)
    val d = fresh.agg(count(lit(1)).as("dn"),
      coalesce(sum(col("dl")), lit(0L)).as("ddl")).head()
    if (d.getLong(0) > 0L) {
      // stats swap and tombstone append touch disjoint paths and both
      // derive from the pinned frames — overlapped jobs (Par, §2.6)
      graft.operators.Par.run(Seq(
        () => {
          val mergedStats = spark.read.parquet(layout.statsPath)
            .select((col("n") - d.getLong(0)).as("n"),
              (col("total_dl") - d.getLong(1)).as("total_dl"))
          Maintenance.publishReplace(spark, layout.statsPath)(
            mergedStats.coalesce(1).write.mode("overwrite").parquet(_))
        },
        () => fresh.select(col("doc_id")).coalesce(1)
          .write.mode("append").parquet(tombDir.toString)),
        parallelism = 2)
    }
  }

  /** Exact TOUCHED-BUCKET refresh of the impact bounds under pending
    * tombstones — the churn-era MaxScore maintenance op. Deletes leave
    * (tf_max, dl_min) valid-but-stale (an upper bound over a superset
    * still bounds the subset), which is correct but loosens pruning:
    * if the deleted docs held a term's extremes, its ub stays inflated,
    * the threshold-beating essential prefix grows, and the candidate
    * set with it. Lucene's per-segment-static discipline refreshes at
    * merge (our [[vacuum]]); this op is the between-vacuums form a
    * deployment schedules when the measured pruning ratio degrades:
    * discovery via the footprint sidecar (∝ the tombstones' dbucket
    * shards), then an exact max/min recompute over ONLY the touched
    * tbuckets' LIVE postings (tombstones masked), dynamic-overwritten.
    * Never wired into [[deleteDocs]] itself — a delete stays O(batch)
    * metadata; tightness is bought explicitly, like compaction.
    * Serving results are bound-invariant either way (MaxScore is exact
    * under any VALID bound — spec-gated); only the candidate volume
    * changes. */
  def refreshImpacts(spark: SparkSession, layout: Layout): Unit =
      WriterLease.withLease(leaseRoot(layout)) {
    import spark.implicits._
    val tombDir = tombDirOf(layout)
    if (!hasParquet(tombDir)) return // add-only merges keep bounds exact
    if (!Files.exists(Paths.get(impactsPathOf(layout)))) return
    backfill(spark, layout, Footprint)
    val tomb = spark.read.parquet(tombDir.toString).select(col("doc_id"))
      .localCheckpoint(eager = true)
    val dbuckets = tomb.select(dbucketCol(col("doc_id")).as("b")).distinct()
      .as[Long].collect().sorted.toIndexedSeq
    val touched = spark.read.parquet(footprintPathOf(layout))
      .filter(col("dbucket").isin(dbuckets: _*))
      .join(broadcast(tomb), Seq("doc_id"))
      .select(col("tbucket")).distinct()
      .as[Long].collect().sorted.toIndexedSeq
    if (touched.isEmpty) return
    Maintenance.rewriteShards(impactsPathOf(layout), Seq("tbucket"),
      Impacts.derive(spark.read.parquet(layout.dataPath)
        .filter(col("tbucket").isin(touched: _*))
        .join(broadcast(tomb), Seq("doc_id"), "left_anti")),
      touched.map(Seq(_)))
  }

  /** Fold pending tombstones into the physical layout — the lexical
    * [[IndexCatalog.vacuumTombstones]]: after this, the index is
    * bit-identical to a from-scratch build over the reduced corpus and
    * the read path pays zero masking cost.
    *  - postings: ONE column-pruned discovery scan finds the dead rows;
    *    only their tbucket partitions rewrite (dynamic partition
    *    overwrite, directories the rewrite emptied removed explicitly —
    *    the [[IndexCatalog]] overwritePartitions discipline)
    *  - dict: term-level df decrements from the dead postings' counts
    *    through the touched-bucket merge ([[mergeDictBuckets]] — only the
    *    dead terms' dict buckets rewrite); terms whose every doc died
    *    drop entirely (a rebuild would never see them)
    *  - lens: tombstoned docs drop, restoring the invariant that lens
    *    rows == docs contributing to stats (so a post-vacuum delete of a
    *    re-added id decrements correctly)
    *  - `deletes/` clears — stats were already exact at delete time
    *  - footprint: the dead docs' rows drop (touched-dbucket dynamic
    *    overwrite — ∝ the batch's dbucket shards)
    * Cost: DISCOVERY reads the footprint sidecar pruned to the batch
    * ids' dbucket shards (doc-level metadata — never the posting store),
    * yielding the touched term buckets; the posting scan that extracts
    * the dead (w, tbucket) rows and the REWRITE are both pruned to those
    * buckets. Every step is ∝ the batch's bucket footprint, none ∝ the
    * corpus. */
  def vacuum(spark: SparkSession, layout: Layout): Unit =
      WriterLease.withLease(leaseRoot(layout)) {
    import spark.implicits._
    val tombDir = tombDirOf(layout)
    if (!hasParquet(tombDir)) return
    backfill(spark, layout, Footprint)
    val tomb = spark.read.parquet(tombDir.toString).select(col("doc_id"))
      .localCheckpoint(eager = true)
    // the batch's dbucket shards — ≤ DocBuckets values, plan-time metadata
    val dbuckets = tomb.select(dbucketCol(col("doc_id")).as("b")).distinct()
      .as[Long].collect().sorted.toIndexedSeq
    val footPath = footprintPathOf(layout)
    val deadFoot = spark.read.parquet(footPath)
      .filter(col("dbucket").isin(dbuckets: _*))
      .join(broadcast(tomb), Seq("doc_id"))
      .localCheckpoint(eager = true) // (doc_id, tbucket) of the dead docs
    val touched = deadFoot.select(col("tbucket")).distinct()
      .as[Long].collect().sorted.toIndexedSeq
    // dead postings from the TOUCHED buckets only — the footprint already
    // proved no other bucket holds a dead row
    val post = spark.read.parquet(layout.dataPath)
    val dead = post.filter(col("tbucket").isin(touched: _*))
      .join(broadcast(tomb), Seq("doc_id"))
      .select(col("tbucket"), col("w"))
      .localCheckpoint(eager = true)
    // The store folds below touch DISJOINT paths and all derive from the
    // checkpointed tomb/dead frames — overlapped jobs (Par, guide §2.6)
    // under the one held lease, like upsertDocs' append fan-out. The one
    // real ordering edge stays inside its task: the impacts refresh reads
    // the POST-overwrite postings, so it runs strictly after the
    // survivors' dynamic overwrite within the same task. The tombstone
    // dir is deleted only after every fold has finished.
    val folds = Seq.newBuilder[() => Unit]
    if (touched.nonEmpty) {
      val touchedShards = touched.map(Seq(_))
      folds += (() => {
        Maintenance.rewriteShards(layout.dataPath, Seq("tbucket"),
          post.filter(col("tbucket").isin(touched: _*))
            .join(broadcast(tomb), Seq("doc_id"), "left_anti"),
          touchedShards)
        // impact bounds: deletes left them valid-but-stale; refresh the
        // touched buckets EXACTLY from the surviving postings (the
        // per-segment-static impact discipline — recompute at compaction).
        // A pre-sidecar index skips this: its eventual backfill reads the
        // already-vacuumed postings, which is the same exact state.
        if (Files.exists(Paths.get(impactsPathOf(layout))))
          Maintenance.rewriteShards(impactsPathOf(layout), Seq("tbucket"),
            Impacts.derive(spark.read.parquet(layout.dataPath)
              .filter(col("tbucket").isin(touched: _*))),
            touchedShards)
      })
      // signed decrement through the touched-bucket merge: only the dead
      // terms' dict buckets rewrite; terms whose every doc died drop
      folds += (() =>
        mergeDictBuckets(spark, layout,
          dead.groupBy(col("w")).agg((-count(lit(1))).as("ddf"))))
      // positional sidecar: the dead docs' occurrence rows live in the
      // SAME term buckets as their postings (one tokenizer, one hash), so
      // the footprint-derived touched set covers this fold too
      if (Files.exists(Paths.get(positionsPathOf(layout))))
        folds += (() =>
          Maintenance.rewriteShards(positionsPathOf(layout), Seq("tbucket"),
            spark.read.parquet(positionsPathOf(layout))
              .filter(col("tbucket").isin(touched: _*))
              .join(broadcast(tomb), Seq("doc_id"), "left_anti"),
            touchedShards))
    }
    if (dbuckets.nonEmpty) {
      // lens fold: the dead docs' rows drop from their dbucket shards —
      // the same touched-dbucket dynamic overwrite as the footprint fold
      // (the flat-store full rewrite this replaced was the last
      // corpus-proportional step in the delete lifecycle)
      val dbucketShards = dbuckets.map(Seq(_))
      def foldByDoc(path: String): () => Unit = () =>
        Maintenance.rewriteShards(path, Seq("dbucket"),
          spark.read.parquet(path)
            .filter(col("dbucket").isin(dbuckets: _*))
            .join(broadcast(tomb), Seq("doc_id"), "left_anti"),
          dbucketShards)
      folds += foldByDoc(lensPathOf(layout))
      // norms fold (embed indexes): the dead docs' n2 rows drop from
      // their dbucket shards — the lens fold one sidecar over
      if (Files.exists(Paths.get(normsPathOf(layout))))
        folds += foldByDoc(normsPathOf(layout))
      // footprint fold: the dead docs' rows drop from their dbucket
      // shards (dynamic overwrite of the batch's dbuckets; shards the
      // fold emptied removed explicitly — same discipline as postings)
      folds += foldByDoc(footPath)
    }
    graft.operators.Par.run(folds.result(), parallelism = 6)
    Maintenance.deleteRecursively(tombDir)
  }

  /** REPAIR: re-derive every DERIVED store of the index's kind from the
    * stored postings ([[Store.rebuild]]) — the recovery op
    * [[auditFrame]]'s findings point at. Each derived store is a pure
    * function of the stored postings, or of a derived store rebuilt
    * before it (dict → its key-set sidecars, lens → stats), plus the
    * stored zero-length lens rows the postings cannot show
    * ([[storedInput]]). So one pass restores derived == primary no matter
    * which sidecar drifted (the blanket form is the simplest correct
    * recovery and is idempotent on healthy stores). POSITIONS are a
    * primary store themselves (occurrence order is not derivable from
    * tf) — a damaged positional sidecar needs the corpus, i.e. a
    * rebuild, not a repair. Pending delete tombstones must be vacuumed
    * first: lens keeps the dead rows until vacuum while stats were
    * decremented at delete time, so a repair under pending deletes would
    * resurrect pre-delete statistics. */
  private[graft] def rebuildDerived(spark: SparkSession, layout: Layout): Unit =
      WriterLease.withLease(leaseRoot(layout)) {
    require(!hasParquet(tombDirOf(layout)),
      "pending delete tombstones: vacuum before repair — rebuilding " +
        "stats from postings would resurrect the deleted docs' counts")
    Store.rebuild(spark, leaseRoot(layout), storesOf(layout),
      storedInput(spark.read.parquet(_), layout, _))
  }

  /** Q-bm25-upsert: index MAINTENANCE end-to-end — clone the shared
    * cached index (a lifecycle query must leave the cache untouched and
    * stay re-runnable: the q_stream_upsert discipline), add
    * [[UpsertSrcCount]] new documents via [[upsertDocs]], and serve the
    * same fixed BM25 query from the grown index through literally the
    * same plan as q_bm25_indexed ([[bm25Over]]). The oracle rebuilds
    * from scratch over the grown corpus — incremental maintenance and
    * full rebuild must agree bit-for-bit (df, n, and avgdl all shift
    * with the new docs, so a stale or drifting stat fails the hash). */
  def bm25Upsert(spark: SparkSession, dir: String): DataFrame = {
    val layout = cloneIndex(spark, dir, "bm25-upsert")
    upsertDocs(spark, layout, upsertTwins(spark, dir))
    bm25Over(spark, layout)
  }

  /** The standard corpus-growth batch every upsert-lifecycle query
    * shares: docs 0..[[UpsertSrcCount]] re-keyed past the id domain. */
  private def upsertTwins(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < UpsertSrcCount)
      .select((col("doc_id") + UpsertIdOffset).as("doc_id"), col("text"))

  /** Q-bm25-compact: SEGMENT-MERGE for the inverted index — the Lucene
    * compaction story applied to the posting store. Incremental adds are
    * pure appends ([[upsertDocs]]), so a bucket directory accumulates one
    * file per trigger; after enough churn the per-query open-file cost
    * dominates and a merge pays for itself. The lifecycle here: clone the
    * warm index, apply the standard corpus growth as TWO upsert batches
    * (guaranteeing multi-file buckets), fold EVERY fragmented append-only
    * store — postings, footprint, positional sidecar, and lens — through
    * [[Maintenance.compactPartitions]] (crash-safe manifest protocol,
    * compact partitions untouched), and serve the fixed query from the
    * compacted layout. Every appender the upsert path touches is covered:
    * without this, streaming maintenance grows one file per trigger per
    * touched partition FOREVER on add-only workloads, and at 100 TB the
    * listing/footer cost degrades every read (the r13 verdict's one
    * structural scale item). Shares q_bm25_upsert's from-scratch oracle:
    * a file-level rewrite must be invisible in every served statistic.
    * Fragmentation-before / one-file-after is spec-gated per store. */
  def bm25Compact(spark: SparkSession, dir: String): DataFrame = {
    val layout = cloneIndex(spark, dir, "bm25-compact")
    val twins = upsertTwins(spark, dir)
    val half = UpsertIdOffset + UpsertSrcCount / 2
    upsertDocs(spark, layout, twins.filter(col("doc_id") < half))
    upsertDocs(spark, layout, twins.filter(col("doc_id") >= half))
    compactStores(spark, layout)
    bm25Over(spark, layout)
  }

  /** Fold every fragmented partition of the index's append-only stores —
    * the one maintenance move a long-running ingest schedules when the
    * [[Maintenance.fileCounts]] census crosses its threshold: the stores
    * declared `appended` ([[Store.compact]]). Dict, impacts, lex and rev
    * are NOT: their maintenance is already a touched-bucket dynamic
    * overwrite (one file per bucket by construction, never an append). */
  private[graft] def compactStores(spark: SparkSession, layout: Layout): Unit =
    WriterLease.withLease(leaseRoot(layout))(
      Store.compact(spark, leaseRoot(layout), Stores))

  // the oracle replays the grown corpus as a UNION and re-derives every
  // statistic from scratch — the strongest form of the "incremental ==
  // rebuild" claim
  val bm25UpsertSql: String = TextOps.bm25Sql
    .replace("WITH toks AS",
      s"WITH d2 AS (SELECT doc_id, text FROM documents UNION ALL " +
        s"SELECT doc_id + $UpsertIdOffset AS doc_id, text FROM documents " +
        s"WHERE doc_id < $UpsertSrcCount),\ntoks AS")
    .replace("FROM documents)", "FROM d2)")

  /** Per-micro-batch maintenance body, shared by the [[maintainIndex]]
    * sink and the redelivery spec: dedupe the batch by doc_id
    * (content-hash tie-break — an at-least-once upstream can duplicate a
    * doc with different payloads, and a retry must pick the SAME
    * winner), then merge via [[upsertDocs]] (posting append I/O ∝ the
    * batch's term buckets, touched-bucket dict merge, exact-integer
    * stats — per trigger). A `_stream_commits/<batchId>` marker written
    * AFTER the merge makes a REDELIVERED micro-batch (the
    * foreachBatch restart contract) a no-op — the standard
    * batchId-dedup idempotent-sink recipe. The narrower crash window
    * (power loss between the posting append and the marker) is closed
    * only by moving postings to the touched-partition overwrite merge
    * ([[IndexCatalog.upsertInto]]'s discipline) at the cost of
    * rewriting every touched bucket's full posting shard per trigger —
    * the trade a deployment picks per durability budget. */
  private[graft] def applyStreamBatch(layout: Layout, batch: DataFrame,
                                      batchId: Long): Unit = {
    val commits = Paths.get(layout.dataPath).getParent.resolve("_stream_commits")
    Files.createDirectories(commits)
    val marker = commits.resolve(batchId.toString)
    if (!Files.exists(marker)) {
      val deduped = graft.operators.Upsert.lastWriteWins(
          batch.withColumn("version", lit(0L)), Seq("doc_id"), "version",
          tieBreak = Seq(xxhash64(col("text"))))
        .drop("version")
        .localCheckpoint(true)
      if (!deduped.isEmpty) upsertDocs(batch.sparkSession, layout, deduped)
      Files.writeString(marker, "")
    }
  }

  /** Attach a document ADD stream (`doc_id, text`) to ANY persisted
    * inverted index as a foreachBatch maintenance sink — the lexical
    * twin of [[graft.streaming.VectorStream.maintainIndex]]: one CDC
    * pipeline can keep BOTH retrieval indexes fresh, and since the
    * tokenizer dispatches from the target index's own marker
    * ([[tokKindOf]]), attaching this sink to the GRAM index maintains it
    * with shingle features — a word/gram mix-up is structurally
    * impossible. Caller starts/stops the returned query. Replacing an
    * existing doc_id is the partition-rewrite path
    * ([[IndexCatalog.upsertInto]]'s discipline over a forward index),
    * not this. */
  def maintainIndex(stream: DataFrame, layout: Layout)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyStreamBatch(layout, batch, batchId)
      }

  /** Q-stream-bm25-upsert: STREAMING MAINTENANCE for the inverted index
    * run to completion — the [[bm25Upsert]] corpus growth delivered as
    * TWO micro-batches through [[maintainIndex]] instead of one batch
    * call (the q_stream_upsert lifecycle discipline: clone the shared
    * warm index, replay staged stream files, serve from the grown
    * state). The final persisted state must hash-match q_bm25_upsert's
    * incremental==rebuild oracle: multi-trigger streaming maintenance,
    * one-shot batch maintenance, and a from-scratch rebuild over the
    * grown corpus all agree bit-for-bit (df, n, avgdl all shift with
    * the new docs — a stale or drifting stat fails the hash). */
  def streamBm25Upsert(spark: SparkSession, dir: String): DataFrame = {
    val newDocs = Tables.documents(spark, dir)
      .filter(col("doc_id") < UpsertSrcCount)
      .select((col("doc_id") + UpsertIdOffset).as("doc_id"), col("text"))
    val staged = graft.Scratch.dir("bm25-stream-in")
    val half = UpsertIdOffset + UpsertSrcCount / 2
    // index clone and feed staging are independent setup steps — overlapped
    var layout: Layout = null
    graft.operators.Par.run(Seq(
      () => layout = cloneIndex(spark, dir, "bm25-stream-upsert"),
      () => {
        newDocs.filter(col("doc_id") < half)
          .coalesce(1).write.mode("overwrite").parquet(staged)
        graft.streaming.DocStream.stampAscendingMtimes(staged)
        newDocs.filter(col("doc_id") >= half)
          .coalesce(1).write.mode("append").parquet(staged)
      }),
      parallelism = 2)
    val stream = spark.readStream.schema(newDocs.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    val q = maintainIndex(stream, layout).start()
    try {
      q.processAllAvailable()
      graft.streaming.TriggerStats.record("q_stream_bm25_upsert", q)
    } finally q.stop()
    bm25Over(spark, layout)
  }

  /** Deterministic delete set for the declared lifecycle queries:
    * doc_id ≡ 4 (mod 9) below 400 — 44 docs at every SF (documents run
    * 0..499 / 0..4999), enough to shift n, avgdl, and the query terms'
    * dfs so a stale statistic fails the oracle hash. */
  val DeleteMod = 9
  val DeleteRes = 4
  val DeleteMax = 400

  private def deleteSet(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % DeleteMod === DeleteRes && col("doc_id") < DeleteMax)
      .select(col("doc_id"))

  private[graft] def cloneIndex(spark: SparkSession, dir: String, tag: String): Layout =
    cloneIndexNamed(spark, dir, IndexName, "word", tag)

  /** Clone an arbitrary named index of this family (word / gram / embed
    * tokenizations all share the layout) into scratch — the lifecycle
    * queries' leave-the-cache-untouched discipline, name-parameterized. */
  private[graft] def cloneIndexNamed(spark: SparkSession, dir: String,
                                     name: String, tokKind: String,
                                     tag: String): Layout = {
    ensureWith(spark, dir, name, tokKind)
    val cloneRoot = Paths.get(graft.Scratch.dir(tag))
    Maintenance.copyTree(Paths.get(IndexCatalog.cacheBase(dir), name), cloneRoot)
    Layout(
      cloneRoot.resolve("data").toString,
      cloneRoot.resolve("dict").toString,
      cloneRoot.resolve("stats").toString)
  }

  /** Q-bm25-delete: incremental DOCUMENT DELETE end-to-end — clone the
    * shared warm index, tombstone the [[deleteSet]] via [[deleteDocs]]
    * (id append + exact stats decrement, nothing else touched), and serve
    * the fixed BM25 query through the tombstone-masking read path. The
    * oracle rebuilds from scratch over the REDUCED corpus — n, avgdl,
    * per-term df, and the ranking must all agree bit-for-bit while the
    * dead postings are still physically present, proving the read-time
    * corrections exact (not approximations awaiting vacuum). */
  def bm25Delete(spark: SparkSession, dir: String): DataFrame = {
    val layout = cloneIndex(spark, dir, "bm25-delete")
    deleteDocs(spark, layout, deleteSet(spark, dir))
    bm25Over(spark, layout)
  }

  /** Q-bm25-vacuum: the full delete lifecycle — delete, then [[vacuum]]
    * (touched-bucket rewrite + dict/lens fold + tombstone clear), then
    * serve through the PLAIN pruned-scan plan (no tombstones left to
    * mask — the query plan is q_bm25_indexed's again). Same oracle as
    * q_bm25_delete: masking reads and physical compaction must land on
    * the identical from-scratch state. */
  def bm25Vacuum(spark: SparkSession, dir: String): DataFrame = {
    val layout = cloneIndex(spark, dir, "bm25-vacuum")
    deleteDocs(spark, layout, deleteSet(spark, dir))
    vacuum(spark, layout)
    bm25Over(spark, layout)
  }

  // the oracle replays the reduced corpus and re-derives every statistic
  // from scratch — incremental delete (masked reads) and vacuum
  // (physical rewrite) must both equal the rebuild
  val bm25DeleteSql: String = TextOps.bm25Sql
    .replace("WITH toks AS",
      s"WITH d2 AS (SELECT doc_id, text FROM documents " +
        s"WHERE NOT (doc_id % $DeleteMod = $DeleteRes AND doc_id < $DeleteMax)),\ntoks AS")
    .replace("FROM documents)", "FROM d2)")

  /** CDC transitions for [[streamBm25Cdc]]: two delete residues chosen
    * incompatible mod 7 (21k+6 ≡ 6, 35k+10 ≡ 3), so the two batches'
    * delete sets are provably disjoint; adds are id-offset twins of docs
    * 0..9 split across the batches, with the FIRST added doc deleted
    * again by batch 2 (the add-then-delete cross-trigger transition). */
  val CdcDelMod1 = 21
  val CdcDelRes1 = 6
  val CdcDelMod2 = 35
  val CdcDelRes2 = 10
  val CdcAddCount = 10

  /** One lexical CDC trigger (`op` ∈ {U, D} — the Debezium shape the
    * vector index's [[graft.streaming.VectorStream]] CDC consumes, now
    * consumable by the text index too): in-batch LWW dedup (content-hash
    * tie-break — a retry picks the same winner), DELETES first through
    * [[deleteDocs]] (tombstone append + exact stats decrement), then
    * ADDS through [[upsertDocs]]; the whole trigger behind the same
    * `_stream_commits/<batchId>` marker as [[applyStreamBatch]], so a
    * redelivered micro-batch is a no-op. One driver action (op counts
    * over the checkpointed frame) decides both branches — the
    * applyCdcBatch per-trigger-job discipline. Id REUSE under a pending
    * tombstone (delete then re-add before vacuum) is out of contract
    * exactly as [[deleteDocs]] documents — versioned reuse is
    * [[IndexCatalog.upsertInto]]'s discipline; CDC feeds here vacuum
    * before reusing ids. */
  private[graft] def applyCdcBatch(layout: Layout, batch: DataFrame,
                                   batchId: Long): Unit = {
    val commits = Paths.get(layout.dataPath).getParent.resolve("_stream_commits")
    Files.createDirectories(commits)
    val marker = commits.resolve(batchId.toString)
    if (!Files.exists(marker)) {
      val resolved = graft.operators.Upsert.lastWriteWins(
          batch.withColumn("version", lit(0L)), Seq("doc_id"), "version",
          tieBreak = Seq(xxhash64(col("text"), col("op"))))
        .drop("version")
        .localCheckpoint(true)
      val opCounts = resolved.groupBy(col("op")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val spark = batch.sparkSession
      if (opCounts.contains("D"))
        deleteDocs(spark, layout,
          resolved.filter(col("op") === "D").select(col("doc_id")))
      if (opCounts.collect { case (op, n) if op != "D" => n }.sum > 0)
        upsertDocs(spark, layout,
          resolved.filter(col("op") =!= "D").select(col("doc_id"), col("text")))
      Files.writeString(marker, "")
    }
  }

  /** Q-stream-bm25-cdc: the FULL lexical changelog lifecycle — one CDC
    * stream of mixed upserts and deletes maintained against a cloned
    * warm index over two micro-batch triggers, a terminal [[vacuum]]
    * folding the tombstones physically, and the fixed BM25 query served
    * from the end state. The transitions exercised: plain adds, plain
    * deletes (both batches, provably disjoint sets), and add-then-delete
    * across triggers. With this, ONE CDC feed maintains all four index
    * artifacts the engine ships — the vector index (q_stream_cdc), the
    * inverted index (here), the mutual kNN graph and the serving graph
    * (q_knn_graph_incr / q_graph_ann_upsert / q_graph_ann_delete).
    *
    * The oracle states the flat end state (the q_stream_cdc discipline):
    * a from-scratch rebuild over (documents − both delete sets) ∪ (the
    * adds that survived) — streaming apply, tombstone masking, and
    * vacuum must be invisible in the result. */
  def streamBm25Cdc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val twins = docs.filter(col("doc_id") < CdcAddCount)
      .select((col("doc_id") + UpsertIdOffset).as("doc_id"), col("text"))
    val half = UpsertIdOffset + CdcAddCount / 2
    val b1 = twins.filter(col("doc_id") < half)
      .withColumn("op", lit("U"))
      .unionByName(docs
        .filter(col("doc_id") % CdcDelMod1 === CdcDelRes1)
        .select(col("doc_id"), col("text")).withColumn("op", lit("D")))
    val b2 = twins.filter(col("doc_id") >= half)
      .withColumn("op", lit("U"))
      .unionByName(docs
        .filter(col("doc_id") % CdcDelMod2 === CdcDelRes2)
        .select(col("doc_id"), col("text")).withColumn("op", lit("D")))
      .unionByName(twins.filter(col("doc_id") === UpsertIdOffset)
        .withColumn("op", lit("D")))
    val staged = graft.Scratch.dir("bm25-cdc-in")
    // index clone and feed staging are independent setup steps — overlapped
    var layout: Layout = null
    graft.operators.Par.run(Seq(
      () => layout = cloneIndex(spark, dir, "bm25-cdc"),
      () => {
        b1.coalesce(1).write.mode("overwrite").parquet(staged)
        graft.streaming.DocStream.stampAscendingMtimes(staged)
        b2.coalesce(1).write.mode("append").parquet(staged)
      }),
      parallelism = 2)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatch(layout, batch, batchId)
      }
      .start()
    try {
      q.processAllAvailable()
      graft.streaming.TriggerStats.record("q_stream_bm25_cdc", q)
    } finally q.stop()
    vacuum(spark, layout)
    bm25Over(spark, layout)
  }

  val streamBm25CdcSql: String = TextOps.bm25Sql
    .replace("WITH toks AS",
      s"WITH d2 AS (SELECT doc_id, text FROM documents " +
        s"WHERE NOT (doc_id % $CdcDelMod1 = $CdcDelRes1 " +
        s"OR doc_id % $CdcDelMod2 = $CdcDelRes2) " +
        s"UNION ALL SELECT doc_id + $UpsertIdOffset AS doc_id, text " +
        s"FROM documents WHERE doc_id < $CdcAddCount AND doc_id <> 0),\ntoks AS")
    .replace("FROM documents)", "FROM d2)")

  /** Rank depth each hybrid arm retrieves before fusion. */
  val HybridArmK = 100
  /** The RRF rank discount constant (Cormack et al.'s k=60). */
  val HybridRrfK = 60

  /** Q-hybrid-indexed: sparse–dense HYBRID retrieval where BOTH arms ride
    * persisted indexes — the production form of q_hybrid (whose "sparse"
    * arm is a masked dense dot over the embeddings table, a full-corpus
    * re-scoring). The lexical arm is the real thing: BM25 for the fixed
    * query terms served through [[bm25Over]], so the text side of the
    * fusion reads |terms| tbucket partition directories (plan-asserted
    * PartitionFilters in Bm25Spec) instead of re-tokenizing the corpus.
    * The dense arm rides the ROUTED IVF path (the q_knn_auto machinery):
    * a naive top-[[HybridArmK]] cosine sort over the persisted
    * bucket-partitioned index, rewritten by [[graft.plans.AnnRouting]]
    * into the nprobe=4 probed scan under a `withRoute` window scoped to
    * exactly that arm — so the vector side reads 4 of 16 bucket
    * directories (PartitionFilters on BOTH arms, dumped in PLANS.md).
    * Probed retrieval is approximate by design (a candidate outside the
    * probed buckets cannot rank), and the oracle replays the probed
    * semantics relationally (the q_knn_auto oracle discipline). Both
    * arms exclude the query doc (doc_id and vec_id share the id domain),
    * retrieve their top-[[HybridArmK]], and reciprocal-rank fusion
    * scores `Σ 1/(60+rank)` over the lists that retrieved each doc —
    * two fixed-order terms, so double addition associates identically in
    * both engines (the q_hybrid discipline).
    *
    * 100 TB: the lexical arm's cost is ∝ the query terms' posting lists
    * (partition-pruned, corpus-size-independent); the dense arm's is
    * ∝ nprobe/k of the vector index (partition-pruned likewise) — the
    * fusion itself joins two k-row frames. */
  def hybridIndexed(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorOps
    val (base, name, _) = VectorOps.ensureIvfBucketed(spark, dir)
    val denseTop = graft.plans.AnnRouting.withRoute(spark, base, name,
      nprobe = 4)(hybridDenseFrame(spark, dir))
    fuseArms(spark, dir, denseTop)
  }

  /** The dense arm's naive frame (lazy: a plain ORDER BY cosine DESC
    * LIMIT k over the full persisted index view — the shape AnnRouting
    * rewrites). Registration scope belongs to the caller: the declared
    * query wraps it in `withRoute`; PlanDump registers, dumps the lazily
    * routed fusion, and unregisters. */
  private[graft] def hybridDenseFrame(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorOps
    val (base, name, _) = VectorOps.ensureIvfBucketed(spark, dir)
    graft.plans.GraftExtensions.register(spark)
    IndexCatalog.load(spark, base, name)
      .createOrReplaceTempView("emb_indexed_hybrid")
    val qVec = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val qLit = VectorOps.floatArraySqlLiteral(qVec)
    spark.sql(
      s"""SELECT vec_id, ROUND(${VectorOps.sparkCosineSql("embedding", qLit)}, 6) AS dscore
         |FROM emb_indexed_hybrid WHERE vec_id <> 0
         |ORDER BY dscore DESC, vec_id LIMIT $HybridArmK""".stripMargin)
  }

  /** Rank both arms and fuse — shared by the declared query (bounded
    * routed dense frame) and the PlanDump lazy variant (same fusion over
    * the un-materialized routed plan). */
  private def fuseArms(spark: SparkSession, dir: String,
                       denseTop: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Over(spark, ensure(spark, dir), k = HybridArmK,
        excludeDoc = Some(0L))
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val dense = denseTop
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("dscore").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    dense.join(lex, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("dense_rank"), col("lex_rank"),
        round(
          coalesce(lit(1.0) / (lit(HybridRrfK) + col("dense_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(HybridRrfK) + col("lex_rank")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** PlanDump-only lazy routed fusion (see PlanDump's override note):
    * both arms' PartitionFilters visible in one executed plan. */
  private[graft] def planFrames: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hybrid_indexed" -> ((s: SparkSession, d: String) => {
      import graft.operators.VectorOps
      val (base, name, _) = VectorOps.ensureIvfBucketed(s, d)
      graft.plans.AnnRouting.register(s, base, name, nprobe = 4)
      fuseArms(s, d, hybridDenseFrame(s, d))
    }))

  private[graft] def dropPlanRoutes(spark: SparkSession, dir: String): Unit = {
    import graft.operators.VectorOps
    val (base, name, _) = VectorOps.ensureIvfBucketed(spark, dir)
    graft.plans.AnnRouting.unregister(spark, base, name)
  }

  /** The oracle re-derives the lexical arm from raw text (the q_bm25
    * replay — stats over the FULL corpus, exclusion only at ranking) and
    * the dense arm as the PROBED IVF REPLAY (the q_knn_auto oracle
    * discipline: cosine assignment of every vector to its nearest of the
    * 16 seed centroids, nprobe=4 probe selection for the query, exact
    * ranking restricted to the probed buckets — exactly what the routed
    * plan computes), then fuses identically. */
  val hybridIndexedSql: String = {
    import graft.operators.VectorSql.{cosine => cos}
    val Seq(t1, t2, t3) = TextOps.Bm25Terms
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |              FROM documents),
       |lens AS (SELECT doc_id, len(t) AS dl FROM toks),
       |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens),
       |tf AS (SELECT doc_id, w, COUNT(*) AS tf
       |       FROM (SELECT doc_id, unnest(t) AS w FROM toks)
       |       WHERE w IN ('$t1', '$t2', '$t3') GROUP BY 1, 2),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
       |contrib AS (SELECT tf.doc_id, tf.w,
       |    ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |      * (tf.tf * 2.2)
       |      / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / stats.avgdl)) AS s
       |  FROM tf JOIN df USING (w) JOIN lens USING (doc_id) CROSS JOIN stats),
       |piv AS (SELECT doc_id,
       |    COALESCE(SUM(s) FILTER (WHERE w = '$t1'), 0.0) AS s1,
       |    COALESCE(SUM(s) FILTER (WHERE w = '$t2'), 0.0) AS s2,
       |    COALESCE(SUM(s) FILTER (WHERE w = '$t3'), 0.0) AS s3
       |  FROM contrib GROUP BY doc_id),
       |lex AS (SELECT doc_id, ROUND(s1 + s2 + s3, 6) AS score FROM piv
       |        WHERE doc_id <> 0
       |        ORDER BY score DESC, doc_id LIMIT $HybridArmK),
       |lexr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank
       |         FROM lex),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |asg AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c),
       |a1 AS (SELECT vec_id, embedding, cent_id FROM asg WHERE rn = 1),
       |pr AS (SELECT cent_id FROM cent, q
       |       ORDER BY ${cos("cent.ce", "q.qe")} DESC, cent_id LIMIT 4),
       |ds AS (SELECT a.vec_id AS doc_id, ROUND(${cos("a.embedding", "q.qe")}, 6) AS dscore
       |       FROM a1 a JOIN pr ON a.cent_id = pr.cent_id CROSS JOIN q
       |       WHERE a.vec_id <> 0
       |       ORDER BY dscore DESC, doc_id LIMIT $HybridArmK),
       |dsr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY dscore DESC, doc_id) AS dense_rank
       |        FROM ds),
       |f AS (SELECT COALESCE(d.doc_id, l.doc_id) AS doc_id, d.dense_rank, l.lex_rank
       |      FROM dsr d FULL OUTER JOIN lexr l ON d.doc_id = l.doc_id)
       |SELECT doc_id, dense_rank, lex_rank,
       |  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ($HybridRrfK + dense_rank), 0.0)
       |      + COALESCE(CAST(1.0 AS DOUBLE) / ($HybridRrfK + lex_rank), 0.0), 6) AS rrf
       |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bm25_indexed" -> (bm25Indexed _),
    "q_bm25_maxscore" -> (bm25MaxScore _),
    "q_bm25_query2" -> (bm25Query2 _),
    "q_phrase" -> (phraseIndexed _),
    "q_phrase_slop" -> (phraseSlop _),
    "q_phrase_slop_unordered" -> (phraseSlopUnordered _),
    "q_bm25_prox" -> (bm25Prox _),
    "q_bm25_bool" -> (bm25BoolIndexed _),
    "q_bm25_prefix" -> (bm25Prefix _),
    "q_bm25_wildcard" -> (bm25Wildcard _),
    "q_bm25_wildcard_lead" -> (bm25WildcardLead _),
    "q_bm25_regex" -> (bm25Regex _),
    "q_bm25_fuzzy" -> (bm25Fuzzy _),
    "q_bm25_msm" -> (bm25MsmIndexed _),
    "q_highlight" -> (highlightIndexed _),
    "q_highlight_prefix" -> (highlightPrefix _),
    "q_phrase_fuzzy" -> (phraseFuzzy _),
    "q_phrase_wildcard" -> (phraseWildcard _),
    "q_phrase_prefix" -> (phrasePrefix _),
    "q_span_near" -> (spanNear _),
    "q_bm25_upsert" -> (bm25Upsert _),
    "q_bm25_compact" -> (bm25Compact _),
    "q_stream_bm25_upsert" -> (streamBm25Upsert _),
    "q_bm25_delete" -> (bm25Delete _),
    "q_bm25_vacuum" -> (bm25Vacuum _),
    "q_stream_bm25_cdc" -> (streamBm25Cdc _),
    "q_hybrid_indexed" -> (hybridIndexed _))

  // q_bm25_indexed: same oracle as q_bm25 — the persisted term-bucketed
  // layout changes the access path (partition pruning), never the result.
  // q_stream_bm25_upsert: same oracle as q_bm25_upsert — multi-trigger
  // streaming maintenance and one-shot batch maintenance must land on the
  // identical rebuilt-from-scratch state.
  // q_bm25_maxscore: ALSO q_bm25's oracle — MaxScore pruning is an exact
  // optimization, so the pruned and unpruned plans must hash-match.
  def oracles: Map[String, String] = Map(
    "q_bm25_indexed" -> TextOps.bm25Sql,
    "q_bm25_maxscore" -> TextOps.bm25Sql,
    "q_bm25_query2" -> TextOps.bm25SqlFor(Bm25Terms2),
    "q_phrase" -> phraseSql,
    "q_phrase_slop" -> phraseSlopSql,
    "q_phrase_slop_unordered" -> phraseSlopUnorderedSql,
    "q_bm25_prox" -> bm25ProxSql,
    "q_bm25_bool" -> bm25BoolSql,
    "q_bm25_prefix" -> bm25PrefixSql,
    "q_bm25_fuzzy" -> bm25FuzzySql,
    "q_bm25_wildcard" -> bm25WildcardSql,
    "q_bm25_wildcard_lead" -> bm25WildcardLeadSql,
    "q_bm25_regex" -> bm25RegexSql,
    "q_bm25_msm" -> bm25MsmSql,
    "q_highlight" -> highlightSql,
    "q_highlight_prefix" -> highlightPrefixSql,
    "q_phrase_fuzzy" -> phraseFuzzySql,
    "q_phrase_wildcard" -> phraseWildcardSql,
    "q_phrase_prefix" -> phrasePrefixSql,
    "q_span_near" -> spanNearSql,
    "q_bm25_upsert" -> bm25UpsertSql,
    // q_bm25_compact: same oracle — a file-level segment merge must be
    // invisible in every served statistic
    "q_bm25_compact" -> bm25UpsertSql,
    "q_stream_bm25_upsert" -> bm25UpsertSql,
    // q_bm25_delete/q_bm25_vacuum share one oracle: masked reads over
    // pending tombstones and the post-vacuum physical layout must both
    // equal the from-scratch rebuild over the reduced corpus
    "q_bm25_delete" -> bm25DeleteSql,
    "q_bm25_vacuum" -> bm25DeleteSql,
    // flat end-state oracle (the q_stream_cdc discipline): streaming
    // apply, tombstone masking, and vacuum must be invisible
    "q_stream_bm25_cdc" -> streamBm25CdcSql,
    "q_hybrid_indexed" -> hybridIndexedSql)
}
