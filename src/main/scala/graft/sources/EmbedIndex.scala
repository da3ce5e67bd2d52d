package graft.sources

import java.nio.file.{Files, Paths}

import graft.Tables
import graft.operators.EmbedOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED flagship-embedding index — the sparse (doc_id, d, v)
  * relation of [[EmbedOps.embedKnnSqlQuery]] maintained as an index
  * artifact instead of re-derived per query.
  *
  * The observation (SURVEY §7.3, r14 verdict): that relation IS an
  * inverted index with a 16-term integer vocabulary — term = embedding
  * dimension id, tf = the dimension's count. So the artifact is built,
  * upserted, deleted, vacuumed, compacted, repaired, and audited by the
  * [[InvertedIndex]] machinery VERBATIM under the `embed16` tokenizer
  * ([[EmbedOps.embed16Tokenizer]]: whitespace token → polynomial-hash
  * dimension id, the marker-dispatch registry making a mismatched
  * maintenance attach structurally impossible), plus one embed-specific
  * sidecar: per-doc squared norms (`norms/dbucket=<b>/`), because cosine
  * needs every doc's ‖e‖² and a term-partitioned layout cannot answer a
  * per-doc question without a corpus re-aggregation per query
  * ([[InvertedIndex.normsPathOf]] — maintained at build/upsert/vacuum/
  * compact/repair like the lens sidecar).
  *
  * Serving (`q_embed_index`) replays the COMPLETE reference query shape
  * (`main.go:89-184`: embed the query → score the corpus → top-K →
  * fetch-join) with the corpus-side embed pass GONE:
  *  - the query's ≤16 (dimension, count) pairs are computed DRIVER-SIDE
  *    ([[EmbedOps.tokenBucketOf]], bit-parity spec-gated) — request
  *    metadata, no Spark job;
  *  - dot products come from the postings PRUNED to the query
  *    dimensions' term buckets (plan-time `tbucket IN (...)` partition
  *    filters + the `w IN (...)` pushdown) joined to the ≤16-row
  *    broadcast query frame — cost ∝ the matched postings, never the
  *    token stream;
  *  - per-doc norms come from the persisted sidecar (2 longs per doc,
  *    column-pruned) instead of a corpus tokenize-explode;
  *  - scores/top-K/fetch-join are arithmetic-identical to
  *    [[EmbedOps.embedKnnSqlQuery]], so q_embed_index SHARES
  *    q_embed_knn_sql's full DuckDB oracle verbatim — a persisted embed
  *    pass must be invisible in every served value.
  *
  * 100 TB: the build is one tokenize-explode + a (doc, dim) count
  * shuffle — corpus-linear, offline, amortized over every query (the
  * cost q_embed_knn_sql paid PER QUERY, tri-SF 3.60×). A serve touches
  * |query dims| posting buckets, and the norms read is MATCH-
  * PROPORTIONAL: norms pruned to the matched docs' dbucket partitions
  * and inner-joined to their dots in one ranking pass ([[embedOver]]),
  * falling back to the rank-every-live-doc left join exactly when a
  * zero-dot doc could enter the top-k. Pruned == unpruned is a theorem
  * (spec-gated) and the oracle is UNCHANGED. */
object EmbedIndex {

  val IndexName = "docs-embed16"

  def ensure(spark: SparkSession, dir: String): InvertedIndex.Layout =
    InvertedIndex.ensureWith(spark, dir, IndexName, "embed16")

  /** Query-side sparse embedding, driver-side: dimension id → count.
    * The exact integer arithmetic of the corpus side's tokenizer. */
  private[graft] def queryEmbedding(text: String): Map[Long, Long] =
    text.trim.split("\\s+").filter(_.nonEmpty)
      .map(EmbedOps.tokenBucketOf)
      .groupBy(identity).map { case (d, occ) => d -> occ.length.toLong }

  /** Cosine top-k of `queryText` against an embed16 layout — the plan
    * every embed-index query serves through (build-then-query, upsert,
    * lifecycle specs), tombstone-masking like [[InvertedIndex.bm25Over]].
    * Returns (doc_id, score) ordered (score desc, doc_id).
    *
    * SERVE SHAPE: ONE ranking pass over the MATCHED docs — the dots of
    * the docs holding ≥1 query dimension INNER-joined to their norms,
    * scored, ranked, the top k collected and returned as a local frame.
    * Zero-dot docs are never ranked and the norms relation is never
    * left-joined corpus-wide: the stateless read prunes norms to the
    * matched docs' dbucket partitions (plan-time PartitionFilters, one
    * bucket collect); serving mode joins the resident norms frame.
    *
    * Exactness: every matched doc's dot is a positive integer (tf ≥ 1,
    * qv ≥ 1) and every unmatched live doc scores exactly 0. So when k
    * docs matched and the k-th matched score is > 0, no unmatched doc
    * can enter the top-k, and the matched ranking IS the rank-every-
    * live-doc ranking restricted — bit-for-bit, so q_embed_index keeps
    * sharing q_embed_knn_sql's oracle VERBATIM. Otherwise (fewer than k
    * matched docs, or the k-th score rounds to ≤ 0 — the only regimes
    * where a zero-dot doc can legitimately enter the top-k) it falls
    * back to [[embedUnprunedOver]], the oracle-shape left join over
    * every live doc where zero-dot docs rank 0 by doc_id. */
  private[graft] def embedOver(spark: SparkSession,
                               layout: InvertedIndex.Layout,
                               queryText: String = EmbedOps.FlagshipQuery,
                               k: Int = 5,
                               serving: Boolean = false): DataFrame = {
    import spark.implicits._
    val st = serveState(spark, layout, queryText, serving)
    val dbuckets =
      if (serving) Nil
      else st.livePost.select(InvertedIndex.dbucketCol(col("doc_id")).as("b"))
        .distinct().as[Long].collect().sorted.toIndexedSeq
    val ranked = st.normsPruned(dbuckets)
      .join(st.dots, Seq("doc_id"))
      .select(col("doc_id"), st.scoreCol.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    val top = ranked.collect()
    if (top.length < k || top.last.getDouble(1) <= 0.0)
      embedUnprunedOver(spark, layout, queryText, k, serving)
    else spark.createDataFrame(java.util.Arrays.asList(top: _*), ranked.schema)
  }

  /** The shared per-request serve state: query norm, masked query-dim
    * postings, per-doc dots, and the norms access paths. One derivation
    * for the ranking pass and the fallback — a drift between them would
    * break the matched == rank-every-doc theorem. */
  private case class ServeState(sqrtQn2: Double, livePost: DataFrame,
                                dots: DataFrame,
                                normsAll: DataFrame,
                                normsPruned: Seq[Long] => DataFrame) {
    // one rounding expression for every path (dot nullable only in the
    // fallback's left join; coalesce is a no-op on the inner join)
    def scoreCol: org.apache.spark.sql.Column =
      round(coalesce(col("dot"), lit(0L)).cast("double") /
        (sqrt(col("n2").cast("double")) * lit(sqrtQn2)), 6)
  }

  private def serveState(spark: SparkSession, layout: InvertedIndex.Layout,
                         queryText: String, serving: Boolean): ServeState = {
    import spark.implicits._
    val qemb = queryEmbedding(queryText)
    require(qemb.nonEmpty, "query has no tokens")
    // ‖q‖ as one driver-side IEEE sqrt — the same correctly-rounded
    // double sqrt(CAST(qn2 AS DOUBLE)) both engines' oracles compute
    val sqrtQn2 = math.sqrt(qemb.values.map(v => v * v).sum.toDouble)
    val dTerms = qemb.keys.map(_.toString).toSeq.sorted
    val buckets = InvertedIndex.bucketsOf(dTerms)
    val qdf = qemb.toSeq.sortBy(_._1)
      .map { case (d, v) => (d.toString, v) }.toDF("w", "qv")
    // postings and tombstones through stamp-pinned relations (no
    // per-request listing or schema-inference job; see ServingCache)
    val post0 = ServingCache.pinned(spark, Paths.get(layout.dataPath))
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(dTerms: _*))
    val tombOpt = ServingCache.pinnedIfAny(spark, InvertedIndex.tombDirOf(layout))
      .map(_.select(col("doc_id")))
    def masked(df: DataFrame): DataFrame = tombOpt
      .map(t => df.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(df)
    val livePost = masked(post0)
    // Σ_d v_d·q_d per doc: matched postings ⋈ the ≤16-row broadcast
    val dots = livePost.join(broadcast(qdf), "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("qv")).as("dot"))
    // ‖e‖² from the persisted sidecar — never a corpus re-aggregation.
    // serving=true pins the norms frame executor-resident through the
    // ServingCache stamp (two longs per doc — the keymap cache's size
    // class applied to the flagship's serve metadata); stateless reads
    // prune to the requested dbucket partitions at plan time
    def normsStore =
      if (serving) ServingCache.frame(spark,
        Paths.get(InvertedIndex.normsPathOf(layout)))
      else spark.read.parquet(InvertedIndex.normsPathOf(layout))
    ServeState(sqrtQn2, livePost, dots,
      masked(normsStore).select(col("doc_id"), col("n2")),
      // the bucket filter is I/O pruning for the stateless read; the
      // resident frame has no partition I/O, so serving mode passes the
      // whole frame and lets the matched-docs inner join restrict
      bs =>
        (if (serving) normsStore
         else normsStore.filter(col("dbucket").isin(bs: _*)))
          .select(col("doc_id"), col("n2")))
  }

  /** The ORACLE-SHAPE plan: rank EVERY live doc via a left join onto the
    * full norms relation (zero-dot docs score exactly 0, tie-broken by
    * doc_id) — the fallback [[embedOver]] takes when fewer than k docs
    * match or the k-th matched score rounds to ≤ 0, and the referee the
    * pruned==unpruned spec compares against. */
  private[graft] def embedUnprunedOver(spark: SparkSession,
                                       layout: InvertedIndex.Layout,
                                       queryText: String = EmbedOps.FlagshipQuery,
                                       k: Int = 5,
                                       serving: Boolean = false): DataFrame = {
    val st = serveState(spark, layout, queryText, serving)
    st.normsAll.join(st.dots, Seq("doc_id"), "left")
      .select(col("doc_id"), st.scoreCol.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The flagship fetch-join epilogue: winners broadcast back against a
    * (doc_id, lang, text) corpus frame — reference bug B3's intended
    * semantics, the J3 shape. */
  private def fetchJoin(top: DataFrame, corpus: DataFrame): DataFrame =
    broadcast(top)
      .join(corpus.select(col("doc_id"), col("lang"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("score"),
        substring(col("text"), 1, 80).as("text_head"))
      .orderBy(col("score").desc, col("doc_id"))

  /** Q-embed-index: q_embed_knn_sql served from the PERSISTED artifact —
    * same oracle verbatim, the corpus tokenize-explode replaced by the
    * pruned posting scan + the norms sidecar. */
  def embedKnnIndexed(spark: SparkSession, dir: String): DataFrame =
    fetchJoin(embedOver(spark, ensure(spark, dir)),
      Tables.documents(spark, dir))

  /** Upsert batch for the embed lifecycle: a fixed id range RE-KEYED
    * past the domain ([[InvertedIndex.UpsertIdOffset]]). The range is
    * chosen to CONTAIN a flagship winner (doc 289 ranks #1 at sf0.01),
    * so the incremental path's effect is visible in the declared top-5
    * (the twin enters at the tie-broken rank below its original) — an
    * upsert gate whose result equals the non-upsert result would prove
    * only that the batch was ignored. Cosine scores are per-doc (no
    * corpus statistics), so unlike BM25 the existing docs' scores are
    * growth-invariant; the oracle still re-derives EVERYTHING from the
    * union corpus. */
  val UpsertLo = 286L
  val UpsertHi = 296L

  private def embedTwins(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") >= UpsertLo && col("doc_id") < UpsertHi)
      .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
        col("lang"), col("text"))

  /** Q-embed-index-upsert: incremental ADD into the embed artifact ==
    * a from-scratch rebuild over the grown corpus (the q_bm25_upsert
    * template) — postings append, touched-bucket dict merge, exact stats
    * increments, and the norms-sidecar append all land on the state the
    * oracle re-derives from the union. */
  def embedIndexUpsert(spark: SparkSession, dir: String): DataFrame = {
    val layout = InvertedIndex.cloneIndexNamed(
      spark, dir, IndexName, "embed16", "embed-upsert")
    InvertedIndex.upsertDocs(spark, layout, embedTwins(spark, dir))
    val corpus = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .unionByName(embedTwins(spark, dir))
    fetchJoin(embedOver(spark, layout), corpus)
  }

  // incremental == rebuild, stated the strongest way: the oracle replays
  // the GROWN corpus through the full embed→score→top-K→fetch chain
  val embedIndexUpsertSql: String = EmbedOps.embedKnnSql
    .replace("WITH norm AS",
      s"WITH d2 AS (SELECT doc_id, lang, text FROM documents UNION ALL " +
        s"SELECT doc_id + ${InvertedIndex.UpsertIdOffset} AS doc_id, lang, text " +
        s"FROM documents WHERE doc_id >= $UpsertLo AND doc_id < $UpsertHi),\nnorm AS")
    .replace("FROM documents)", "FROM d2)")

  /** A SECOND query text served from the SHARED artifact — the
    * generality witness (the Bm25Terms2 discipline): the persisted
    * relation answers ANY query through the same driver-hashed-dims →
    * pruned-postings → broadcast plan, not just the hard-wired flagship
    * string. Oracle = the parameterized builder instantiated here. */
  val FlagshipQuery2 = "merge group customer scan"

  def embedKnnIndexedQuery2(spark: SparkSession, dir: String): DataFrame =
    fetchJoin(embedOver(spark, ensure(spark, dir), FlagshipQuery2),
      Tables.documents(spark, dir))

  /** The declared batch block: the flagship, the generality witness, and
    * two more vocabulary phrases — the serving claim needs a BLOCK (the
    * q_graph_ann_batch discipline), not one query. */
  val BatchQueries: Seq[(Int, String)] = Seq(
    0 -> EmbedOps.FlagshipQuery,
    1 -> FlagshipQuery2,
    2 -> "window stream filter spark",
    3 -> "hash join sort data")

  /** BATCHED flagship serve — M query texts through ONE pruned posting
    * scan (the q_ann_batch discipline applied to the embed16 artifact:
    * every other retrieval family already carries its single/batch pair —
    * q_knn/q_knn_join, q_ann_ivf/q_ann_batch, q_graph_ann/
    * q_graph_ann_batch — and the reference's REPL, `main.go:190-213`,
    * is exactly a query stream this amortizes). All M queries' dims hash
    * DRIVER-SIDE into one broadcast (q_id, w, qv) frame; the posting
    * scan prunes to the UNION of their tbuckets and is paid once for
    * the block; per-(q_id, doc) dots aggregate map-side; ranking is one
    * window per q_id (WindowGroupLimit). The norms read (r16) prunes to
    * the matched docs' dbucket partitions and INNER-joins the dots —
    * only matched (q, doc) pairs are scored, never docs × M — behind a
    * per-q_id guard (≥ k matches, min-score rounding bound) that falls
    * back to the oracle-shape cross join when any query could admit a
    * zero-dot doc into its top-k. Score parity with the single-query
    * plan and the UNCHANGED batched oracle is spec-gated. */
  private[graft] def embedBatchOver(spark: SparkSession,
                                    layout: InvertedIndex.Layout,
                                    queries: Seq[(Int, String)] = BatchQueries,
                                    k: Int = 5): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val qembs = queries.map { case (qid, text) => (qid, queryEmbedding(text)) }
    qembs.foreach { case (qid, m) =>
      require(m.nonEmpty, s"batch query $qid has no tokens") }
    // query dims and norms each computed and shipped ONCE (the r15
    // ADVICE fix: the dims frame no longer carries a duplicate qnorm)
    val qRows = qembs.flatMap { case (qid, m) =>
      m.toSeq.sortBy(_._1).map { case (d, v) => (qid, d.toString, v) }
    }
    val qdf = broadcast(qRows.toDF("q_id", "w", "qv"))
    val qnorms = qembs.map { case (qid, m) =>
      qid -> math.sqrt(m.values.map(v => v * v).sum.toDouble)
    }
    val qn = broadcast(qnorms.toDF("q_id", "qnorm"))
    val dTerms = qRows.map(_._2).distinct.sorted
    val buckets = InvertedIndex.bucketsOf(dTerms)
    val post0 = spark.read.parquet(layout.dataPath)
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(dTerms: _*))
    val tombOpt =
      if (InvertedIndex.hasParquet(InvertedIndex.tombDirOf(layout)))
        Some(spark.read.parquet(InvertedIndex.tombDirOf(layout).toString)
          .select(col("doc_id")))
      else None
    def masked(df: DataFrame): DataFrame = tombOpt
      .map(t => df.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(df)
    val dots = masked(post0).join(qdf, "w")
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("tf") * col("qv")).as("dot"))
    def normsStore = spark.read.parquet(InvertedIndex.normsPathOf(layout))
    val scoreCol = round(coalesce(col("dot"), lit(0L)).cast("double") /
      (sqrt(col("n2").cast("double")) * col("qnorm")), 6).as("score")
    def rank(scored: DataFrame): DataFrame = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("doc_id"), col("score"))
      .orderBy(col("q_id"), col("score").desc, col("doc_id"))
    // the ORACLE-SHAPE fallback: docs × M, every live doc ranked per q
    def unpruned: DataFrame = rank(
      masked(normsStore).select(col("doc_id"), col("n2")).crossJoin(qn)
        .join(dots, Seq("q_id", "doc_id"), "left")
        .select(col("q_id"), col("doc_id"), scoreCol))
    // CANDIDATE-PROPORTIONAL serve (the r15 verdict's batch `weak` item:
    // PLANS.md carried a BroadcastNestedLoopJoin Cross of norms × the
    // query frame — docs·M rows scored): the norms read prunes to the
    // matched docs' dbucket partitions and INNER-joins the per-(q, doc)
    // dots, so only matched pairs are ever scored. Sound per query iff
    // (a) ≥ k docs matched and (b) every matched score rounds > 0 —
    // guaranteed when 1/(√max‖e‖² · ‖q‖) ≥ 1e-6, since any matched dot
    // is an integer ≥ 1 (then no zero-scored unmatched doc can reach the
    // top-k, and the matched ranking is the global ranking restricted).
    // One metadata-sized guard aggregation checks both per q_id; any
    // failure falls back to the oracle-shape plan for the whole block.
    val matchedDbuckets = dots
      .select(InvertedIndex.dbucketCol(col("doc_id")).as("b"))
      .distinct().as[Long].collect().sorted.toIndexedSeq
    val normsP = normsStore.filter(col("dbucket").isin(matchedDbuckets: _*))
      .select(col("doc_id"), col("n2"))
    val guard = dots.join(normsP, Seq("doc_id"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("c"), max(col("n2")).as("maxn2"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ok = qnorms.forall { case (qid, qnorm) =>
      guard.get(qid).exists { case (c, maxn2) =>
        c >= k && 1.0 / (math.sqrt(maxn2.toDouble) * qnorm) >= 1e-6 }
    }
    if (!ok) unpruned
    else rank(
      normsP.join(dots, Seq("doc_id"))
        .join(qn, "q_id")
        .select(col("q_id"), col("doc_id"), scoreCol))
  }

  /** Q-embed-index-batch: the block served from the shared artifact. */
  def embedIndexBatch(spark: SparkSession, dir: String): DataFrame =
    embedBatchOver(spark, ensure(spark, dir))

  /** The batched oracle: one VALUES table of (q_id, qtext), the corpus
    * embedding chain shared verbatim with [[EmbedOps.embedKnnSqlFor]],
    * per-q_id windows for the ranking. */
  val embedBatchSql: String = {
    val vals = BatchQueries
      .map { case (qid, t) => s"($qid, '$t')" }.mkString(", ")
    s"""WITH norm AS (
       |  SELECT doc_id, lang, text,
       |         trim(regexp_replace(text, '\\s+', ' ', 'g')) AS ntext
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, w FROM
       |    (SELECT doc_id, unnest(string_split(ntext, ' ')) AS w FROM norm)
       |  WHERE w <> ''),
       |hashed AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> (a * 31 + c) % ${EmbedOps.SqlHashMod}) % ${EmbedOps.SqlEmbedDim} AS d
       |  FROM toks),
       |emb AS (SELECT doc_id, d, COUNT(*) AS v FROM hashed GROUP BY 1, 2),
       |q(q_id, qtext) AS (VALUES $vals),
       |qtok AS (SELECT q_id, unnest(string_split(qtext, ' ')) AS w FROM q),
       |qh AS (
       |  SELECT q_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> (a * 31 + c) % ${EmbedOps.SqlHashMod}) % ${EmbedOps.SqlEmbedDim} AS d
       |  FROM qtok WHERE w <> ''),
       |qemb AS (SELECT q_id, d, COUNT(*) AS qv FROM qh GROUP BY 1, 2),
       |qn AS (SELECT q_id, SUM(qv * qv) AS qn2 FROM qemb GROUP BY 1),
       |dots AS (SELECT qe.q_id, e.doc_id, SUM(e.v * qe.qv) AS dot
       |         FROM emb e JOIN qemb qe USING (d) GROUP BY 1, 2),
       |norms AS (SELECT doc_id, SUM(v * v) AS n2 FROM emb GROUP BY 1),
       |scored AS (
       |  SELECT qn.q_id, n.doc_id,
       |    ROUND(CAST(COALESCE(d.dot, 0) AS DOUBLE)
       |          / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE))),
       |      6) AS score
       |  FROM norms n CROSS JOIN qn
       |  LEFT JOIN dots d ON d.q_id = qn.q_id AND d.doc_id = n.doc_id),
       |rk AS (SELECT q_id, doc_id, score,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |                            ORDER BY score DESC, doc_id) AS rn
       |       FROM scored)
       |SELECT q_id, doc_id, score FROM rk WHERE rn <= 5
       |ORDER BY q_id, score DESC, doc_id""".stripMargin
  }

  /** Q-embed-index-delete / -vacuum: the embed artifact's DELETE
    * lifecycle declared with full oracles (the bm25_delete/vacuum
    * symmetry) — the shared [[InvertedIndex.DeleteMod]] residue set
    * tombstones out (it contains a flagship winner, so the declared
    * top-5 visibly changes), masked reads and the post-vacuum folded
    * layout must both equal a from-scratch rebuild over the reduced
    * corpus. */
  private def deleteSet(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % InvertedIndex.DeleteMod === InvertedIndex.DeleteRes &&
        col("doc_id") < InvertedIndex.DeleteMax)
      .select(col("doc_id"))

  def embedIndexDelete(spark: SparkSession, dir: String): DataFrame = {
    val layout = InvertedIndex.cloneIndexNamed(
      spark, dir, IndexName, "embed16", "embed-delete")
    InvertedIndex.deleteDocs(spark, layout, deleteSet(spark, dir))
    fetchJoin(embedOver(spark, layout), Tables.documents(spark, dir))
  }

  def embedIndexVacuum(spark: SparkSession, dir: String): DataFrame = {
    val layout = InvertedIndex.cloneIndexNamed(
      spark, dir, IndexName, "embed16", "embed-vacuum")
    InvertedIndex.deleteDocs(spark, layout, deleteSet(spark, dir))
    InvertedIndex.vacuum(spark, layout)
    fetchJoin(embedOver(spark, layout), Tables.documents(spark, dir))
  }

  // the reduced-corpus replay both delete-lifecycle states share (the
  // bm25DeleteSql template applied to the parameterized flagship oracle)
  val embedIndexDeleteSql: String = EmbedOps.embedKnnSql
    .replace("WITH norm AS",
      s"WITH d2 AS (SELECT doc_id, lang, text FROM documents " +
        s"WHERE NOT (doc_id % ${InvertedIndex.DeleteMod} = ${InvertedIndex.DeleteRes} " +
        s"AND doc_id < ${InvertedIndex.DeleteMax})),\nnorm AS")
    .replace("FROM documents)", "FROM d2)")

  /** Q-embed-dim-tune (r15 verdict #10): the tune-family measured
    * frontier applied to the embed16 artifact — sweep the dim-TRUNCATION
    * depth e (score with only the e highest-qv query dims) and report,
    * per e, the candidate volume (docs matching ≥1 kept dim) and the
    * exact-top-5 overlap. The declared serve (q_embed_index) is EXACT by
    * theorem (the matched-docs restriction prunes WHO gets ranked,
    * never what a ranked doc scores); this query prices the approximate alternative a deployment
    * would trade for it — truncation changes scores, and the frontier
    * shows what recall that costs at each depth. e = |dims| IS the exact
    * ranking (the degeneration row: hits = k by construction). All
    * arithmetic is integer counts + one shared rounding expression, so
    * the whole frontier replays in DuckDB. One declarative plan: an
    * (e, dim) sweep frame broadcast against the pruned postings, per-e
    * window ranking — no driver loop. */
  def embedDimTune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val layout = ensure(spark, dir)
    val qemb = queryEmbedding(EmbedOps.FlagshipQuery)
    val m = qemb.size
    val k = 5
    val sqrtQn2 = math.sqrt(qemb.values.map(v => v * v).sum.toDouble)
    val ordered = qemb.toSeq.sortBy { case (d, v) => (-v, d) }
    val eDims = (1 to m).flatMap(e =>
      ordered.take(e).map { case (d, v) => (e, d.toString, v) })
    val eDf = broadcast(eDims.toDF("e", "w", "qv"))
    val dTerms = qemb.keys.map(_.toString).toSeq.sorted
    val buckets = InvertedIndex.bucketsOf(dTerms)
    val post = spark.read.parquet(layout.dataPath)
      .filter(col("tbucket").isin(buckets: _*) && col("w").isin(dTerms: _*))
    val dots = post.join(eDf, "w")
      .groupBy(col("e"), col("doc_id"))
      .agg(sum(col("tf") * col("qv")).as("dot"))
    val es = broadcast((1 to m).toDF("e"))
    val norms = spark.read.parquet(InvertedIndex.normsPathOf(layout))
      .select(col("doc_id"), col("n2"))
    // per-e ranking over EVERY doc (the oracle shape — a tune query is
    // offline; zero-dot docs score 0 so truncation-dropped docs rank
    // where the exact plan would rank a no-match)
    val scored = norms.crossJoin(es)
      .join(dots, Seq("e", "doc_id"), "left")
      .select(col("e"), col("doc_id"),
        round(coalesce(col("dot"), lit(0L)).cast("double") /
          (sqrt(col("n2").cast("double")) * lit(sqrtQn2)), 6).as("score"))
    val top = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("e"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("e"), col("doc_id"))
    val exact = top.filter(col("e") === m).select(col("doc_id"))
    val hits = top.join(exact, Seq("doc_id"), "left_semi")
      .groupBy(col("e")).agg(count(lit(1)).as("hits"))
    val cand = dots.groupBy(col("e")).agg(count(lit(1)).as("cand_docs"))
    es.join(hits, Seq("e"), "left").join(cand, Seq("e"), "left")
      .select(col("e"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("cand_docs"), lit(0L)).as("cand_docs"))
      .orderBy(col("e"))
  }

  /** The shared replay prefix (corpus embedding + query embedding +
    * qv-ranked dims + query norm) the dim-sweep oracle and the tuned-
    * serve oracle both open with — one derivation, so the pin's two
    * sides cannot drift. */
  private def embedSweepCtes(q: String): String =
    s"""WITH norm AS (
       |  SELECT doc_id,
       |         trim(regexp_replace(text, '\\s+', ' ', 'g')) AS ntext
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, w FROM
       |    (SELECT doc_id, unnest(string_split(ntext, ' ')) AS w FROM norm)
       |  WHERE w <> ''),
       |hashed AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> (a * 31 + c) % ${EmbedOps.SqlHashMod}) % ${EmbedOps.SqlEmbedDim} AS d
       |  FROM toks),
       |emb AS (SELECT doc_id, d, COUNT(*) AS v FROM hashed GROUP BY 1, 2),
       |qtok AS (SELECT unnest(string_split('$q', ' ')) AS w),
       |qh AS (
       |  SELECT
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> (a * 31 + c) % ${EmbedOps.SqlHashMod}) % ${EmbedOps.SqlEmbedDim} AS d
       |  FROM qtok WHERE w <> ''),
       |qemb AS (SELECT d, COUNT(*) AS qv FROM qh GROUP BY 1),
       |qrank AS (SELECT d, qv, ROW_NUMBER() OVER (ORDER BY qv DESC, d) AS r
       |          FROM qemb),
       |qn AS (SELECT SUM(qv * qv) AS qn2 FROM qemb)""".stripMargin

  val embedDimTuneSql: String = {
    val q = EmbedOps.FlagshipQuery
    s"""${embedSweepCtes(q)},
       |es AS (SELECT DISTINCT r AS e FROM qrank),
       |dotsE AS (SELECT es.e, emb.doc_id, SUM(emb.v * qr.qv) AS dot
       |          FROM es JOIN qrank qr ON qr.r <= es.e
       |          JOIN emb ON emb.d = qr.d
       |          GROUP BY es.e, emb.doc_id),
       |norms AS (SELECT doc_id, SUM(v * v) AS n2 FROM emb GROUP BY 1),
       |scored AS (
       |  SELECT es.e, n.doc_id,
       |    ROUND(CAST(COALESCE(d.dot, 0) AS DOUBLE)
       |          / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE))),
       |      6) AS score
       |  FROM norms n CROSS JOIN es CROSS JOIN qn
       |  LEFT JOIN dotsE d ON d.e = es.e AND d.doc_id = n.doc_id),
       |rk AS (SELECT e, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY e
       |                            ORDER BY score DESC, doc_id) AS rn
       |       FROM scored),
       |top AS (SELECT e, doc_id FROM rk WHERE rn <= 5),
       |exact AS (SELECT doc_id FROM top
       |          WHERE e = (SELECT MAX(r) FROM qrank)),
       |hits AS (SELECT t.e, COUNT(*) AS hits FROM top t
       |         WHERE t.doc_id IN (SELECT doc_id FROM exact)
       |         GROUP BY t.e),
       |cand AS (SELECT e, COUNT(*) AS cand_docs FROM dotsE GROUP BY e)
       |SELECT es.e,
       |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  CAST(COALESCE(c.cand_docs, 0) AS BIGINT) AS cand_docs
       |FROM es LEFT JOIN hits h ON h.e = es.e
       |LEFT JOIN cand c ON c.e = es.e
       |ORDER BY es.e""".stripMargin
  }

  /** The truncation depth q_embed_dim_tune CHOOSES on this corpus,
    * pinned as the serving constant q_embed_knn_tuned dials in (the
    * [[graft.operators.IvfTune.TunedNprobe]] measurement→deployment
    * precedent). Choice rule: the SMALLEST e whose truncated top-5
    * keeps ≥ [[DimTuneHitsTarget]] of the exact top-5 — the cheapest
    * depth that clears the recall bar. EmbedIndexSpec gates this
    * constant against the LIVE sweep, so a corpus or tokenizer change
    * that moves the choice fails the pin instead of silently serving a
    * stale dial. The pin is the SPEC corpus's (sf0.001) choice — 3 of
    * the flagship query's 4 distinct dims (hits 4/5). The frontier is
    * SF-dependent (at sf0.01 only the full depth clears the same bar —
    * q_embed_dim_tune IS that evidence), which is exactly why the dial
    * is pinned to a measured sweep rather than assumed transferable:
    * the q_nprobe_tune story, where the honest sf-dependent verdict is
    * the measurement's point. */
  val TunedDimDepth = 3
  val DimTuneK = 5
  val DimTuneHitsTarget = 4 // recall 0.8 @ k=5

  /** The chosen row of the live sweep — the spec-pin's measured side. */
  private[graft] def chosenDimDepth(spark: SparkSession, dir: String): Int =
    embedDimTune(spark, dir)
      .filter(col("hits") >= DimTuneHitsTarget)
      .orderBy(col("e")).select(col("e")).head().getInt(0)

  /** Q-embed-knn-tuned: the flagship query SERVED at the tuned
    * truncation depth — score every candidate with only the
    * [[TunedDimDepth]] highest-qv query dims (an APPROXIMATE serve: the
    * dropped dims change scores, which is exactly what the sweep
    * priced), rank top-[[DimTuneK]]. Candidate-proportional like the
    * exact serve: postings read prunes to the kept dims' tbuckets, the
    * norms join is INNER over the matched docs (every candidate's dot
    * is a positive integer — tf ≥ 1, qv ≥ 1 — so with ≥ k candidates no
    * zero-dot doc can enter the top-k; fewer than k candidates falls
    * back to the oracle-shape left join where zero-dot docs rank 0 by
    * doc_id). Oracle: the truncated replay at the same depth through
    * the same CTE prefix as the sweep oracle. */
  def embedKnnTuned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val layout = ensure(spark, dir)
    val qemb = queryEmbedding(EmbedOps.FlagshipQuery)
    val sqrtQn2 = math.sqrt(qemb.values.map(v => v * v).sum.toDouble)
    val kept = qemb.toSeq.sortBy { case (d, v) => (-v, d) }
      .take(TunedDimDepth)
    val keptDf = broadcast(
      kept.map { case (d, v) => (d.toString, v) }.toDF("w", "qv"))
    val buckets = InvertedIndex.bucketsOf(kept.map(_._1.toString))
    // tombstone-masked like every other serve path (serveState's masked
    // postings/norms): under pending deletes the tuned serve must not
    // rank deleted docs the raw-corpus oracle no longer holds
    val tombOpt =
      if (InvertedIndex.hasParquet(InvertedIndex.tombDirOf(layout)))
        Some(spark.read.parquet(InvertedIndex.tombDirOf(layout).toString)
          .select(col("doc_id")))
      else None
    def masked(df: DataFrame): DataFrame = tombOpt
      .map(t => df.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(df)
    val dots = masked(spark.read.parquet(layout.dataPath)
        .filter(col("tbucket").isin(buckets: _*)))
      .join(keptDf, "w")
      .groupBy(col("doc_id")).agg(sum(col("tf") * col("qv")).as("dot"))
    val norms = masked(spark.read.parquet(InvertedIndex.normsPathOf(layout)))
      .select(col("doc_id"), col("n2"))
    val scoreCol = round(coalesce(col("dot"), lit(0L)).cast("double") /
      (sqrt(col("n2").cast("double")) * lit(sqrtQn2)), 6).as("score")
    val plan =
      if (dots.limit(DimTuneK).count() >= DimTuneK)
        norms.join(dots, Seq("doc_id")).select(col("doc_id"), scoreCol)
      else norms.join(dots, Seq("doc_id"), "left")
        .select(col("doc_id"), scoreCol)
    plan.orderBy(col("score").desc, col("doc_id")).limit(DimTuneK)
  }

  val embedKnnTunedSql: String = {
    val q = EmbedOps.FlagshipQuery
    s"""${embedSweepCtes(q)},
       |kept AS (SELECT d, qv FROM qrank WHERE r <= $TunedDimDepth),
       |dots AS (SELECT emb.doc_id, SUM(emb.v * kept.qv) AS dot
       |         FROM emb JOIN kept ON emb.d = kept.d GROUP BY 1),
       |norms AS (SELECT doc_id, SUM(v * v) AS n2 FROM emb GROUP BY 1),
       |scored AS (
       |  SELECT n.doc_id,
       |    ROUND(CAST(COALESCE(d.dot, 0) AS DOUBLE)
       |          / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE))),
       |      6) AS score
       |  FROM norms n CROSS JOIN qn
       |  LEFT JOIN dots d ON d.doc_id = n.doc_id)
       |SELECT doc_id, score FROM scored
       |ORDER BY score DESC, doc_id LIMIT $DimTuneK""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_index" -> (embedKnnIndexed _),
    "q_embed_index_upsert" -> (embedIndexUpsert _),
    "q_embed_index_query2" -> (embedKnnIndexedQuery2 _),
    "q_embed_index_batch" -> (embedIndexBatch _),
    "q_embed_index_delete" -> (embedIndexDelete _),
    "q_embed_index_vacuum" -> (embedIndexVacuum _),
    "q_embed_dim_tune" -> (embedDimTune _),
    "q_embed_knn_tuned" -> (embedKnnTuned _))

  def oracles: Map[String, String] = Map(
    // shared VERBATIM with q_embed_knn_sql: the persisted artifact must
    // be invisible in every served value
    "q_embed_index" -> EmbedOps.embedKnnSql,
    "q_embed_index_upsert" -> embedIndexUpsertSql,
    "q_embed_index_query2" -> EmbedOps.embedKnnSqlFor(FlagshipQuery2),
    "q_embed_index_batch" -> embedBatchSql,
    // masked reads and the physical fold land on the identical
    // reduced-corpus rebuild — the same oracle for both states
    "q_embed_index_delete" -> embedIndexDeleteSql,
    "q_embed_index_vacuum" -> embedIndexDeleteSql,
    "q_embed_dim_tune" -> embedDimTuneSql,
    "q_embed_knn_tuned" -> embedKnnTunedSql)
}
