package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.operators.{KnnSearch, TextOps, VectorOps}
import graft.sources.{IndexCatalog, InvertedIndex}
import org.apache.spark.sql.functions._

/** CONCURRENT-SERVING benchmark — latency under N in-flight queries.
  *
  * Every other bench in this repo runs queries one at a time, which is
  * the reference's own serving model (`main.go:190-213` — a REPL loop,
  * one query per keystroke) but not a serving engine's real number: what
  * matters at fleet scale is per-request latency while OTHER requests
  * hold the executors. This main drives every persisted serve family —
  * keymap point lookup (stateless + resident), probed-IVF ANN, pruned
  * BM25 (stateless + resident metadata), hybrid fusion, the flagship
  * embed16 serve (stateless + resident norms), the graph-ANN walk,
  * phrase proximity, and prefix expansion — from N client threads
  * sharing ONE SparkSession
  * under the FAIR scheduler (each thread its own pool, so a long scan
  * cannot convoy the queue behind it: the multi-tenant setup Spark
  * documents for shared-session serving).
  *
  * Protocol per (family, concurrency): every thread issues one warmup
  * request, then `ReqsPerThread` timed requests, parameters rotating
  * deterministically per request index (ids / query vectors / term
  * sets) so no two in-flight requests are byte-identical. Reported:
  * p50/p95/max latency and aggregate throughput. Serving state
  * (centroid codebook, layouts, query-vector block) is resolved ONCE
  * before the clock starts — the cached-codebook discipline a serving
  * deployment runs with, and exactly what [[graft.plans.AnnRouting]]'s
  * driver-side caches provide in-process.
  *
  * Output: one JSON line on stdout + SERVE_BENCH.json (the BENCH_SELF
  * artifact discipline). Not part of the driver's Bench contract — run
  * manually per round; numbers land in BASELINE.md's serving section.
  */
object ServeBench {

  val Levels = Seq(1, 4, 8)
  val ReqsPerThread = 8

  private def pctl(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) -1.0
    else sorted(math.min(sorted.size - 1, math.ceil(p * sorted.size).toInt - 1))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-serve-bench")

    // ---- serving state, resolved once (publish-time moves) ------------
    val (vecBase, vecName, cent) = VectorOps.ensureIvfBucketed(spark, sfDir)
    IndexCatalog.ensureKeymap(spark, vecBase, vecName, "vec_id")
    val invLayout = InvertedIndex.ensure(spark, sfDir)
    // a deterministic query-vector block (the q_graph_ann_batch
    // discipline: serving claims need a block, not one query) with
    // per-vector probe lists precomputed from the collected codebook —
    // driver-side metadata, the cached-codebook serving pattern
    val qBlock = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 64)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val centRows = cent.select(col("cent_id"), col("c_embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probesByQ = qBlock.map { case (qid, qv) =>
      qid -> centRows.sortBy { case (cid, cv) => (-cosine(qv, cv), cid) }
        .take(4).map(_._1).toSeq
    }.toMap
    val termSets = Seq(TextOps.Bm25Terms, InvertedIndex.Bm25Terms2)

    // ---- the three request kinds --------------------------------------
    def fetchReq(i: Int): Unit = {
      import spark.implicits._
      val ids = Seq.tabulate(4)(j => ((i * 13 + j * 7) % 500).toLong)
      IndexCatalog.fetchByIds(spark, vecBase, vecName, ids.toDF("vec_id"))
        .select(col("vec_id"), col("label")).collect()
    }
    // the same lookup through the serving-tier keymap cache — the
    // stateless-vs-resident latency delta IS the measurement
    def fetchHotReq(i: Int): Unit = {
      import spark.implicits._
      val ids = Seq.tabulate(4)(j => ((i * 13 + j * 7) % 500).toLong)
      IndexCatalog.fetchByIdsServing(spark, vecBase, vecName, ids.toDF("vec_id"))
        .select(col("vec_id"), col("label")).collect()
    }
    def annReq(i: Int): Unit = {
      import spark.implicits._
      val (qid, qv) = qBlock(i % qBlock.length)
      val q = Seq((qid, qv)).toDF("q_id", "q_embedding")
      val qn = KnnSearch.withNorm(q, "q_embedding").withColumnRenamed("vec_norm", "q_norm")
      KnnSearch.rankTopK(
        IndexCatalog.loadBuckets(spark, vecBase, vecName, probesByQ(qid))
          .crossJoin(broadcast(qn))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("score", KnnSearch.prenormedScore)
          .select(col("vec_id"), col("score")),
        "vec_id", 10).collect()
    }
    def bm25Req(i: Int): Unit =
      InvertedIndex.bm25Over(spark, invLayout,
        terms = termSets(i % termSets.size)).collect()
    // the same queries with the dict/stats metadata RESIDENT
    // (ServingCache) — the stateless-vs-resident delta for the lexical
    // tier, mirroring fetch vs fetch_hot
    def bm25HotReq(i: Int): Unit =
      InvertedIndex.bm25Over(spark, invLayout,
        terms = termSets(i % termSets.size), serving = true).collect()
    // sparse–dense HYBRID serve: probed-IVF dense arm + resident-metadata
    // lexical arm, RRF-fused — both arms parameter-rotated per request
    def hybridReq(i: Int): Unit = {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val (qid, qv) = qBlock(i % qBlock.length)
      val q = Seq((qid, qv)).toDF("q_id", "q_embedding")
      val qn = KnnSearch.withNorm(q, "q_embedding").withColumnRenamed("vec_norm", "q_norm")
      val dense = KnnSearch.rankTopK(
        IndexCatalog.loadBuckets(spark, vecBase, vecName, probesByQ(qid))
          .crossJoin(broadcast(qn))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("score", KnnSearch.prenormedScore)
          .select(col("vec_id"), col("score")),
        "vec_id", 100)
        .withColumn("dense_rank",
          row_number().over(Window.orderBy(col("score").desc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("dense_rank"))
      val lex = InvertedIndex.bm25Over(spark, invLayout, k = 100,
          terms = termSets(i % termSets.size), serving = true)
        .withColumn("lex_rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("lex_rank"))
      dense.join(lex, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10).collect()
    }
    // the FLAGSHIP text→embedding→topK serve from the persisted embed16
    // artifact (the reference's #1 entry point, main.go:89-184): query
    // dims hashed driver-side, dots from pruned postings, norms from the
    // sidecar — stateless vs resident-norms (ServingCache) variants
    val embedLayout = graft.sources.EmbedIndex.ensure(spark, sfDir)
    val embedQueries = Seq(
      "fast vector query engine", "merge group customer scan",
      "window stream filter spark", "hash join sort data",
      "big data line batch", "query engine spark scan",
      "vector hash merge", "slow batch order value")
    def embedReq(i: Int): Unit =
      graft.sources.EmbedIndex.embedOver(spark, embedLayout,
        embedQueries(i % embedQueries.size)).collect()
    def embedHotReq(i: Int): Unit =
      graft.sources.EmbedIndex.embedOver(spark, embedLayout,
        embedQueries(i % embedQueries.size), serving = true).collect()
    // graph-ANN walk against resolved serving state (resident edge
    // frame) — the multi-job, multi-hop serve shape most likely to
    // convoy under FAIR-pool concurrency
    val graphState = graft.operators.GraphOps.graphServeState(spark, sfDir)
    def graphReq(i: Int): Unit = {
      val (qid, qv) = qBlock(i % qBlock.length)
      graft.operators.GraphOps
        .graphAnnServeRequest(spark, graphState, qid, qv).collect()
    }
    // PHRASE/proximity serve — the positional-sidecar access path (two
    // pruned position lists, a gap-window join); word pairs rotate over
    // corpus vocabulary so no two in-flight requests share a plan
    val phrasePairs = Seq(
      (InvertedIndex.PhraseW1, InvertedIndex.PhraseW2), ("hash", "join"),
      ("group", "order"), ("data", "stream"), ("fast", "query"),
      ("small", "table"), ("merge", "sort"), ("big", "batch"))
    def phraseReq(i: Int): Unit = {
      val (w1, w2) = phrasePairs(i % phrasePairs.size)
      InvertedIndex.proximityOver(spark, invLayout, w1, w2,
        InvertedIndex.PhraseSlop).collect()
    }
    // PREFIX-expansion serve — dictionary expansion from the RESIDENT
    // dict frame (ServingCache) + quantized boolean-of-terms scoring;
    // prefixes rotate so expansion sizes vary per in-flight request
    val prefixes = Seq("s", "f", "b", "c", "w", "d", "g", "h")
    // the load generator's expansion bound: TRUNCATE at a fixed cap
    // instead of uncapping (the pre-r17 1<<20 shape let a one-letter
    // prefix materialize ~1M terms on the driver per request in the
    // concurrent hot loop — the generator itself became driver-memory-
    // bound and perturbed the latencies it measures). The declared
    // queries keep the strict fail-loud maxClauseCount; a generator
    // scoring a truncated-but-large expansion still exercises the same
    // serve path.
    val LoadGenExpansionCap = 4096
    def prefixReq(i: Int): Unit = {
      val p = prefixes(i % prefixes.size)
      InvertedIndex.bm25ExpandedOver(spark, invLayout,
        InvertedIndex.expandPrefix(spark, invLayout, p,
          cap = LoadGenExpansionCap, serving = true, truncateAtCap = true)
          .map((_, 1.0)),
        serving = true).collect()
    }

    // FUZZY-expansion serve — the length-banded levenshtein walk over the
    // resident lex sidecar + quantized boolean-of-terms scoring; typo'd
    // corpus words rotate so expansion sets vary per in-flight request
    val typos = Seq("grup", "vectr", "hsh", "qery", "strem", "windw",
      "mrge", "srt")
    def fuzzyReq(i: Int): Unit = {
      val q = typos(i % typos.size)
      InvertedIndex.bm25ExpandedOver(spark, invLayout,
        InvertedIndex.expandFuzzy(spark, invLayout, q, 2,
          cap = LoadGenExpansionCap, serving = true, truncateAtCap = true),
        serving = true).collect()
    }

    // WILDCARD serve — the prefix-pruned lex walk + anchored regex;
    // patterns rotate over both metacharacters. The leading-wildcard
    // cell (*er) serves through the reversed-term sidecar since r18 —
    // suffix-pruned, no longer the rotation's honest full-walk outlier
    // (only no-edge patterns like *x* keep that cost).
    val wildcards = Seq("s*a?", "h?sh", "gr*p", "w*ow", "f*t", "b*ch",
      "qu*", "*er")
    def wildcardReq(i: Int): Unit = {
      val p = wildcards(i % wildcards.size)
      val exp = InvertedIndex.expandWildcard(spark, invLayout, p,
        cap = LoadGenExpansionCap, serving = true, truncateAtCap = true)
      if (exp.nonEmpty)
        InvertedIndex.bm25ExpandedOver(spark, invLayout,
          exp.map((_, 1.0)), serving = true).collect()
    }

    val families: Seq[(String, Int => Unit)] =
      Seq("fetch" -> (fetchReq _), "fetch_hot" -> (fetchHotReq _),
        "ann" -> (annReq _), "bm25" -> (bm25Req _),
        "bm25_hot" -> (bm25HotReq _), "hybrid" -> (hybridReq _),
        "embed" -> (embedReq _), "embed_hot" -> (embedHotReq _),
        "graphann" -> (graphReq _), "phrase" -> (phraseReq _),
        "prefix" -> (prefixReq _), "fuzzy" -> (fuzzyReq _),
        "wildcard" -> (wildcardReq _))

    // ---- drive ---------------------------------------------------------
    // the multi-hop walk costs an order more wall-clock per request than
    // the point families — half the sample keeps the full matrix ~25 min
    def reqsFor(fam: String): Int =
      if (fam == "graphann") ReqsPerThread / 2 else ReqsPerThread
    val results = for ((fam, req) <- families; n <- Levels) yield {
      val reqsPerThread = reqsFor(fam)
      val pool = Executors.newFixedThreadPool(n)
      val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val done = new CountDownLatch(n)
      val t0 = System.nanoTime()
      (0 until n).foreach { tid =>
        pool.submit(new Runnable {
          // per-REQUEST try/catch: a failure records ITS -1 sentinel and
          // the loop continues, so the failed count equals lost requests
          // and p50/p95/qps are never computed over a silently reduced
          // sample (a thread-level abort under-counted by ReqsPerThread-1)
          def run(): Unit = try {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client-$tid")
            try req(tid * 1000) // warmup, untimed
            catch { case e: Throwable =>
              System.err.println(s"[serve] $fam@$n thread $tid warmup failed: ${e.getMessage}")
            }
            var i = 0
            while (i < reqsPerThread) {
              val s = System.nanoTime()
              try {
                req(tid * 1000 + i + 1)
                latencies.add((System.nanoTime() - s) / 1e6)
              } catch {
                case e: Throwable =>
                  System.err.println(s"[serve] $fam@$n thread $tid req $i failed: ${e.getMessage}")
                  latencies.add(-1.0)
              }
              i += 1
            }
          } finally done.countDown()
        })
      }
      done.await(30, TimeUnit.MINUTES)
      pool.shutdown()
      val wall = (System.nanoTime() - t0) / 1e9
      import scala.jdk.CollectionConverters._
      val ls = latencies.iterator().asScala.toSeq
      val ok = ls.filter(_ >= 0).sorted
      val failed = ls.count(_ < 0)
      (fam, n, ok, failed, wall)
    }

    // ---- CHURN MODE: serving under concurrent maintenance ------------
    // Three resident-path families re-measured against CLONED artifacts
    // while ONE maintainer thread applies real churn cycles (upsert
    // fresh twins → delete them → vacuum) to the same artifacts — the
    // regime every stamp-guarded cache/memo (ServingCache swap, embed
    // pruning memo, keymap residency) is designed for, priced here for
    // the first time. Clones, never the shared cache: churn on the
    // shared artifacts would poison every other family's numbers and
    // the next session's builds. Reported per cell: the usual latency
    // stats + maintenance cycles completed + resident-frame rebuilds
    // the churn caused (the invalidation count — each stamp swap forces
    // the next request to rebuild its resident frame).
    val ChurnLevel = 4
    val churnResults = {
      import spark.implicits._
      val inv = InvertedIndex.cloneIndex(spark, sfDir, "serve-churn-inv")
      val emb = InvertedIndex.cloneIndexNamed(spark, sfDir,
        graft.sources.EmbedIndex.IndexName, "embed16", "serve-churn-emb")
      val cvBase = graft.Scratch.dir("serve-churn-vec")
      val cvName = "churn-index"
      IndexCatalog.createIfAbsent(spark, cvBase,
        IndexCatalog.IndexDescriptor(cvName, 64, "cosine"),
        Tables.embeddings(spark, sfDir))
      IndexCatalog.ensureKeymap(spark, cvBase, cvName, "vec_id")
      val twinDocs = Tables.documents(spark, sfDir)
        .filter(col("doc_id") < 40)
        .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
          col("text"))
        .localCheckpoint(true)
      val twinIds = twinDocs.select(col("doc_id")).localCheckpoint(true)
      val twinVecs = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") < 40)
        .select((col("vec_id") + InvertedIndex.UpsertIdOffset).as("vec_id"),
          col("label"), col("embedding"))
        .localCheckpoint(true)
      val twinVecIds = twinVecs.select(col("vec_id")).localCheckpoint(true)
      def bm25ChurnReq(i: Int): Unit =
        InvertedIndex.bm25Over(spark, inv,
          terms = termSets(i % termSets.size), serving = true).collect()
      def embedChurnReq(i: Int): Unit =
        graft.sources.EmbedIndex.embedOver(spark, emb,
          embedQueries(i % embedQueries.size), serving = true).collect()
      def fetchChurnReq(i: Int): Unit = {
        val ids = Seq.tabulate(4)(j => ((i * 13 + j * 7) % 500).toLong)
        IndexCatalog.fetchByIdsServing(spark, cvBase, cvName, ids.toDF("vec_id"))
          .select(col("vec_id"), col("label")).collect()
      }
      val churnFams: Seq[(String, Int => Unit, () => Unit)] = Seq(
        ("bm25_churn", bm25ChurnReq _, () => {
          InvertedIndex.upsertDocs(spark, inv, twinDocs)
          InvertedIndex.deleteDocs(spark, inv, twinIds)
          InvertedIndex.vacuum(spark, inv)
        }),
        ("embed_churn", embedChurnReq _, () => {
          InvertedIndex.upsertDocs(spark, emb, twinDocs)
          InvertedIndex.deleteDocs(spark, emb, twinIds)
          InvertedIndex.vacuum(spark, emb)
        }),
        ("fetch_churn", fetchChurnReq _, () => {
          IndexCatalog.upsertInto(spark, cvBase, cvName, twinVecs, "vec_id")
          IndexCatalog.tombstone(spark, cvBase, cvName, twinVecIds)
          IndexCatalog.vacuumTombstones(spark, cvBase, cvName)
        }))
      for ((fam, req, cycle) <- churnFams) yield {
        // warm the resident frames so the first timed request measures
        // churn-invalidation rebuilds, not the cold build
        try req(0) catch { case e: Throwable =>
          System.err.println(s"[serve] $fam warmup failed: ${e.getMessage}")
        }
        val rebuilds0 = graft.sources.ServingCache.rebuildCount
        val pool = Executors.newFixedThreadPool(ChurnLevel + 1)
        val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
        val done = new CountDownLatch(ChurnLevel)
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val cycles = new java.util.concurrent.atomic.AtomicLong(0L)
        val tornRetries = new java.util.concurrent.atomic.AtomicLong(0L)
        val t0 = System.nanoTime()
        // the maintainer: one thread, its own FAIR pool, cycling until
        // the clients finish (readers never take the writer lease, so
        // the only coupling is the one being measured)
        pool.submit(new Runnable {
          def run(): Unit = {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maintainer")
            while (!stop.get()) {
              try { cycle(); cycles.incrementAndGet() }
              catch {
                case e: Throwable
                    if graft.sources.ServingCache.isTornRead(e) =>
                  // the maintainer raced a reader's listing: run the
                  // next cycle; every maintenance op is idempotent/
                  // self-healing by its crash discipline, so a mid-cycle
                  // abort is safe to retry
                  System.err.println(
                    s"[serve] $fam maintainer torn read, retrying: ${e.getMessage}")
                case e: Throwable =>
                  System.err.println(s"[serve] $fam maintainer failed: ${e.getMessage}")
                  stop.set(true)
              }
            }
          }
        })
        (0 until ChurnLevel).foreach { tid =>
          pool.submit(new Runnable {
            def run(): Unit = try {
              spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client-$tid")
              var i = 0
              while (i < ReqsPerThread) {
                val s = System.nanoTime()
                try {
                  // torn-read window (documented in ServingCache): a
                  // dynamic overwrite can delete files between a
                  // request's plan snapshot and its execution — the
                  // recovery is a re-plan, counted and INCLUDED in the
                  // recorded latency (the price of racing live
                  // maintenance is exactly what this cell measures).
                  // Bounded at 6 with a linear backoff since the
                  // continuation waves: the maintainer's per-batch store
                  // updates run OVERLAPPED (Par) — including, now, the
                  // dict/lex/rev/del sidecar folds — so a single re-plan
                  // can land inside a DIFFERENT store's torn window, and
                  // several stores are mid-overwrite SIMULTANEOUSLY. Each
                  // retry is the same documented recovery, iterated; the
                  // short backoff lets the ~100 ms overwrite commit pass
                  // instead of re-planning into the same storm; the cap
                  // keeps a genuinely broken store failing loudly instead
                  // of spinning. Retries and their backoffs are counted
                  // and INCLUDED in the recorded latency.
                  var attempt = 0
                  var done = false
                  while (!done) {
                    try { req(tid * 1000 + i + 1); done = true }
                    catch {
                      case e: Throwable
                          if attempt < 6 &&
                            graft.sources.ServingCache.isTornRead(e) =>
                        attempt += 1
                        tornRetries.incrementAndGet()
                        Thread.sleep(50L * attempt)
                    }
                  }
                  latencies.add((System.nanoTime() - s) / 1e6)
                } catch {
                  case e: Throwable =>
                    System.err.println(s"[serve] $fam thread $tid req $i failed: ${e.getMessage}")
                    latencies.add(-1.0)
                }
                i += 1
              }
            } finally done.countDown()
          })
        }
        done.await(30, TimeUnit.MINUTES)
        stop.set(true)
        pool.shutdown()
        pool.awaitTermination(30, TimeUnit.MINUTES)
        val wall = (System.nanoTime() - t0) / 1e9
        import scala.jdk.CollectionConverters._
        val ls = latencies.iterator().asScala.toSeq
        val ok = ls.filter(_ >= 0).sorted
        (fam, ok, ls.count(_ < 0), wall, cycles.get(),
          graft.sources.ServingCache.rebuildCount - rebuilds0,
          tornRetries.get())
      }
    }

    val steadyJson = results.map { case (fam, n, ok, failed, wall) =>
      val thr = if (wall > 0) ok.size / wall else 0.0
      f"""\"$fam@$n\":{\"n\":${ok.size},\"failed\":$failed,\"p50_ms\":${pctl(ok, 0.50)}%.1f,\"p95_ms\":${pctl(ok, 0.95)}%.1f,\"max_ms\":${if (ok.isEmpty) -1.0 else ok.last}%.1f,\"qps\":$thr%.2f}"""
    }
    val churnJson = churnResults.map {
      case (fam, ok, failed, wall, cyc, reb, torn) =>
        val thr = if (wall > 0) ok.size / wall else 0.0
        f"""\"$fam@$ChurnLevel\":{\"n\":${ok.size},\"failed\":$failed,\"p50_ms\":${pctl(ok, 0.50)}%.1f,\"p95_ms\":${pctl(ok, 0.95)}%.1f,\"max_ms\":${if (ok.isEmpty) -1.0 else ok.last}%.1f,\"qps\":$thr%.2f,\"maint_cycles\":$cyc,\"frame_rebuilds\":$reb,\"torn_retries\":$torn}"""
    }
    val json = (steadyJson ++ churnJson).mkString("{", ",", "}")
    val line =
      s"""{"metric":"serving","unit":"ms","levels":[${Levels.mkString(",")}],"reqs_per_thread":$ReqsPerThread,"families":$json,"sf":"$sfDir"}"""
    println(line)
    val out = sys.env.getOrElse("SPARK_GRAFT_SERVE_OUT", "/root/repo/SERVE_BENCH.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException =>
      System.err.println(s"[serve] artifact write to $out failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
