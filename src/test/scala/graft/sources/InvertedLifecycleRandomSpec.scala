package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** SEEDED RANDOMIZED lifecycle gate for the inverted index — the
  * KeymapSpec randomized-model discipline applied to the lexical
  * artifact: a fixed-seed random interleaving of upsert / delete /
  * vacuum / compact / refreshImpacts ops runs against a cloned index,
  * and after EVERY op the served BM25 ranking must equal a from-scratch
  * referee over a driver-side model corpus, the stored corpus stats
  * must equal the model's exact integers, and the deep audit must read
  * all-zeros, pending tombstones or not. Pointwise lifecycle
  * specs pin fixed transitions; this gate covers the interleavings
  * nobody thought to write — exactly the class of cross-op interaction
  * the r13 randomized keymap gate caught (upserts dropping rows hidden
  * by unrelated tombstones).
  *
  * Generator contract notes (mirroring the engine's documented
  * contracts, not weakening them): an id is never re-added while its
  * tombstone is pending (deleteDocs scaladoc — versioned reuse is the
  * vector index's discipline), and never re-added while still live
  * (upsertDocs is a pure append; replacement is IndexCatalog's
  * partition-rewrite path). A VACUUMED id may be re-added — that path
  * is exercised and must behave as a fresh add.
  */
class InvertedLifecycleRandomSpec extends SparkSpecBase with Matchers {

  private val Terms = InvertedIndex.PhraseW1 ::
    InvertedIndex.PhraseW2 :: "merge" :: Nil

  /** From-scratch BM25 referee over an explicit corpus frame — the
    * TextOps.bm25 pipeline with the docs frame as a parameter (avg(dl)
    * over ints is exactly sum/count, the same one-division avgdl the
    * index's exact-integer stats produce). */
  private def referee(docs: DataFrame): Seq[(Long, Double)] = {
    val toks = docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
    val lens = toks.select(col("doc_id"),
      org.apache.spark.sql.functions.size(col("t")).as("dl"))
    val stats = lens.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = toks.select(col("doc_id"), explode(col("t")).as("w"))
      .filter(col("w").isin(Terms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfd = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfd), "w").join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("s",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id")).pivot("w", Terms).agg(sum(col("s")))
      .select(col("doc_id"),
        round(Terms.map(t => coalesce(col(t), lit(0.0))).reduce(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("seeded random upsert/delete/vacuum/compact/refresh interleaving matches the from-scratch model after every op") {
    import spark.implicits._
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "inv-rand")
    val base = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // driver-side model: the corpus the index should equal
    val corpus = scala.collection.mutable.Map[Long, String](base: _*)
    val pending = scala.collection.mutable.Set[Long]()
    var nextTwin = 0
    val rnd = new scala.util.Random(4242)

    def modelFrame: DataFrame =
      corpus.toSeq.sortBy(_._1).toDF("doc_id", "text")
    def served(): Seq[(Long, Double)] =
      InvertedIndex.bm25Over(spark, layout, terms = Terms).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def check(tag: String): Unit = {
      withClue(s"after $tag: ") {
        served() shouldBe referee(modelFrame)
        // stored corpus stats equal the model's EXACT integers (the
        // no-FP-drift contract through arbitrary op orders)
        val st = spark.read.parquet(layout.statsPath).head()
        st.getLong(0) shouldBe corpus.size.toLong
        val totalDl = spark.sparkContext.parallelize(corpus.values.toSeq, 8)
          .map(t => t.trim.split("\\s+").length.toLong).sum().toLong
        st.getLong(1) shouldBe totalDl
        // pending tombstones violate no invariant: stats and impacts
        // are audited against the live docs
        val audit = InvertedIndex.auditFrame(spark, layout).collect()
          .map(r => (r.getString(1), r.getLong(2))).toMap
        audit.values.foreach(_ shouldBe 0L)
      }
    }

    (1 to 12).foreach { step =>
      val op = rnd.nextInt(10)
      if (op < 3) { // upsert 3..8 fresh twins
        val k = 3 + rnd.nextInt(6)
        val batch = (0 until k).map { _ =>
          nextTwin += 1
          val id = InvertedIndex.UpsertIdOffset + nextTwin
          id -> base(rnd.nextInt(base.length))._2
        }.filterNot(p => corpus.contains(p._1) || pending.contains(p._1))
        InvertedIndex.upsertDocs(spark, layout,
          batch.toDF("doc_id", "text"))
        corpus ++= batch
        check(s"$step:upsert(${batch.size})")
      } else if (op < 6) { // delete 2..10 live docs
        val live = corpus.keys.toSeq.sorted
        val k = math.min(live.size, 2 + rnd.nextInt(9))
        val ids = rnd.shuffle(live).take(k)
        InvertedIndex.deleteDocs(spark, layout, ids.toDF("doc_id"))
        corpus --= ids
        pending ++= ids
        check(s"$step:delete($k)")
      } else if (op < 8) { // vacuum (no-op when nothing pending)
        InvertedIndex.vacuum(spark, layout)
        pending.clear()
        check(s"$step:vacuum")
      } else if (op < 9) { // compact every appender
        InvertedIndex.compactStores(spark, layout)
        check(s"$step:compact")
      } else { // refresh impact bounds under whatever is pending
        InvertedIndex.refreshImpacts(spark, layout)
        check(s"$step:refresh")
        // bound-invariance: MaxScore still serves the identical ranking
        InvertedIndex.maxScorePlan(spark, layout, terms = Terms)._2.collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe served()
      }
    }
    // terminal fold: the end state equals a from-scratch build's physics
    InvertedIndex.vacuum(spark, layout)
    pending.clear()
    check("terminal vacuum")
  }
}
