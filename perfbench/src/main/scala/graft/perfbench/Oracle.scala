package graft.perfbench

import graft.operators.EmbedOps

/** Answers computed without the serving path, from the generated inputs.
  * fetch and ann are computed here, driver-side; bm25 and embed_knn use
  * the engine's parameterised oracle SQL (`TextOps.bm25SqlFor`, and
  * [[embedKnnSql]]), run by the runner in DuckDB over the same parquet
  * inputs. */
object Oracle {

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The `n` centroids nearest `q` by cosine, ties to the lower id. */
  def probes(q: Array[Float], cents: IndexedSeq[(Long, Array[Float])], n: Int): Seq[Long] =
    cents.map { case (id, c) => (-cosine(q, c), id) }.sorted.take(n).map(_._2)

  def nearestCentroid(v: Array[Float], cents: IndexedSeq[(Long, Array[Float])]): Long =
    probes(v, cents, 1).head

  /** Exact cosine top-k over the vectors whose nearest centroid is one
    * of `probes`, scores rounded to 6 places, ties to the lower id. */
  def annTopK(q: Array[Float], probes: Seq[Long], vecs: Seq[Corpus.Vec],
              cents: IndexedSeq[(Long, Array[Float])], k: Int): Seq[(Long, Double)] = {
    val ps = probes.toSet
    vecs.iterator.filter(v => ps.contains(nearestCentroid(v.embedding, cents)))
      .map(v => (v.id, BigDecimal(cosine(q, v.embedding)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** The embed oracle ranks (doc_id, lang, score, text_head); the check
    * compares (doc_id, score). */
  def embedKnnSql(text: String): String =
    s"SELECT doc_id, score FROM (${EmbedOps.embedKnnSqlFor(text)}) ORDER BY score DESC, doc_id"
}
