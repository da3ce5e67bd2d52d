package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.language.reflectiveCalls

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 is declared here as a named query over
  * the testdata tables; for each, `oracleSql` carries the equivalent ANSI
  * SQL that DuckDB runs on the same parquet files (omitted only for
  * operators whose semantics are not SQL-expressible — those get the
  * driver's weaker rows-only check and a ScalaTest spec instead).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's full pipeline in one plan: normalize + embed the
    * corpus (`embed/embed.go`), score against an embedded text query,
    * top-K, and fetch-join matches back to their stored text
    * (`main.go:89-184`, with bug B3's lost enrichment fixed). */
  def entry(spark: SparkSession): DataFrame =
    EmbedOps.embedKnn(spark, "/root/testdata/sf0.001")

  /** A module declaring named queries and, for each SQL-expressible one,
    * its oracle. */
  private[graft] type Module = {
    def queries: Map[String, (SparkSession, String) => DataFrame]
    def oracles: Map[String, String]
  }

  /** Every module, registered once: its queries and their oracles come
    * from the same entry. */
  private[graft] def modules: Seq[Module] = Seq[Module](
    RelationalOps, VectorOps, IvfTune, LshTune, PqTune, IvfPqTune,
    FusionTune, TextOps, EventOps, DedupOps, EmbedOps, MultimodalOps,
    AsofJoin, RandomHyperplaneLsh, RangeJoin, CorpusOps, PipelineOps,
    GraphOps, PqIndex, ReconcileOps, EmbedAnalytics, EmbedPca, DataContract,
    graft.sources.FormatRoundtrip, graft.sources.InvertedIndex,
    graft.sources.EmbedIndex, graft.sources.MinhashIndex,
    graft.sources.IncrementalAudit, graft.streaming.AllCdc,
    graft.streaming.DocStream, graft.streaming.EventsStream,
    graft.streaming.VectorStream)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.map(_.oracles).reduce(_ ++ _)
}
