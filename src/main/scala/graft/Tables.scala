package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog of the testdata parquet tables (see TESTDATA.md).
  *
  * The reference smears its one logical table across a text file, a CSV
  * file, and a Pinecone index (reference `main.go:32`, `embed/embed.go:68`,
  * `upsert/upsert.go:23`); here every table is a partition-friendly
  * Parquet-backed DataFrame and all operators are `DataFrame => DataFrame`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Register all tables as temp views named after themselves — through
    * the ADAPTED readers, not raw load(): a raw `events` view would
    * expose the physical ts form (nanos longs / NTZ) no downstream
    * operator can consume, and raw `documents`/`embeddings` views would
    * bypass the width normalization below. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = n match {
        case "events" => events(spark, sfDir)
        case "documents" => documents(spark, sfDir)
        case "embeddings" => embeddings(spark, sfDir)
        case other => load(spark, sfDir, other)
      }
      df.createOrReplaceTempView(n)
    }

  /** Width-normalizing readers for the id-carrying tables — the events
    * lesson generalized to integer widths and vector element types:
    * driver-side hops (probe-id collects, fetch-batch ids, query-vector
    * literals) and index/sidecar builds assume 64-bit ids and float
    * vectors, so a regenerated testdata file with int32 ids or double
    * embeddings would ClassCastException every such hop. The casts are
    * NO-OPS against the current files (SimplifyCasts erases a
    * same-type cast, so plans, pushdown, and oracle parity are
    * byte-identical today); they only bite the day the physical schema
    * drifts — absorbing the change instead of breaking on it. */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")
      .withColumn("doc_id", org.apache.spark.sql.functions.col("doc_id").cast("long"))
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "embeddings")
      .withColumn("vec_id", org.apache.spark.sql.functions.col("vec_id").cast("long"))
      .withColumn("embedding",
        org.apache.spark.sql.functions.col("embedding").cast("array<float>"))

  /** `events.ts` has shipped in two physical forms, so the reader adapts to
    * whatever the file actually carries instead of assuming one:
    *
    *  - TIMESTAMP(NANOS): Spark 4 refuses to read it as a timestamp; with
    *    the session-wide `spark.sql.legacy.parquet.nanosAsLong` conf set
    *    (no per-read option exists) it surfaces as raw LONG nanos,
    *    converted here with integer division — nanos (~1.7e18) exceed
    *    double's 2^53 exact range, so this must never go through a float.
    *    The testdata carries only microsecond precision, so the
    *    truncation is lossless. SESSION REQUIREMENT: the conf must be set
    *    AT SESSION CONSTRUCTION (Sessions.local — which Verify, Bench and
    *    ServeBench use — and the test harness both do) — the reader itself no longer mutates the
    *    session (an observable side effect on user sessions, flagged in
    *    round 9); a user-supplied session without the conf fails loudly
    *    on a nanos-typed file with Spark's own illegal-type error, which
    *    names the conf to set.
    *  - timestamp[us] without timezone: reads as TIMESTAMP_NTZ; converted
    *    to TIMESTAMP_LTZ for parity with the nanos path (every downstream
    *    operator was written against TimestampType). The naive value is
    *    interpreted as UTC wall clock via PURE WALL-CLOCK ARITHMETIC —
    *    `timestampdiff(MICROSECOND, TIMESTAMP_NTZ epoch, ts)` →
    *    `timestamp_micros` — because every cast-shaped conversion is
    *    session-zone-dependent: a plain `cast(timestamp)` reinterprets
    *    NTZ in the session zone, and even `to_utc_timestamp(ts, 'UTC')`
    *    implicit-casts NTZ through the session zone first (measured: a
    *    +5h shift under America/New_York). A non-UTC user session would
    *    silently shift every event by its zone offset while the other two
    *    branches stayed on true epoch instants (regression-pinned in
    *    EventsReaderSpec under America/New_York).
    *  - already TIMESTAMP_LTZ: pass through.
    *
    * The reader is PURE — no session conf is touched here (see the
    * session requirement above). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = load(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", expr(
        "timestamp_micros(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"))
      case _                => df
    }
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
}
