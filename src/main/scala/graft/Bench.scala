package graft
import org.apache.spark.sql.SparkSession
object Bench {
  // Time through the noop sink, not count(): a count aggregate lets
  // Catalyst prune unused projections/windows, so map-only queries would
  // collapse to a parquet row count and never execute the operator. The
  // noop sink materializes every output row (full computation) without
  // driver-side collection.
  private def runOnce(spark: SparkSession, sfDir: String,
                      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
    fn(spark, sfDir).write.mode("overwrite").format("noop").save()

  /** Best-of-two seconds per declared query at one scale factor; -1.0 for
    * a query that failed on ANY run — a broken query must read as broken,
    * never as fast. Each failure's cause goes to stderr as
    * `[bench] <query> failed: <class>: <message>`, so the JSON line on
    * stdout keeps its shape. Shared by the driver-contract main below and the
    * per-sf scaling sweep ([[BenchSweep]], at the end of this file). */
  def measure(spark: SparkSession, sfDir: String,
              only: Set[String] = Set.empty): Map[String, Double] = {
    // Warm the session (codegen, parquet footers, JIT) so the first timed
    // query doesn't absorb ~4s of startup.
    SparkEntry.queries.headOption.foreach { case (name, fn) =>
      try runOnce(spark, sfDir, fn) catch { case e: Throwable => reportFailure(name, e) }
    }
    val picked =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only.contains(n) }
    // Best of two runs per query: the first run can absorb one-off costs
    // (codegen cache misses, parquet footer reads) that say nothing about
    // the operator; the minimum is the steady-state number.
    picked.map { case (name, fn) =>
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { runOnce(spark, sfDir, fn); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable => reportFailure(name, e); -1.0 }
      }
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
  }

  private def reportFailure(name: String, e: Throwable): Unit =
    System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")

  /** HOST-SPEED CANARY: a fixed CPU-bound micro-job (xxhash64 over 150M
    * longs, folded to one sum) measured best-of-two like every query —
    * no I/O, no shuffle, corpus-independent, so its time moves ONLY with
    * the host's effective speed (load, co-tenancy, thermal state).
    * Recorded beside the per-query times; `tools/bench_record.py
    * compare` divides each query's record ratio by the canary's, so a
    * loaded driver window reads as "host 2× slower" instead of "112
    * queries regressed" (the r15 adjudication problem, mechanized —
    * VERDICT r15 "What's missing" #5). */
  def canary(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      // bit_xor, not sum: 150M full-range hashes overflow a LONG sum
      // under ANSI arithmetic; the xor fold is overflow-free and equally
      // CPU-bound
      spark.range(0L, 150000000L, 1L, 32)
        .select(expr("bit_xor(xxhash64(id))")).head()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** SCHEDULER-LATENCY CANARY: the median round-trip of 40 empty
    * single-task jobs — no computation, so its time moves ONLY with the
    * scheduler's responsiveness (DAGScheduler queue depth, GC pauses,
    * thread-pool contention on a co-tenanted host). The CPU canary can't
    * see this class of slowdown: the five q_stream_* totals are
    * trigger-count × scheduler-latency, so a loaded host can inflate a
    * streaming row 3× while xxhash64 throughput reads near-normal (the
    * r16 q_stream_window 2.9×-normalized open adjudication — this probe
    * mechanizes it). Median, not mean: one GC pause must read as noise,
    * a shifted distribution as signal. */
  def schedCanary(spark: SparkSession): Double = {
    spark.sparkContext.parallelize(Seq(0), 1).count() // warm the path
    val times = (1 to 40).map { _ =>
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(Seq(0), 1).count()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(times.size / 2)
  }

  /** STATEFUL-TRIGGER CANARY: the median wall time of 7 micro-batch
    * triggers of a tiny fixed stateful aggregation (MemoryStream → 64
    * rows → groupBy mod 8 → noop sink) — no corpus, constant data, so
    * its time moves ONLY with the per-trigger stateful machinery cost
    * (state-store load/commit per shuffle partition, micro-batch
    * planning, sink commit). Round 18 observed the class directly: the
    * stateful replay rows (q_stream_join/_session/_window) measured
    * 2-4× their records across several runs while BOTH existing
    * canaries read ~1.0× — and an A/B rerun of the UNCHANGED
    * pre-round code in the same window reproduced the inflation
    * (plans/r18/ — environment, not code). This probe prices that
    * third host dimension so `bench_record.py compare` can adjudicate
    * it mechanically like the other two. */
  def stateCanary(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val staged = graft.Scratch.dir("state-canary-in")
    val base = spark.range(0L, 64L, 1L, 1).select(col("id").as("value"))
    for (_ <- 0 until 8) // 8 one-file micro-batches (maxFilesPerTrigger=1)
      base.write.mode("append").parquet(staged)
    graft.streaming.DocStream.stampAscendingMtimes(staged)
    val q = spark.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
      .groupBy(pmod(col("value"), lit(8L)).as("k")).count()
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", graft.Scratch.dir("state-canary-ck"))
      .start()
    try {
      q.processAllAvailable()
      // the query's own per-trigger telemetry (the TriggerStats source);
      // data-bearing triggers only — trailing no-data probes are cheap
      // and would bias the median LOW
      val durs = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
        .sorted
      if (durs.isEmpty) -1.0 else durs(durs.size / 2) / 1000.0
    } finally q.stop()
  }

  def jsonLine(results: Map[String, Double], sfDir: String,
               canarySec: Double = -1.0,
               schedCanarySec: Double = -1.0,
               stateCanarySec: Double = -1.0): String = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Failures are reported out-of-band and EXCLUDED from the total — a
    // broken query must not lower the headline number.
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    // Per-trigger stats for the streaming replays (recorded by the
    // queries themselves — graft.streaming.TriggerStats): the five
    // q_stream_* totals swing 2-4x with host load because wall clock is
    // trigger count x scheduler latency; the per-trigger MEDIAN is the
    // machinery number that survives a loaded host, so round-over-round
    // comparison reads it instead of the total.
    val st = graft.streaming.TriggerStats.snapshot.toSeq.sortBy(_._1)
      .map { case (name, s) =>
        s"\"$name\":{\"n_triggers\":${s.nTriggers},\"median_ms\":${s.medianMs}," +
          s"\"max_ms\":${s.maxMs},\"total_ms\":${s.totalMs}}"
      }.mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","canary_sec":$canarySec,"sched_canary_sec":$schedCanarySec,"state_canary_sec":$stateCanarySec,"n_failed":${failed.size},"failed":$failedJson,"stream_triggers":$st,"queries":$qs,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")
    // the canary brackets the query window (one probe each side, the
    // recorded value their mean): a point probe at one end can miss a
    // load burst that inflated half the window — observed on this host,
    // where a run's END landed in a quiet instant after a loaded window
    val c0 = canary(spark)
    val s0 = schedCanary(spark)
    val t0 = stateCanary(spark)
    // optional query-name args = a standalone adjudication probe (the
    // round-7 lesson: sweep-context samples are noisier than standalone
    // numbers — flagged rows re-measure alone before being believed)
    val results = measure(spark, sfDir, args.toSet)
    val c1 = canary(spark)
    val s1 = schedCanary(spark)
    val t1 = stateCanary(spark)
    val line = jsonLine(results, sfDir, (c0 + c1) / 2, (s0 + s1) / 2,
      (t0 + t1) / 2)
    println(line)
    // Stdout alone is not a durable artifact: the driver's capture keeps a
    // bounded tail, which truncated 59 of 128 per-query times in round 6
    // (BENCH_r06.json "parsed": null). The full JSON is therefore also
    // written to a file in the repo, committed per round, so the headline
    // total is always reconstructible from the artifact itself. Best
    // effort: stdout already carries the line, so an unwritable path (a
    // checkout elsewhere without SPARK_GRAFT_BENCH_OUT) must not fail a
    // bench that already succeeded.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_SELF.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] artifact write to $out failed: ${e.getMessage}")
    }
    spark.stop()
  }
}

/** Per-sf scaling sweep: the same protocol as Bench at every testdata
  * scale factor, plus per-query growth ratios — the evidence that flags a
  * super-linear operator (a hot LSH band, an unbounded fanout) while it is
  * still cheap. sf0.1 holds 10× the docs/rows of sf0.01 (events/lineitem;
  * embeddings 4×), so a scale-free query's ratio sits near 1, a linear
  * one near the data ratio, and anything far above the data ratio is a
  * red flag. Output: one JSON line per sf (same schema as Bench) plus a
  * `ratios` line, consumed by BASELINE.md's scaling section. */
object BenchSweep {
  def main(args: Array[String]): Unit = {
    val sfs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench-sweep")
    val bySf = sfs.map(d => d -> Bench.measure(spark, d))
    bySf.foreach { case (d, r) => println(Bench.jsonLine(r, d)) }
    for (Seq((d0, r0), (d1, r1)) <- bySf.sliding(2)) {
      val ratios = r1.keys.toSeq.sorted.map { q =>
        val a = r0.getOrElse(q, -1.0); val b = r1.getOrElse(q, -1.0)
        val ratio = if (a > 0 && b > 0) b / a else -1.0
        s"""\"$q\":${f"$ratio%.2f"}"""
      }.mkString("{", ",", "}")
      println(s"""{"metric":"ratio","from":"$d0","to":"$d1","queries":$ratios}""")
    }
    spark.stop()
  }
}
