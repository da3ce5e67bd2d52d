package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import graft.perfbench.Engine._
import graft.operators.TextOps
import graft.sources.{IndexCatalog, Maintenance}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.FileStatusCache

/** One benchmark run: `Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Writes `<work>/result.json` with the
  * end-to-end metrics, the failure counts, the span summary (traced run)
  * and the DuckDB checks the runner completes. */
object Main {

  val Workloads: Set[String] = Set("serve", "churn")
  // the corpus is sf0.1's size; each maintenance cycle upserts, deletes
  // and vacuums this many fresh docs and vectors
  val Docs = 5000
  val Vecs = 2000
  val BatchRows = 40

  val Ops: Seq[String] = Seq("fetch", "ann", "embed_knn", "bm25")
  // ServeBench's client protocol for a read racing a file swap: re-plan
  // against fresh listings, linear backoff, at most this many retries
  val MaxRetries = 6

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    require(Workloads(opts.workload), s"unknown workload ${opts.workload}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Spans.nowMs() - jvmStartMs) / 1000
    val result =
      try new Run(new Engine(spark, new Spans(spark, opts.trace)), opts, sessionS).run()
      finally spark.stop()
    Files.writeString(opts.work.resolve("result.json"), Json(result))
  }

  sealed trait Req { def op: String }
  final case class Fetch(ids: Seq[Long]) extends Req { def op = "fetch" }
  final case class Ann(q: Array[Float]) extends Req { def op = "ann" }
  final case class EmbedKnn(text: String) extends Req { def op = "embed_knn" }
  final case class Bm25(terms: Seq[String]) extends Req { def op = "bm25" }

  /** Request `i` of a stream: ops rotate, parameters are seeded. */
  def request(seed: Long, stream: Long, i: Long, nVecs: Int): Req = {
    val r = Corpus.rng(seed, 100 + stream, i)
    def words(n: Int) = new scala.util.Random(r.nextLong()).shuffle(Corpus.Vocab).take(n)
    (i % 4).toInt match {
      case 0 => Fetch(Iterator.continually(r.nextInt(nVecs).toLong).distinct.take(4).toSeq)
      case 1 => Ann(Corpus.unitVector(r))
      case 2 => EmbedKnn(words(2 + r.nextInt(4)).mkString(" "))
      case _ => Bm25(words(3))
    }
  }

  def isTorn(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[java.io.FileNotFoundException] ||
      t.isInstanceOf[java.nio.file.NoSuchFileException] ||
      Option(t.getMessage).exists(m => m.contains("FILE_NOT_EXIST") || m.contains("does not exist")) ||
      isTorn(t.getCause))

  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }
}

final class Run(eng: Engine, opts: Main.Opts, sessionS: Double) {
  import Main._

  private val churn = opts.workload == "churn"
  private val spark = eng.spark
  private val seed = opts.seed
  private val attempted = new AtomicLong(0)
  private val failed = new AtomicLong(0)
  private val torn = new AtomicLong(0)
  private val errors = new ConcurrentLinkedQueue[String]()
  private val mismatches = new ConcurrentLinkedQueue[String]()
  private val duckChecks = new ConcurrentLinkedQueue[Map[String, Any]]()

  /** Run `body` as one attempted op under the client retry protocol. */
  private def attempt[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    var retries = 0
    while (true) {
      try return Some(body)
      catch {
        case e: Throwable if retries < MaxRetries && isTorn(e) =>
          retries += 1
          torn.incrementAndGet()
          Thread.sleep(50L * retries)
          FileStatusCache.getOrCreate(spark).invalidateAll()
        case e: Throwable =>
          failed.incrementAndGet()
          errors.add(s"$what: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
          return None
      }
    }
    None
  }

  private val t0 = System.nanoTime()
  private def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")

  private def timed[T](body: => T): (T, Double) = {
    val s = System.nanoTime(); val v = body; (v, (System.nanoTime() - s) / 1e9)
  }

  // ---- setup -------------------------------------------------------------

  private var data: Corpus.Data = _
  private var cents: IndexedSeq[(Long, Array[Float])] = _

  /** The engine keeps an input's artifacts under a fixed root keyed by
    * the input directory; point that root into the run's own directory. */
  private def redirectRoot(inputDir: Path): Unit = {
    val link = Paths.get(IndexCatalog.cacheBase(inputDir.toString))
    val target = opts.work.resolve("artifacts")
    Files.createDirectories(target)
    Files.createDirectories(link.getParent)
    Files.createSymbolicLink(link, target)
  }

  private def dropRoot(inputDir: String): Unit = {
    val link = Paths.get(IndexCatalog.cacheBase(inputDir))
    Maintenance.deleteRecursively(link.toRealPath())
    Files.deleteIfExists(link)
  }

  /** One request of each op, untimed, before the clock starts. */
  private def warmUp(a: Artifacts): Unit =
    (0 until 4).foreach(i => execute(a, request(seed, 99, i, Vecs)))

  // ---- reads -------------------------------------------------------------

  private val latMs = Ops.map(_ -> new ConcurrentLinkedQueue[Double]()).toMap

  private def execute(a: Artifacts, req: Req): Option[Seq[Row]] =
    attempt(req.op) {
      req match {
        case Fetch(ids) => eng.fetch(a, ids)
        case Ann(q) => eng.ann(a, q, Oracle.probes(q, cents, NProbe))
        case EmbedKnn(t) => eng.embedKnn(a, t)
        case Bm25(ts) => eng.bm25(a, ts)
      }
    }

  private def pairs(rows: Seq[Row]): Seq[(Long, Double)] =
    rows.map(r => (r.getLong(0), r.getDouble(1)))

  /** Compare one answer with the independent oracle (fetch/ann here,
    * embed_knn/bm25 queued for DuckDB). */
  private def check(req: Req, rows: Seq[Row]): Unit = req match {
    case Fetch(ids) =>
      val want = ids.sorted.map(i => data.vecs(i.toInt))
        .map(v => (v.id, v.label, v.embedding.toSeq))
      val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2))).sortBy(_._1)
      if (got != want) mismatches.add(s"fetch $ids: got ${got.map(_._1)}, want ${want.map(_._1)}")
    case Ann(q) =>
      val want = Oracle.annTopK(q, Oracle.probes(q, cents, NProbe), data.vecs, cents, AnnK)
      val got = pairs(rows)
      val same = got.map(_._1) == want.map(_._1) &&
        got.zip(want).forall { case (g, w) => math.abs(g._2 - w._2) <= 2e-6 }
      if (!same) mismatches.add(s"ann: got $got, want $want")
    case EmbedKnn(t) =>
      duckChecks.add(Map("op" -> "embed_knn", "sql" -> Oracle.embedKnnSql(t), "got" -> pairs(rows)))
    case Bm25(ts) =>
      duckChecks.add(Map("op" -> "bm25", "sql" -> TextOps.bm25SqlFor(ts), "got" -> pairs(rows)))
  }

  private val overheadMs = Ops.map(_ -> new ConcurrentLinkedQueue[Double]()).toMap

  /** The closed-loop client, on the calling thread, until `stop` holds;
    * each answer goes to `keep`. In a traced run, a request's latency minus
    * its span's wall time is the client's own overhead (query-frame
    * construction, probe choice). */
  private def readLoop(a: Artifacts, stop: () => Boolean, keep: (Req, Seq[Row]) => Unit): Unit = {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "client")
    var i = 0L
    while (!stop()) {
      val req = request(seed, 0, i, Vecs)
      val s = System.nanoTime()
      val ans = execute(a, req)
      val ms = (System.nanoTime() - s) / 1e6
      latMs(req.op).add(ms)
      if (opts.trace) overheadMs(req.op).add(ms - eng.spans.lastWallMs)
      ans.foreach(keep(req, _))
      i += 1
    }
  }

  // ---- maintenance -------------------------------------------------------

  private var batch: Batch = _
  private var buildS = 0.0
  private var buildAmp = 0.0
  private val cycleS = new ConcurrentLinkedQueue[Double]()
  private val ampMaint = new ConcurrentLinkedQueue[Double]()

  /** One maintenance cycle, each of its nine calls an attempted op, timed
    * with the bytes it wrote: each call's new or resized files, summed
    * over the cycle. A call that fails ends the cycle uncounted. */
  private def maintain(a: Artifacts): Unit = {
    var snap = a.roots.map(Disk.sizes)
    var written = 0L
    var secs = 0.0
    val ok = eng.maintenanceCycleSteps(a, batch).forall { case (name, step) =>
      val (done, s) = timed(attempt(name)(step()))
      secs += s
      val next = a.roots.map(Disk.sizes)
      written += snap.zip(next).map { case (b, n) => Disk.written(b, n) }.sum
      snap = next
      done.isDefined
    }
    note(f"maintenance cycle $secs%.1fs")
    if (ok) { cycleS.add(secs); ampMaint.add(written.toDouble / batch.rowBytes) }
  }

  // ---- the run -----------------------------------------------------------

  def run(): Map[String, Any] = {
    // setup: generate the inputs, build every artifact, warm the serving
    // path; with maintenance to run, clone the artifacts and stage a batch
    val maintains = churn || opts.trace
    val (built, genBuildS) = timed {
      val dir = opts.work.resolve("input")
      redirectRoot(dir)
      data = Corpus.write(spark, dir.toString, seed, Docs, Vecs)
      note("generated")
      val (a, s) = timed(eng.build(data.dir))
      buildS = s
      buildAmp = a.bytes.toDouble / data.inputBytes
      cents = eng.centroids(a)
      a
    }
    val (clones, cloneS) = timed {
      if (!maintains) built
      else {
        batch = eng.batch(seed, BatchRows, cents)
        eng.cloneArtifacts(built, opts.work.resolve("clones"))
      }
    }
    val target = if (churn) clones else built
    val warmS = timed(warmUp(target))._2
    val setup = sessionS + genBuildS + cloneS + warmS
    note(f"setup done: build $buildS%.1fs")

    // probe answers before the timed phase, re-asked after it: every
    // maintenance cycle restores the state, so they must not change
    val probes = if (churn) (0 until 4).map(i => request(seed, 50, i, Vecs)) else Nil
    val before = probes.map(r => r -> execute(target, r))
    before.foreach { case (r, ans) => ans.foreach(check(r, _)) }

    val tRead = System.nanoTime()
    val deadline = tRead + opts.seconds * 1000000000L
    val timeUp = () => System.nanoTime() >= deadline
    if (churn) {
      // whole maintenance cycles, at least one, until the time is up; the
      // client runs until the last cycle ends
      val maintaining = new AtomicBoolean(true)
      val maintainer = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maintainer")
        try {
          var cycles = 0
          while (cycles == 0 || !timeUp()) { maintain(clones); cycles += 1 }
        } finally maintaining.set(false)
      })
      maintainer.start()
      readLoop(clones, () => !maintaining.get(), (_, _) => ())
      maintainer.join()
    } else readLoop(built, timeUp, check)
    val readWallS = (System.nanoTime() - tRead) / 1e9
    note(s"reads done: ${latMs.map { case (k, v) => k -> v.size }}")
    if (!churn && opts.trace) maintain(clones)
    before.foreach { case (r, ans) =>
      val after = execute(target, r)
      if (after.map(_.map(_.toString)) != ans.map(_.map(_.toString)))
        mismatches.add(s"${r.op} answer changed across the maintenance cycles: " +
          s"before ${ans.map(_.mkString(" "))}, after ${after.map(_.mkString(" "))}")
    }
    // the cold build holds every input row once
    def docsIn(l: graft.sources.InvertedIndex.Layout) =
      spark.read.parquet(l.dataPath).select("doc_id").distinct().count()
    Seq("vector index rows" -> (IndexCatalog.load(spark, built.vecBase, built.vecName).count(), Vecs),
      "word index docs" -> (docsIn(built.word), Docs),
      "embed16 index docs" -> (docsIn(built.embed), Docs)).foreach { case (what, (got, want)) =>
      if (got != want) mismatches.add(s"$what: $got, input has $want")
    }
    dropRoot(data.dir)

    val all = latMs.values.flatMap(_.asScala).toSeq
    val p50 = Ops.map(op => op -> quantile(latMs(op).asScala.toSeq, 0.5)).toMap
    val metrics = Map(
      "setup_s" -> (setup, "s"),
      "read_p50_ms" -> (p50.values.sum / Ops.size, "ms"),
      "read_p90_ms" -> (quantile(all, 0.9), "ms"),
      "read_ops_per_s" -> (all.size / readWallS, "1/s"),
      "ingest_rows_per_s" -> ((Docs + Vecs) / buildS, "rows/s"),
      "ingest_bytes_per_input_byte" -> (buildAmp, "ratio"),
      "maint_cycle_s" -> (Spans.median(cycleS.asScala.toSeq), "s"),
      "maint_bytes_per_upserted_byte" -> (Spans.median(ampMaint.asScala.toSeq), "ratio")) ++
      Ops.map(op => s"${op}_p50_ms" -> (p50(op), "ms"))
    Map(
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "attempted" -> attempted.get(), "failed" -> failed.get(), "torn_reads" -> torn.get(),
      "samples" -> Ops.map(op => op -> latMs(op).size).toMap,
      "maint_cycles" -> cycleS.size,
      "client_overhead_ms" -> Ops.map(op => op -> Spans.median(overheadMs(op).asScala.toSeq)).toMap,
      "errors" -> errors.asScala.toSeq.take(20),
      "mismatches" -> mismatches.asScala.toSeq.take(20),
      "duckdb_checks" -> duckChecks.asScala.toSeq,
      "input_dir" -> data.dir,
      "span_names" -> Spans.All, "spans" -> eng.spans.summary(),
      "unattributed_plan_ms" -> eng.spans.unattributedPlanMs)
  }
}
