package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * A span is one call from the benchmark into a layer's public function,
  * named `<module>.<Object>.<function>[.<artifact>]`. While a span is
  * open its thread carries the Spark local property [[Prop]]; Spark copies
  * local properties into the jobs the thread submits, and threads the
  * engine spawns (`operators.Par`) inherit them. A [[SparkListener]]
  * attributes job intervals and task metrics to the span through that
  * property, and a [[QueryExecutionListener]] attributes planning time
  * (analysis + optimization + planning, from `QueryExecution.tracker`)
  * through the SQL execution id the span's jobs carry.
  *
  * With tracing off, [[apply]] only runs the body. */
final class Spans(spark: SparkSession, enabled: Boolean) {
  import Spans._

  private val seq = new AtomicLong(0)
  private val calls = new ConcurrentHashMap[Long, Call]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val unattributed = new java.util.concurrent.atomic.DoubleAdder()
  private val jobsOpen = new AtomicLong(0)
  private val events = new AtomicLong(0)
  // the listener bus delivers an execution's end to this listener right
  // before the QueryExecutionListener callback for the same execution
  @volatile private var lastEndedExec = -1L
  private val lastWall = new ThreadLocal[Double]

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = seq.incrementAndGet()
      val c = new Call(name)
      calls.put(id, c)
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, id.toString)
      c.startMs = nowMs()
      try body
      finally {
        c.endMs = nowMs()
        lastWall.set(c.wallMs)
        sc.setLocalProperty(Prop, prev)
      }
    }

  /** Wall time of the last span this thread closed (traced runs). */
  def lastWallMs: Double = lastWall.get()

  private def callOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong)

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => lastEndedExec = end.executionId
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet(); jobsOpen.incrementAndGet()
      callOf(e.properties).foreach { id =>
        jobSpan.put(e.jobId, id)
        e.stageIds.foreach(s => stageSpan.putIfAbsent(s, id))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.putIfAbsent(x.toLong, id))
        val c = calls.get(id)
        c.synchronized { c.jobs += 1; c.jobStart(e.jobId) = e.time.toDouble }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet(); jobsOpen.decrementAndGet()
      Option(jobSpan.get(e.jobId)).foreach { id =>
        val c = calls.get(id)
        c.synchronized {
          c.jobStart.remove(e.jobId).foreach(s => c.jobIntervals += ((s, e.time.toDouble)))
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      for (id <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val c = calls.get(id)
        c.synchronized {
          c.taskMs += m.executorRunTime
          c.bytesRead += m.inputMetrics.bytesRead
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      events.incrementAndGet()
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      // the execution's jobs started before it ended, so the job → span
      // link is known; an execution that ran no job is unattributed
      Option(execSpan.get(lastEndedExec)) match {
        case Some(id) => val c = calls.get(id); c.synchronized { c.planMs += planMs }
        case None => unattributed.add(planMs)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the asynchronous listener bus has delivered every event
    * of the finished calls: no job open and no new event for a while. */
  def drain(): Unit = if (enabled) {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 30e9.toLong
    while (quiet < 5 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = events.get()
      if (n == last && jobsOpen.get() == 0) quiet += 1 else quiet = 0
      last = n
    }
  }

  /** Per span name, the per-call median of each field over its calls. */
  def summary(): Map[String, Map[String, Double]] = {
    drain()
    calls.values().asScala.toSeq.filter(_.endMs > 0).groupBy(_.name).map {
      case (name, cs) =>
        name -> Map(
          "wall_ms" -> median(cs.map(_.wallMs)),
          "driver_ms" -> median(cs.map(_.driverMs)),
          "plan_ms" -> median(cs.map(_.planMs)),
          "jobs" -> median(cs.map(_.jobs.toDouble)),
          "task_ms" -> median(cs.map(_.taskMs.toDouble)),
          "bytes_read" -> median(cs.map(_.bytesRead.toDouble)),
          "bytes_written" -> median(cs.map(_.bytesWritten.toDouble)),
          "calls" -> cs.size.toDouble)
    }
  }

  /** Planning time of executions that ran no job (not attributable). */
  def unattributedPlanMs: Double = unattributed.sum()
}

object Spans {
  val Prop = "perfbench.span"

  /** Reads, builds and maintenance calls the workloads make. */
  val Reads: Seq[String] = Seq(
    "sources.IndexCatalog.fetchByIdsServing", "sources.IndexCatalog.search",
    "sources.EmbedIndex.embedOver", "sources.InvertedIndex.bm25Over")
  val Builds: Seq[String] = Seq(
    "operators.VectorOps.ensureIvfBucketed", "sources.IndexCatalog.ensureKeymap",
    "sources.InvertedIndex.ensure", "sources.EmbedIndex.ensure")
  val Maintenance: Seq[String] = Seq(
    "sources.IndexCatalog.upsertInto", "sources.IndexCatalog.tombstone",
    "sources.IndexCatalog.vacuumTombstones") ++
    (for (a <- Seq("word", "embed16"); f <- Seq("upsertDocs", "deleteDocs", "vacuum"))
      yield s"sources.InvertedIndex.$f.$a")
  val All: Seq[String] = Reads ++ Builds ++ Maintenance

  // epoch milliseconds at nanosecond resolution, on the clock Spark
  // stamps job events with
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  final class Call(val name: String) {
    @volatile var startMs = 0.0
    @volatile var endMs = 0.0
    var jobs = 0
    var taskMs = 0L
    var bytesRead = 0L
    var bytesWritten = 0L
    var planMs = 0.0
    val jobStart = mutable.Map.empty[Int, Double]
    val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]

    def wallMs: Double = endMs - startMs

    /** Wall time minus the part of it during which ≥1 of its jobs ran. */
    def driverMs: Double = synchronized {
      val clipped = jobIntervals.map { case (s, e) =>
        (math.max(s, startMs), math.min(e, endMs)) }.filter(i => i._2 > i._1).sortBy(_._1)
      var covered = 0.0; var curS = 0.0; var curE = -1.0
      clipped.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      math.max(0.0, wallMs - covered)
    }
  }
}
