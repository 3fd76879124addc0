package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `layer` names the module or Spark layer the
  * interval belongs to; times are epoch microseconds. */
final class Span(val id: Int, val parent: Int, val name: String,
    val layer: String, val startUs: Long) {
  var endUs: Long = -1L
  def durMs: Double = (endUs - startUs) / 1000.0
}

final case class JobRec(id: Int, group: String, batchId: Long, startMs: Long,
    stageIds: Seq[Int]) { var endMs: Long = -1L }

final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long,
    inBytes: Long, inRecords: Long)

final case class QeRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, filesRead: Long, probed: Map[String, Double])

/** Spans kept in memory, plus the Spark events that belong to them.
  *
  * Every span opened on the benchmark thread sets a job group named after
  * the span, so a Spark job links to the innermost span that caused it.
  * Streaming jobs run on the query's own thread; they carry their batch id
  * and link through [[linkBatch]]. Query executions link to the operation
  * whose interval holds their analysis start. Nothing is recorded while
  * [[enabled]] is false: the untimed and untraced paths pay one branch. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  @volatile var enabled = false

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private def group(s: Span) = s"perfbench-${s.id}"

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, layer)
      try body finally close(s)
    }

  private def open(name: String, layer: String): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, layer, nowUs())
    spans += s
    stack = s :: stack
    sc.setJobGroup(group(s), name, interruptOnCancel = false)
    s
  }

  private def close(s: Span): Unit = {
    s.endUs = nowUs()
    stack = stack.tail
    stack.headOption match {
      case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** The innermost open span, if tracing. */
  def current: Option[Span] = if (enabled) stack.headOption else None

  /** Record an interval observed after the fact (a streaming phase). */
  def addSpan(parent: Int, name: String, layer: String, startUs: Long, endUs: Long): Span = {
    val s = new Span(spans.size, parent, name, layer, startUs)
    s.endUs = endUs
    spans += s
    s
  }

  private val batchSpan = mutable.Map[Long, Int]()
  /** Streaming jobs of micro-batch `batchId` belong under span `spanId`. */
  def linkBatch(batchId: Long, spanId: Int): Unit = batchSpan(batchId) = spanId

  private val probes = ArrayBuffer[(String, SparkPlan => Option[Double])]()
  /** Read a figure named `name` from the executed plan of every query
    * execution; `f` returns None for a plan it does not apply to. */
  def probe(name: String)(f: SparkPlan => Option[Double]): Unit = probes += (name -> f)

  val jobs = ArrayBuffer[JobRec]()
  val tasks = ArrayBuffer[TaskRec]()
  val qes = ArrayBuffer[QeRec]()

  private object listener extends SparkListener {
    private val byId = mutable.Map[Int, JobRec]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val j = JobRec(e.jobId, p.map(_.getProperty("spark.jobGroup.id")).orNull,
        p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(_.toLong).getOrElse(-1L),
        e.time, e.stageIds)
      byId(e.jobId) = j
      jobs += j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byId.remove(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
    }
  }

  private object qeListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(-1L)
      val files = collect(qe.executedPlan) {
        case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
      }.sum
      val probed = probes.flatMap { case (n, f) => f(qe.executedPlan).map(n -> _) }.toMap
      synchronized(qes += QeRec(start, ms("analysis"), ms("optimization"), ms("planning"), files, probed))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val sessions = ArrayBuffer(spark)
  /** Also report query executions of `s` (a streaming query runs its
    * batches in a session of its own). */
  def watch(s: SparkSession): Unit = sessions += s

  /** Register the listeners; [[enabled]] then decides per operation
    * whether it is traced. */
  def start(): Unit = {
    sc.addSparkListener(listener)
    sessions.foreach(_.listenerManager.register(qeListener))
  }

  /** Stop recording and wait until every queued Spark event is delivered. */
  def stop(): Unit = {
    enabled = false
    sc.clearJobGroup()
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    sessions.foreach(_.listenerManager.unregister(qeListener))
  }

  def report(opCodegen: Map[Int, (Long, Long)], opRowsOut: Map[Int, Long]): TraceReport =
    listener.synchronized(qeListener.synchronized(
      new TraceReport(spans.toVector, jobs.toVector, tasks.toVector, qes.toVector,
        batchSpan.toMap, opCodegen, opRowsOut)))
}

/** Per-layer figures derived from one traced phase. Per-operation figures
  * are means over the traced operations; per-call times are medians. */
final class TraceReport(val spans: Vector[Span], val jobs: Vector[JobRec],
    tasks: Vector[TaskRec], qes: Vector[QeRec], batchSpan: Map[Long, Int],
    opCodegen: Map[Int, (Long, Long)], opRowsOut: Map[Int, Long]) {

  private val byId = spans.map(s => s.id -> s).toMap
  val ops: Vector[Span] = spans.filter(_.layer == "op")
  private val nOps = math.max(1, ops.size)

  @annotation.tailrec
  private def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))

  private def jobParent(j: JobRec): Option[Span] =
    if (j.group != null && j.group.startsWith("perfbench-"))
      byId.get(j.group.stripPrefix("perfbench-").toInt)
    else if (j.batchId >= 0) batchSpan.get(j.batchId).flatMap(byId.get)
    else None

  /** Jobs linked to a traced span, with the span they hang from. */
  val linkedJobs: Vector[(JobRec, Span)] =
    jobs.flatMap(j => jobParent(j).map(j -> _)).filter(_._1.endMs >= 0)

  private val stageJob: Map[Int, JobRec] =
    linkedJobs.flatMap { case (j, _) => j.stageIds.map(_ -> j) }.toMap
  private val linkedTasks = tasks.filter(t => stageJob.contains(t.stageId))

  /** Job spans, so self time can be computed uniformly. */
  private val jobSpans: Vector[Span] = linkedJobs.zipWithIndex.map { case ((j, p), i) =>
    val s = new Span(spans.size + i, p.id, s"job ${j.id}", "spark.jobs", j.startMs * 1000L)
    s.endUs = j.endMs * 1000L
    s
  }
  private val all = spans ++ jobSpans
  private val children = all.filter(_.parent >= 0).groupBy(_.parent)

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /** Span duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val kids = children.getOrElse(s.id, Vector.empty)
      .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }
    math.max(0.0, s.durMs - unionMs(kids))
  }

  /** Self time summed per layer, per operation. */
  lazy val selfPerLayer: Map[String, Double] =
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfMs).sum / nOps }

  private def perOp(x: Double): Double = x / nOps

  private def opOfTime(ms: Long): Option[Span] =
    ops.find(o => ms * 1000L >= o.startUs && ms * 1000L <= o.endUs)
  private val opQes = qes.filter(q => opOfTime(q.startMs).isDefined)

  /** Durations of every span named `name` (call plus the action that
    * consumes its result), summed per operation. */
  def callMs(name: String): Seq[Double] =
    all.filter(s => s.name == name && (s.layer != "op"))
      .groupBy(s => root(s).id).values.map(_.map(_.durMs).sum).toSeq

  /** Per operation, the largest value of `probe` read from a query
    * execution that started inside a span named `call`; the median over
    * operations. */
  def probedInCall(probe: String, call: String): Double = {
    val calls = spans.filter(_.name == call)
    val perOp = qes.flatMap { q =>
      // the query's start is truncated to the millisecond
      val us = q.startMs * 1000L
      q.probed.get(probe).flatMap(v =>
        calls.find(s => us + 1000L >= s.startUs && us <= s.endUs).map(s => root(s).id -> v))
    }.groupBy(_._1).values.map(_.map(_._2).max).toSeq
    if (perOp.isEmpty) 0.0 else Stats.median(perOp)
  }

  def medianCallMs(name: String): Double = {
    val xs = callMs(name)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Jobs under spans named `name`, per operation that made the call. */
  def callJobs(name: String): Double = {
    val calls = all.filter(s => s.name == name && s.layer != "op")
    if (calls.isEmpty) 0.0
    else linkedJobs.count { case (_, p) => p.name == name }.toDouble /
      calls.map(s => root(s).id).distinct.size
  }

  def generic(): Map[String, Double] = {
    val stagesOf = linkedJobs.map(_._1.stageIds.size).sum
    val gaps = ops.map { o =>
      val mine = linkedJobs.filter { case (_, p) => root(p).id == o.id }
        .map { case (j, _) => (j.startMs * 1000L, j.endMs * 1000L) }
      math.max(0.0, o.durMs - unionMs(mine))
    }
    val skews = linkedTasks.groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
      val run = ts.map(_.runMs.toDouble)
      run.max / math.max(1.0, Stats.median(run))
    }.toSeq
    val rowsOut = opRowsOut.values.sum
    Map(
      "driver.analysis_ms" -> perOp(opQes.map(_.analysisMs).sum),
      "driver.optimization_ms" -> perOp(opQes.map(_.optimizationMs).sum),
      "driver.planning_ms" -> perOp(opQes.map(_.planningMs).sum),
      "driver.codegen_compile_ms" -> perOp(opCodegen.values.map(_._1).sum / 1e6),
      "driver.codegen_classes" -> perOp(opCodegen.values.map(_._2).sum.toDouble),
      "sched.jobs_per_op" -> perOp(linkedJobs.size),
      "sched.stages_per_op" -> perOp(stagesOf),
      "sched.tasks_per_op" -> perOp(linkedTasks.size),
      "sched.driver_gap_ms" -> (if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size),
      "task.run_ms" -> perOp(linkedTasks.map(_.runMs).sum),
      "task.cpu_ms" -> perOp(linkedTasks.map(_.cpuNs).sum / 1e6),
      "task.gc_ms" -> perOp(linkedTasks.map(_.gcMs).sum),
      "task.skew_max_over_median" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "shuffle.write_bytes" -> perOp(linkedTasks.map(_.shuffleWrite).sum),
      "shuffle.read_bytes" -> perOp(linkedTasks.map(_.shuffleRead).sum),
      "shuffle.fetch_wait_ms" -> perOp(linkedTasks.map(_.fetchWaitMs).sum),
      "spill.bytes" -> perOp(linkedTasks.map(_.spill).sum),
      "scan.files_read" -> perOp(opQes.map(_.filesRead).sum),
      "scan.bytes_read" -> perOp(linkedTasks.map(_.inBytes).sum),
      "scan.rows_read_per_row_out" ->
        (if (rowsOut == 0) 0.0 else linkedTasks.map(_.inRecords).sum.toDouble / rowsOut)
    )
  }
}
