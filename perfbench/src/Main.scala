package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{CacheScope, GraftSession}

/** One timed operation: its kind, wall time, records and failure (if any). */
final case class Sample(kind: String, ms: Double, records: Long, error: Option[String],
    label: String = "", traced: Boolean = false)

/** Checking and summarising operations, apart from the loop that times
  * them. */
object Runner {
  /** A wrong result of the kind a broken program would return. */
  def corrupt(out: Seq[String]): Seq[String] = out.drop(1) :+ "planted|wrong|row"

  /** Fetch and check an operation's output: the failure, if any, and the
    * number of output rows. A check that throws is a failure too. */
  def verify(op: Op, plantWrong: Boolean): (Option[String], Int) =
    try {
      val got = op.output()
      (op.check(if (plantWrong) corrupt(got) else got), got.size)
    } catch { case e: Throwable => (Some(s"${op.kind} output check threw $e"), 0) }

  /** Latencies of the successful operations of one kind: a failed
    * operation is never timed as if it were fast. */
  def okLatencies(samples: Seq[Sample], kind: String): Seq[Double] =
    samples.filter(s => s.kind == kind && s.error.isEmpty).map(_.ms)
}

/** Runs one workload: set-up several times, then a closed loop with one
  * client for the given seconds, then prints a report whose last line is
  * the result object. With tracing on, every other operation is traced. */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 2
  /** Cycles a run times at least, however long they take: the first timed
    * cycle is the slowest, and a median over three never rests on it. */
  val MinCycles = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, workdir: File, plantWrongAt: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      new File(need("workdir")),
      m.getOrElse("plant-wrong-result", "-1").toInt)
  }

  /** The metrics printed with tracing on, in a fixed order; a layer a
    * workload does not touch reports 0. */
  val layerMetricNames: Seq[String] = Seq(
    "GraftSession.session_start_ms",
    "driver.analysis_ms", "driver.optimization_ms", "driver.planning_ms",
    "driver.codegen_compile_ms", "driver.codegen_classes",
    "sched.jobs_per_op", "sched.stages_per_op", "sched.tasks_per_op", "sched.driver_gap_ms",
    "task.run_ms", "task.cpu_ms", "task.gc_ms", "task.skew_max_over_median",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.bytes",
    "StreamPipeline.addBatch_ms", "StreamPipeline.queryPlanning_ms", "StreamPipeline.walCommit_ms",
    "StreamPipeline.commitOffsets_ms", "StreamPipeline.sink_jobs_per_batch", "StreamPipeline.files_per_batch",
    "MonotonicDedup.state_rows", "MonotonicDedup.state_bytes", "MonotonicDedup.state_commit_ms",
    "MonotonicDedup.state_update_ms", "MonotonicDedup.pass_ratio",
    "Clean.prepareHourly_build_ms", "Clean.reject_ratio",
    "Warehouse.mergeByKey_ms", "Warehouse.publish_ms", "Warehouse.files", "Warehouse.bytes_per_row",
    "Analytics.daySlice_ms", "Analytics.hourlyAgg_ms", "Quality.zscoreOutliers_ms",
    "Quality.duplicateAudit_ms", "Quality.missingness_ms",
    "scan.files_read", "scan.bytes_read", "scan.rows_read_per_row_out",
    "Dedup.minhashNearDups_ms", "Dedup.lsh_candidates", "Dedup.confirmed_pairs", "Dedup.confirm_ratio",
    "Graphs.connectedComponents_ms", "Graphs.cc_jobs", "Graphs.cc_sym_edges",
    "Curation.curate_ms", "Curation.curate_jobs",
    "cache.storage_bytes", "jvm.gc_ms", "jvm.heap_after_gc_mb",
    "self.harness_ms", "self.StreamPipeline_ms", "self.Warehouse_ms", "self.Analytics_ms",
    "self.Quality_ms", "self.Dedup_ms", "self.Graphs_ms", "self.Curation_ms",
    "self.spark_driver_ms", "self.spark_jobs_ms",
    "trace.overhead_pct")

  private val timedCalls = Seq("Warehouse.mergeByKey", "Warehouse.publish", "Analytics.daySlice",
    "Analytics.hourlyAgg", "Quality.zscoreOutliers", "Quality.duplicateAudit", "Quality.missingness",
    "Dedup.minhashNearDups", "Graphs.connectedComponents", "Curation.curate")

  def session(a: Args, dir: File): SparkSession = {
    val spark = GraftSession.builder(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use once the cached blocks the last operation released are
    * gone and a full GC frees no more than 1 MB (Spark's cleaner frees
    * state between collections). */
  private def heapAfterGcMb(spark: SparkSession): Double = {
    val blocks = org.apache.spark.PerfbenchBus.rddBlocks(spark.sparkContext)
    val deadline = System.nanoTime() + 10 * 1000000000L
    while (org.apache.spark.PerfbenchBus.rddBlocks(spark.sparkContext) > 0 && System.nanoTime() < deadline)
      Thread.sleep(50)
    def used() = {
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val first = used()
    var (prev, cur, n) = (first, used(), 0)
    while (prev - cur > 1.0 && n < 8) {
      prev = cur
      cur = used()
      n += 1
    }
    System.err.println(f"[perfbench] heap after GC $cur%.1f MB (first $first%.1f MB, " +
      f"${n + 2} collections, $blocks cached blocks at the start)")
    cur
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0)

    // ---- set-up, repeated; the median is setup_s ------------------------
    val setupS = ArrayBuffer[Double]()
    val sessionMs = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var w: Workload = null
    var tracer: Tracer = null
    (1 to Setups).foreach { i =>
      if (w != null) { w.close(); spark.stop() }
      val dir = new File(a.workdir, s"setup-$i")
      val t0 = System.nanoTime()
      // the first set-up also pays for starting the JVM
      val jvmMs = if (i == 1) ManagementFactory.getRuntimeMXBean.getUptime.toDouble else 0.0
      spark = session(a, dir)
      sessionMs += (System.nanoTime() - t0) / 1e6
      tracer = new Tracer(spark)
      w = Workload(a.workload, a.seed)
      w.setup(spark, dir, tracer)
      CacheScope.releaseAll()
      setupS += ((System.nanoTime() - t0) / 1e6 + jvmMs) / 1000.0
    }

    // ---- closed loop -----------------------------------------------------
    var opNo = 0
    val codegen = scala.collection.mutable.Map[Int, (Long, Long)]()
    val rowsOut = scala.collection.mutable.Map[Int, Long]()
    var storageMax = 0L

    def loop(seconds: Double, traced: Boolean, minOps: Int, plant: Int): Seq[Sample] = {
      val out = ArrayBuffer[Sample]()
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
      // whole cycles only, and at least minOps; a planted wrong result is
      // always reached
      val atLeast = math.max(minOps, plant + 1)
      while (System.nanoTime() < end || out.size < atLeast || out.size % w.cycle != 0) {
        val op = w.next()
        // trace every other operation of each label, the first included
        tracer.enabled = traced && seen(op.label) % 2 == 0
        seen(op.label) += 1
        val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
        var opSpan = -1
        val t0 = System.nanoTime()
        val err = try {
          tracer.span(s"op $opNo ${op.kind}", "op") {
            opSpan = tracer.current.map(_.id).getOrElse(-1)
            op.run()
          }
          None
        } catch { case e: Throwable => Some(s"${op.kind} threw $e") }
        val ms = (System.nanoTime() - t0) / 1e6
        val isTraced = tracer.enabled
        tracer.enabled = false
        if (isTraced) {
          codegen(opSpan) = (CodeGenerator.compileTime - cg0._1,
            CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._2)
          storageMax = math.max(storageMax,
            spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
        }
        CacheScope.releaseAll()
        val failure = err.orElse {
          val (bad, rows) = Runner.verify(op, plantWrong = out.size == plant)
          if (isTraced) rowsOut(opSpan) = rows.toLong
          bad
        }
        failure.foreach(f => System.err.println(s"[perfbench] op $opNo failed: $f"))
        out += Sample(op.kind, ms, op.records, failure, op.label, isTraced)
        opNo += 1
      }
      out.toSeq
    }

    var layers = Map.empty[String, Double]
    if (w.settleCycles > 0)
      loop(0, traced = false, w.settleCycles * w.cycle, plant = -1).flatMap(_.error).headOption
        .foreach(e => throw new IllegalStateException(s"settling cycle: $e"))
    val timed = if (!a.trace) loop(a.seconds, traced = false, MinCycles * w.cycle, a.plantWrongAt) else {
      // every other operation is traced, so the traced and untraced
      // samples share JIT and cache state and their difference is the
      // tracing overhead
      val gc0 = gcMs()
      tracer.start()
      val s = loop(a.seconds, traced = true, MinCycles * w.cycle, a.plantWrongAt)
      tracer.stop()
      val tr = tracer.report(codegen.toMap, rowsOut.toMap)
      // per label, traced over untraced median latency; the median over labels
      val ratios = s.filter(_.error.isEmpty).groupBy(_.label).values.flatMap { xs =>
        val (on, off) = xs.partition(_.traced)
        if (on.isEmpty || off.isEmpty) None
        else Some(Stats.median(on.map(_.ms)) / Stats.median(off.map(_.ms)) - 1)
      }.toSeq
      val overhead = if (ratios.isEmpty) 0.0 else 100.0 * Stats.median(ratios)
      val self = tr.selfPerLayer
      layers = tr.generic() ++
        timedCalls.map(c => s"${c}_ms" -> tr.medianCallMs(c)) ++
        Map("Curation.curate_jobs" -> tr.callJobs("Curation.curate"),
          "Graphs.cc_jobs" -> tr.callJobs("Graphs.connectedComponents"),
          "GraftSession.session_start_ms" -> Stats.median(sessionMs.toSeq),
          "cache.storage_bytes" -> storageMax.toDouble,
          "jvm.gc_ms" -> (gcMs() - gc0).toDouble / math.max(1, s.size),
          "jvm.heap_after_gc_mb" -> heapAfterGcMb(spark),
          "trace.overhead_pct" -> overhead) ++
        Seq("op" -> "harness", "StreamPipeline" -> "StreamPipeline", "Warehouse" -> "Warehouse",
          "Analytics" -> "Analytics", "Quality" -> "Quality", "Dedup" -> "Dedup", "Graphs" -> "Graphs",
          "Curation" -> "Curation", "spark.driver" -> "spark_driver", "spark.jobs" -> "spark_jobs")
          .map { case (l, n) => s"self.${n}_ms" -> self.getOrElse(l, 0.0) } ++
        w.layerMetrics(tr)
      System.err.println(s"[perfbench] traced ${tr.ops.size} of ${s.size} operations, " +
        s"${tr.linkedJobs.size} jobs, ${tr.spans.size} spans")
      s
    }
    val heapMb = heapAfterGcMb(spark)

    Report(w, a, setupS.toSeq, timed, heapMb, layers).print()
    w.close()
    spark.stop()
  }
}

/** Formats the human-readable lines, the record line and the result line. */
final case class Report(w: Workload, a: Main.Args, setupS: Seq[Double], timed: Seq[Sample],
    heapMb: Double, layers: Map[String, Double]) {

  private def ok(kind: String) = Runner.okLatencies(timed, kind)
  private val totalS = timed.map(_.ms).sum / 1000.0
  private val done = timed.filter(_.error.isEmpty)
  private def rate(n: Double) = if (totalS > 0) n / totalS else 0.0

  /** Typical latency of the primary kind: the geometric mean over its
    * labels of each label's median, so a run's mix of read kinds does not
    * decide which kind's latency is reported. */
  def typicalLatency: Double = {
    val meds = done.filter(_.kind == w.primaryKind).groupBy(_.label).values.map(x => Stats.median(x.map(_.ms)))
    if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
  }

  /** Records per second of the operations that carry records (writes,
    * passes): their records over their summed wall time, so reads do not
    * dilute the ingest rate. */
  def recordRate: Double = {
    val carrying = timed.filter(_.records > 0)
    val s = carrying.map(_.ms).sum / 1000.0
    if (s > 0) carrying.filter(_.error.isEmpty).map(_.records).sum / s else 0.0
  }

  /** The end-to-end metrics, the same names on every workload. */
  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", Stats.median(setupS), "s"),
    ("latency_ms", typicalLatency, "ms"),
    ("throughput_per_s", recordRate, "1/s"),
    ("retained_heap_mb", heapMb, "MB"))

  /** The metrics under their workload-specific names, with sample counts. */
  def named: Seq[(String, Any)] = {
    val errRate = if (timed.isEmpty) 0.0 else timed.count(_.error.nonEmpty).toDouble / timed.size
    val common = Seq(
      "setup_s" -> Map("value" -> Stats.median(setupS), "unit" -> "s", "n" -> setupS.size),
      "error_rate" -> Map("value" -> errRate, "unit" -> "ratio", "n" -> timed.size),
      "retained_heap_mb" -> Map("value" -> heapMb, "unit" -> "MB", "n" -> 1))
    def lat(name: String, kind: String) = {
      val s = Stats.summary(ok(kind))
      Seq(s"${name}_p50_ms" -> Map("value" -> s.p50, "unit" -> "ms", "n" -> s.n,
        "supported_percentile" -> s.tailP.map(p => s"p$p").getOrElse("none"))) ++
        s.tailP.filter(_ > 50).map(p => s"${name}_p${p}_ms" -> Map("value" -> s.tail.get, "unit" -> "ms", "n" -> s.n))
    }
    val specific = w.name match {
      case "warehouse_query" =>
        Seq("records_per_s" -> Map("value" -> recordRate,
          "unit" -> "wire records/s", "n" -> done.count(_.kind == "write")),
          "queries_per_s" -> Map("value" -> rate(done.count(_.kind == "read").toDouble), "unit" -> "1/s",
          "n" -> done.count(_.kind == "read"))) ++ lat("query_latency", "read") ++
          lat("write_latency", "write").take(1)
      case _ =>
        Seq("records_per_s" -> Map("value" -> recordRate, "unit" -> "documents/s",
          "n" -> done.size)) ++ lat("pass_latency", "pass").take(1)
    }
    common ++ specific
  }

  def print(): Unit = {
    val failed = timed.count(_.error.nonEmpty)
    println(s"== ${w.name} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} cores=${a.cores}")
    println(s"   why: ${w.why}")
    w.traffic.foreach { case (k, v) => println(s"   traffic $k = $v") }
    named.foreach { case (k, m: Map[_, _]) =>
      println(f"   $k%-24s ${m.asInstanceOf[Map[String, Any]].map { case (a, b) => s"$a=$b" }.mkString(" ")}")
    case _ => }
    layers.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"   layer $k%-36s $v%.4f") }
    val storage = org.apache.spark.SparkEnv.get.memoryManager.maxOnHeapStorageMemory
    val record = Map("workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores, "traffic" -> w.traffic.toMap,
      "spark_storage_memory_bytes" -> storage, "why" -> w.why, "setup_samples_s" -> setupS,
      "op_ms" -> timed.map(t => s"${t.label}:${math.round(t.ms)}"),
      "metrics" -> named.toMap, "layers" -> layers)
    println(Json(Map("record" -> record)))
    val metrics: Map[String, Any] =
      if (a.trace) Main.layerMetricNames.map(k => k -> Map("value" -> layers.getOrElse(k, 0.0),
        "unit" -> Report.unitOf(k))).toMap
      else endToEnd.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap
    println(Json(Map("correct" -> (failed == 0), "attempted" -> timed.size, "failed" -> failed,
      "metrics" -> metrics)))
  }
}

object Report {
  def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_bytes") || k == "spill.bytes" || k == "scan.bytes_read") "bytes"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_pct")) "%"
    else if (k.endsWith("_ratio") || k.endsWith("over_median") || k.endsWith("per_row_out")) "ratio"
    else if (k.endsWith("bytes_per_row")) "bytes/row"
    else "count"
}

/** Minimal JSON writer for the report lines. */
object Json {
  def apply(x: Any): String = x match {
    case null | None => "null"
    case Some(v) => apply(v)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, v) => apply(k.toString) + ": " + apply(v) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
