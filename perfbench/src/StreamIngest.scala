package perfbench

import java.io.File
import java.time.Instant

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.StreamPipeline

/** An observation as the program should parse it off the wire. `station`
  * is null for a null key; measures are None when null or unparseable. */
final case class Obs(station: String, tsSec: Long, temp: Option[Double],
    hum: Option[Double], wind: Option[Double]) {
  def hourSec: Long = Math.floorDiv(tsSec, 3600L) * 3600L
}

/** The reference semantics of the consumer path, in plain Scala: a
  * per-station strictly-increasing event-time filter whose high-water mark
  * carries across batches, then per-batch hourly keep-last. */
final class EltModel {
  val hwm = mutable.Map[String, Long]()

  /** Rows of one batch that pass the monotonic filter, updating state. */
  def monotonic(batch: Seq[Obs]): Seq[Obs] =
    batch.filter(_.station != null).groupBy(_.station).toSeq.flatMap { case (k, rs) =>
      var h = hwm.getOrElse(k, Long.MinValue)
      val out = rs.sortBy(_.tsSec).filter { r => if (r.tsSec * 1000L > h) { h = r.tsSec * 1000L; true } else false }
      if (out.nonEmpty) hwm(k) = h
      out
    }

  /** Hourly keep-last: the latest record per (station, hour), stamped with
    * the hour. */
  def hourly(passed: Seq[Obs]): Seq[Obs] =
    passed.groupBy(r => (r.station, r.hourSec)).values.map { rs =>
      val last = rs.maxBy(_.tsSec)
      last.copy(tsSec = last.hourSec)
    }.toSeq

  def applyBatch(batch: Seq[Obs]): Seq[Obs] = hourly(monotonic(batch))
}

/** Seeded Kafka-wire traffic for `stations` stations. Each batch covers the
  * next `windowSec` of event time and plants exact replays, records at a
  * station's current high-water mark, late records, null keys and
  * unparseable measures; intra-hour near-duplicates arise from the
  * density of records per station-hour. */
final class EltGen(seed: Long, val stations: Int, val batchSize: Int) {
  val windowSec = 4 * 3600L
  val replayShare = 0.05
  val equalTsShare = 0.03
  val lateShare = 0.05
  val nullKeyShare = 0.01
  val badFieldShare = 0.02
  val nullMeasureShare = 0.03
  val base: Long = Instant.parse("2024-06-01T00:00:00Z").getEpochSecond

  private val rnd = new Random(seed)
  private val meta = (0 until stations).map { i =>
    val id = f"${100000 + i}%06d"
    (id, s"Station $i", (600000 + rnd.nextInt(100000)) / 10000.0,
      (200000 + rnd.nextInt(100000)) / 10000.0, rnd.nextInt(4000) / 10.0)
  }
  private val metaById = meta.map(m => m._1 -> m).toMap
  def stationMeta(id: String): (String, String, Double, Double, Double) = metaById(id)
  private var prevBatch: IndexedSeq[(String, Option[Obs])] = IndexedSeq.empty
  private var batchNo = 0

  private def measure(lo: Int, span: Int): Double = (lo * 10 + rnd.nextInt(span * 10)) / 10.0

  private def json(station: String, ts: Long, t: String, h: String, w: String): String = {
    val st = if (station == null) "null" else "\"" + station + "\""
    val m = if (station == null) ("null", "null", "null", "null")
      else {
        val (_, name, lat, lon, el) = metaById(station)
        ("\"" + name + "\"", lat.toString, lon.toString, el.toString)
      }
    s"""{"station_id":$st,"station_name":${m._1},"latitude":${m._2},"longitude":${m._3},""" +
      s""""elevation":${m._4},"timestamp":"${Instant.ofEpochSecond(ts)}",""" +
      s""""temperature":$t,"humidity":$h,"wind_speed":$w}"""
  }

  private def record(station: String, ts: Long): (String, Option[Obs]) = {
    val vals = Array[Option[Double]](Some(measure(-20, 50)), Some(measure(10, 90)), Some(measure(0, 25)))
    if (rnd.nextDouble() < nullMeasureShare) vals(rnd.nextInt(3)) = None
    val badAt = if (rnd.nextDouble() < badFieldShare) rnd.nextInt(3) else -1
    val txt = vals.zipWithIndex.map { case (v, i) =>
      if (i == badAt) "\"n/a\"" else v.map(_.toString).getOrElse("null")
    }
    if (badAt >= 0) vals(badAt) = None
    (json(station, ts, txt(0), txt(1), txt(2)), Some(Obs(station, ts, vals(0), vals(1), vals(2))))
  }

  /** The next batch: wire JSON with the parse each record should get. */
  def nextBatch(model: EltModel): IndexedSeq[(String, Option[Obs])] = {
    val t0 = base + batchNo * windowSec
    val used = mutable.Set[(String, Long)]()
    def fresh(lo: Long, span: Long): (String, Long) = {
      var k = (meta(rnd.nextInt(stations))._1, lo + (rnd.nextLong() & Long.MaxValue) % span)
      while (used.contains(k)) k = (meta(rnd.nextInt(stations))._1, lo + (rnd.nextLong() & Long.MaxValue) % span)
      used += k
      k
    }
    val nReplay = (batchSize * replayShare).round.toInt
    val nEqual = (batchSize * equalTsShare).round.toInt
    val nLate = (batchSize * lateShare).round.toInt
    val nNull = (batchSize * nullKeyShare).round.toInt
    val nNormal = batchSize - nReplay - nEqual - nLate - nNull
    val out = mutable.ArrayBuffer[(String, Option[Obs])]()
    (0 until nNormal).foreach { _ => val (s, t) = fresh(t0, windowSec); out += record(s, t) }
    (0 until nLate).foreach { _ => val (s, t) = fresh(t0 - 3 * windowSec, 3 * windowSec); out += record(s, t) }
    (0 until nEqual).foreach { _ =>
      val st = meta(rnd.nextInt(stations))._1
      model.hwm.get(st) match {
        // a record AT the station's high-water mark, with fresh values
        case Some(h) => out += record(st, h / 1000L)
        case None => val (s, t) = fresh(t0 - 3 * windowSec, 3 * windowSec); out += record(s, t)
      }
    }
    (0 until nNull).foreach { _ =>
      val t = t0 + (rnd.nextLong() & Long.MaxValue) % windowSec
      out += ((json(null, t, "1.0", "50.0", "2.0"), Some(Obs(null, t, Some(1.0), Some(50.0), Some(2.0)))))
    }
    val pool = prevBatch ++ out
    (0 until nReplay).foreach { _ => out += pool(rnd.nextInt(pool.size)) }
    val batch = rnd.shuffle(out).toIndexedSeq
    prevBatch = batch
    batchNo += 1
    batch
  }
}

/** The reference's consumer path, as the ingest half of a workload:
  * fixed-size micro-batches of wire JSON go through a MemoryStream into
  * StreamPipeline.writeHourly (fresh checkpoint and sink per set-up), and
  * each batch's sink partition is checked against [[EltModel]]. */
final class StreamIngest(seed: Long, val stations: Int, val batchSize: Int) {
  val gen = new EltGen(seed, stations, batchSize)
  val model = new EltModel
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var mem: MemoryStream[String] = _
  private var query: StreamingQuery = _
  var sinkDir: String = _
  private var batchNo = 0L
  private var expectedRows = 0L
  private var modelDrops = Map("monotonic" -> 0L, "hourly" -> 0L, "null_key" -> 0L)

  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  private val dedupOut = mutable.Map[Long, Long]()
  private val written = mutable.Map[Long, Long]()
  private val filesPerBatch = mutable.Map[Long, Int]()
  private val buildMs = mutable.ArrayBuffer[Double]()

  def traffic: Seq[(String, Any)] = Seq("stream_stations" -> stations, "stream_batch_size" -> batchSize,
    "stream_window_hours" -> gen.windowSec / 3600, "replay_share" -> gen.replayShare,
    "equal_ts_share" -> gen.equalTsShare, "late_share" -> gen.lateShare,
    "null_key_share" -> gen.nullKeyShare, "unparseable_field_share" -> gen.badFieldShare,
    "null_measure_share" -> gen.nullMeasureShare, "model_drops" -> modelDrops,
    "model_stream_rows" -> expectedRows)

  def start(spark: SparkSession, dir: File, tracer: Tracer): Unit = {
    this.spark = spark
    this.tracer = tracer
    sinkDir = new File(dir, "stream-sink").getPath
    mem = new MemoryStream[String](1, spark, None)(Encoders.STRING)
    query = StreamPipeline.writeHourly(mem.toDF(), sinkDir, new File(dir, "checkpoint").getPath,
      Trigger.ProcessingTime(0L))(spark)
    // the stream plans its batches in a session of its own; the accessor
    // is public in bytecode but protected to Scala
    query match {
      case q: StreamingQueryWrapper => tracer.watch(q.streamingQuery.getClass
        .getMethod("sparkSessionForStream").invoke(q.streamingQuery).asInstanceOf[SparkSession])
      case _ =>
    }
  }

  /** One micro-batch: `run` is timed from addData until
    * processAllAvailable returns; `output` reads its sink partition. */
  final class Batch(val id: Long, val wire: IndexedSeq[String], val expected: Seq[Obs]) {
    private var waitSpan = -1
    def run(): Unit = {
      tracer.span("MemoryStream.addData", "StreamPipeline")(mem.addData(wire: _*))
      tracer.span("StreamingQuery.processAllAvailable", "spark.driver") {
        waitSpan = tracer.current.map(_.id).getOrElse(-1)
        query.processAllAvailable()
      }
    }
    def partition: String = new File(sinkDir, s"batch_id=$id").getPath
    def output(): Seq[String] = {
      // per-layer probes of a traced batch, after its timing ended
      if (waitSpan >= 0) traceBatch(id, waitSpan, wire)
      val part = new File(partition)
      if (!part.exists()) Seq.empty
      else {
        filesPerBatch(id) = part.listFiles().count(_.getName.endsWith(".parquet"))
        val rows = spark.read.parquet(part.getPath).collect().toSeq.map { r =>
          Rows.row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5), r.get(6), r.get(7), r.get(8))
        }
        written(id) = rows.size.toLong
        rows
      }
    }
    def check(out: Seq[String]): Option[String] =
      Rows.sameSet(s"stream batch $id sink partition", expected.map(StreamIngest.row(gen, _)), out)
  }

  /** Generate the next batch and the rows the model expects it to land. */
  def next(): Batch = {
    val b = batchNo
    batchNo += 1
    val wire = gen.nextBatch(model)
    val parsed = wire.flatMap(_._2)
    val passed = model.monotonic(parsed)
    val expected = model.hourly(passed)
    expectedRows += expected.size
    modelDrops = Map(
      "monotonic" -> (modelDrops("monotonic") + parsed.count(_.station != null) - passed.size),
      "hourly" -> (modelDrops("hourly") + passed.size - expected.size),
      "null_key" -> (modelDrops("null_key") + parsed.count(_.station == null)))
    new Batch(b, wire.map(_._1), expected)
  }

  /** Streaming phases of batch `b` as spans under `parent`, and the dedup
    * operator's output rows from the executed plan. */
  private def traceBatch(b: Long, parent: Int, wire: Seq[String]): Unit = {
    // Clean's share of per-batch planning: build (analyse, not run) the
    // hourly prep plan the sink builds for every batch, on the same rows
    val static = spark.createDataset(wire)(Encoders.STRING).toDF("value")
    val t0 = System.nanoTime()
    graft.operators.Clean.prepareHourly(StreamPipeline.parseWire(static), graft.schema.Observation.schema)
    buildMs += (System.nanoTime() - t0) / 1e6
    query.recentProgress.filter(_.batchId == b).foreach { p =>
      progress += p
      var t = Instant.parse(p.timestamp).toEpochMilli * 1000L
      val d = p.durationMs
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { ph =>
          Option(d.get(ph)).map(_.longValue).foreach { ms =>
            val s = tracer.addSpan(parent, s"StreamPipeline.$ph", "StreamPipeline", t, t + ms * 1000L)
            if (ph == "addBatch") tracer.linkBatch(b, s.id)
            t += ms * 1000L
          }
        }
    }
    query match {
      case w: StreamingQueryWrapper =>
        val plan = w.streamingQuery.lastExecution.executedPlan
        dedupOut(b) = plan.collect {
          case n if n.nodeName.contains("FlatMapGroupsWithState") => n.metrics("numOutputRows").value
        }.sum
      case _ =>
    }
  }

  def layerMetrics(tr: TraceReport): Map[String, Double] = {
    val ps = progress.toSeq
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def phase(ph: String) = med(ps.flatMap(p => Option(p.durationMs.get(ph)).map(_.doubleValue)))
    val states = ps.flatMap(_.stateOperators.headOption)
    val in = ps.map(_.numInputRows).sum.toDouble
    val traced = ps.map(_.batchId).toSet
    val sinkJobs = tr.linkedJobs.count(_._1.batchId >= 0).toDouble / math.max(1, ps.size)
    Map(
      "StreamPipeline.addBatch_ms" -> phase("addBatch"),
      "StreamPipeline.queryPlanning_ms" -> phase("queryPlanning"),
      "StreamPipeline.walCommit_ms" -> phase("walCommit"),
      "StreamPipeline.commitOffsets_ms" -> phase("commitOffsets"),
      "StreamPipeline.sink_jobs_per_batch" -> sinkJobs,
      "StreamPipeline.files_per_batch" -> med(filesPerBatch.filter(x => traced(x._1)).values.map(_.toDouble).toSeq),
      "MonotonicDedup.state_rows" -> states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "MonotonicDedup.state_bytes" -> states.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "MonotonicDedup.state_commit_ms" -> med(states.map(_.commitTimeMs.toDouble)),
      "MonotonicDedup.state_update_ms" -> med(states.map(_.allUpdatesTimeMs.toDouble)),
      "MonotonicDedup.pass_ratio" ->
        (if (in == 0) 0.0 else dedupOut.filter(x => traced(x._1)).values.sum / in),
      // the share of a batch's records that never reach the sink:
      // monotonic drops, null keys and the hourly keep-last collapse
      "Clean.reject_ratio" ->
        (if (in == 0) 0.0 else 1.0 - written.filter(x => traced(x._1)).values.sum / in),
      "Clean.prepareHourly_build_ms" -> med(buildMs.toSeq)
    )
  }

  def close(): Unit = if (query != null) { query.stop(); query = null }
}

object StreamIngest {
  /** The sink row the model expects, in [[Rows.row]] form. */
  def row(gen: EltGen, o: Obs): String = {
    val (_, name, lat, lon, el) = gen.stationMeta(o.station)
    Rows.row(o.station, name, lat, lon, el, o.tsSec * 1000L, o.temp, o.hum, o.wind)
  }
}
