package perfbench

import java.io.File
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.operators.{Analytics, Quality, Warehouse}
import graft.schema.Observation

/** One warehouse row; measures are tenths of a unit, so sums are exact. */
final case class WRow(station: String, name: String, tsSec: Long, temp: Option[Int],
    hum: Option[Int], wind: Option[Int], seq: Long) {
  def key: (String, Long) = (station, tsSec)
}

object WRow {
  def d(x: Option[Int]): java.lang.Double = x.map(v => java.lang.Double.valueOf(v / 10.0)).orNull
  def tenths(x: Option[Double]): Option[Int] = x.map(v => math.round(v * 10).toInt)
}

/** `warehouse_query`: the dashboard analyst's path and the ingest that
  * feeds it. Set-up publishes a warehouse of hourly observations; the
  * closed loop then runs cycles of the five dashboard reads in seeded
  * order followed by one write: a micro-batch through
  * the streaming consumer ([[StreamIngest]]) whose sink partition is
  * merged into the warehouse by key and published. The merge removes every
  * duplicate key, so each publish also carries a second load of a share of
  * the keys: the table every read sees holds duplicate keys. Every read is
  * checked against the rows the generator knows the warehouse holds; every
  * write by its sink partition and by the published table. */
final class WarehouseQuery(seed: Long) extends Workload {
  val name = "warehouse_query"
  val primaryKind = "read"
  override def cycle: Int = readsPerWrite + 1
  val stations = 50
  val days = 30
  val dupShare = 0.005
  val nullShare = 0.02
  val outlierShare = 0.0005
  val readsPerWrite = 5
  val batchSize = 2000
  val zThreshold = 3.0
  val base: Long = Instant.parse("2024-06-01T00:00:00Z").getEpochSecond

  val schema: StructType = StructType(Observation.schema.fields.map(_.copy(nullable = true)) :+
    StructField("ingest_seq", LongType, nullable = false))

  private var rnd: Random = _
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var ingest: StreamIngest = _
  private var dir: String = _
  private var rows: Vector[WRow] = _
  private var nextSeq = 0L
  private var opNo = 0
  private var round: List[String] = Nil
  var inputBytes = 0L

  def why: String = "The dashboard analyst's path and the ingest feeding it: short reads where " +
    "driver planning and job round-trips dominate, beside writes that run the streaming consumer " +
    "(state store, checkpoint, small parquet writes) and a keyed merge plus publish."

  def traffic: Seq[(String, Any)] = Seq("stations" -> stations, "days" -> days,
    "rows" -> stations * days * 24, "duplicate_key_share" -> dupShare, "null_share" -> nullShare,
    "outlier_share" -> outlierShare, "reads_per_write" -> readsPerWrite,
    "warehouse_parquet_bytes" -> inputBytes,
    "duplicate_keys_at_end" -> Option(rows).map(_.groupBy(_.key).count(_._2.size > 1)).getOrElse(0)) ++ Option(ingest).map(_.traffic).getOrElse(Nil)

  private def tenths(lo: Int, span: Int) = lo * 10 + rnd.nextInt(span * 10)

  private def measures(): (Option[Int], Option[Int], Option[Int]) = {
    def m(lo: Int, span: Int) = if (rnd.nextDouble() < nullShare) None else Some(tenths(lo, span))
    val t = m(-20, 50).map(x => if (rnd.nextDouble() < outlierShare) x + 9000 else x)
    (t, m(10, 90), m(0, 25))
  }

  private def obs(st: Int, tsSec: Long): WRow = {
    val (t, h, w) = measures()
    nextSeq += 1
    WRow(f"${100000 + st}%06d", s"Station $st", tsSec, t, h, w, nextSeq)
  }

  def setup(spark: SparkSession, d: File, tracer: Tracer): Unit = {
    this.spark = spark
    this.tracer = tracer
    rnd = new Random(seed)
    nextSeq = 0L
    opNo = 0
    round = Nil
    dir = new File(d, "warehouse").getPath
    ingest = new StreamIngest(seed, stations, batchSize)
    ingest.start(spark, d, tracer)
    val hours = days * 24
    val gen = for (h <- 0 until hours; s <- 0 until stations) yield obs(s, base + h * 3600L)
    rows = (gen ++ secondLoad(gen)).toVector
    Warehouse.publish(spark, frame(rows), dir)
    inputBytes = parquetBytes
    // warm-up: one of each read and one write, checked like any operation
    (WarehouseQuery.readKinds :+ "write").foreach { k =>
      val op = make(k)
      op.run()
      op.check(op.output()).foreach(e => throw new IllegalStateException(s"warm-up $k: $e"))
    }
  }

  /** Planted duplicate keys: a second load of a share of the (station,
    * hour) keys of `rs`, with fresh measures and a later ingest_seq. */
  private def secondLoad(rs: Seq[WRow]): Seq[WRow] =
    rs.filter(_ => rnd.nextDouble() < dupShare).map(r => obs(r.station.toInt - 100000, r.tsSec))

  private def frame(rs: Seq[WRow]): DataFrame = {
    val sparkRows = rs.map { r =>
      val (_, name, lat, lon, el) = ingest.gen.stationMeta(r.station)
      Row(r.station, name, lat, lon, el, new java.sql.Timestamp(r.tsSec * 1000L),
        WRow.d(r.temp), WRow.d(r.hum), WRow.d(r.wind), r.seq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(sparkRows, 4), schema)
  }

  private def files: Seq[File] = Option(new File(dir).listFiles()).toSeq.flatten
    .filter(_.getName.endsWith(".parquet"))
  def parquetBytes: Long = files.map(_.length).sum

  def next(): Op = {
    opNo += 1
    if (opNo % (readsPerWrite + 1) == 0) make("write")
    else {
      if (round.isEmpty) round = rnd.shuffle(WarehouseQuery.readKinds)
      val k = round.head
      round = round.tail
      make(k)
    }
  }

  private def read(): DataFrame =
    tracer.span("DataFrameReader.parquet", "spark.driver")(spark.read.parquet(dir))

  /** Rows of a query result in [[Rows.row]] form. */
  private def collectRows(call: String, df: DataFrame): Seq[String] =
    tracer.span(call, "spark.driver")(df.collect()).toSeq.map(r => Rows.row(r.toSeq: _*))

  private def make(kind: String): Op = kind match {
    case "write" => writeOp()
    case _ => readOp(kind)
  }

  private def readOp(which: String): Op = {
    val snapshot = rows
    val day = LocalDate.ofEpochDay(base / 86400L + rnd.nextInt(days))
    new Op {
      def kind: String = "read"
      override def label: String = which
      def records: Long = 0L
      private var out: Seq[String] = Nil
      def run(): Unit = {
        val df = read()
        out = which match {
          case "daySlice" =>
            val (s, e) = Analytics.dayBoundsUtc(day)
            val q = tracer.span("Analytics.daySlice", "Analytics")(
              Analytics.daySlice(df, "timestamp", s.toString, e.toString, WarehouseQuery.sliceCols, "station_id"))
            collectRows("Analytics.daySlice", q)
          case "hourlyAgg" =>
            val q = tracer.span("Analytics.hourlyAgg", "Analytics")(Analytics.hourlyAgg(df, "timestamp", "temperature"))
            collectRows("Analytics.hourlyAgg", q)
          case "zscoreOutliers" =>
            val q = tracer.span("Quality.zscoreOutliers", "Quality")(
              Quality.zscoreOutliers(df, WarehouseQuery.zCols, zThreshold))
            collectRows("Quality.zscoreOutliers", q.select("station_id", "timestamp", "ingest_seq"))
          case "duplicateAudit" =>
            val q = tracer.span("Quality.duplicateAudit", "Quality")(
              Quality.duplicateAudit(df, Seq(col("station_id"), col("timestamp"))))
            collectRows("Quality.duplicateAudit", q)
          case "missingness" =>
            val q = tracer.span("Quality.missingness", "Quality")(
              Quality.missingness(df, WarehouseQuery.missCols))
            collectRows("Quality.missingness", q)
        }
      }
      def output(): Seq[String] = out
      def check(got: Seq[String]): Option[String] = which match {
        case "daySlice" =>
          val (s, e) = Analytics.dayBoundsUtc(day)
          val (lo, hi) = (s.getTime / 1000L, e.getTime / 1000L)
          val exp = snapshot.filter(r => r.tsSec >= lo && r.tsSec <= hi)
            .sortBy(r => (r.tsSec, r.station)).map(r =>
              Rows.row(r.station, r.tsSec * 1000L, r.temp.map(_ / 10.0), r.hum.map(_ / 10.0), r.wind.map(_ / 10.0)))
          // rows tied on (timestamp, station) may come in any order
          def canon(xs: Seq[String]) = xs.map(x => (x.split('|').take(2).reverse.mkString("|"), x))
            .groupBy(_._1).toSeq.sortBy(_._1).flatMap(_._2.map(_._2).sorted)
          Rows.sameSeq(s"daySlice $day", canon(exp), canon(got)).orElse(
            Rows.sameSeq(s"daySlice $day order", exp.map(_.split('|').take(2).mkString("|")),
              got.map(_.split('|').take(2).mkString("|"))))
        case "hourlyAgg" =>
          val exp = snapshot.groupBy(r => Math.floorDiv(r.tsSec, 3600L) * 3600L).toSeq.sortBy(_._1).map {
            case (h, rs) =>
              val vals = rs.flatMap(_.temp)
              Rows.row(LocalDateTime.ofEpochSecond(h, 0, ZoneOffset.UTC), rs.size.toLong,
                if (vals.isEmpty) null else vals.map(_.toLong).sum / 10.0)
          }
          Rows.sameSeq("hourlyAgg", exp, got)
        case "zscoreOutliers" =>
          val (exp, ambiguous) = WarehouseQuery.outliers(snapshot, zThreshold)
          val amb = ambiguous.map(r => Rows.row(r.station, r.tsSec * 1000L, r.seq)).toSet
          Rows.sameSet("zscoreOutliers",
            exp.map(r => Rows.row(r.station, r.tsSec * 1000L, r.seq)).filterNot(amb), got.filterNot(amb))
        case "duplicateAudit" =>
          val exp = snapshot.groupBy(_.key).filter(_._2.size > 1).toSeq
            .map { case ((s, t), rs) => Rows.row(s, t * 1000L, rs.size.toLong) }
          Rows.sameSet("duplicateAudit", exp, got)
        case "missingness" =>
          val exp = Seq("humidity" -> snapshot.count(_.hum.isEmpty), "station_name" -> 0,
            "temperature" -> snapshot.count(_.temp.isEmpty), "wind_speed" -> snapshot.count(_.wind.isEmpty))
            .map { case (c, n) => Rows.row(c, n.toLong) }
          Rows.sameSeq("missingness", exp, got)
      }
    }
  }

  private def writeOp(): Op = {
    val batch = ingest.next()
    nextSeq += 1
    val seq = nextSeq
    val landed = batch.expected.map(o =>
      WRow(o.station, ingest.gen.stationMeta(o.station)._2, o.tsSec, WRow.tenths(o.temp),
        WRow.tenths(o.hum), WRow.tenths(o.wind), seq))
    // an empty sink partition publishes nothing
    val dups = if (landed.isEmpty) Vector.empty else {
      val merged = (rows ++ landed).groupBy(_.key).values.map(_.maxBy(_.seq)).toVector.sortBy(_.key)
      val d = secondLoad(merged)
      rows = merged ++ d
      d
    }
    val published = rows
    new Op {
      def kind: String = "write"
      def records: Long = batch.wire.size.toLong
      def run(): Unit = {
        batch.run()
        if (landed.nonEmpty) {
          val updates = tracer.span("DataFrameReader.parquet", "spark.driver")(
            spark.read.parquet(batch.partition)).withColumn("ingest_seq", lit(seq))
          val m = tracer.span("Warehouse.mergeByKey", "Warehouse")(
            Warehouse.mergeByKey(read(), updates, Seq("station_id", "timestamp"), Seq("ingest_seq")))
          tracer.span("Warehouse.publish", "Warehouse")(
            Warehouse.publish(spark, m.unionByName(frame(dups)), dir))
        }
      }
      def output(): Seq[String] = batch.output().map("S|" + _) ++
        spark.read.parquet(dir).select("station_id", "timestamp", "temperature", "ingest_seq")
          .collect().toSeq.map(r => "W|" + Rows.row(r.toSeq: _*))
      def check(got: Seq[String]): Option[String] = {
        val (sink, table) = got.partition(_.startsWith("S|"))
        batch.check(sink.map(_.drop(2))).orElse(Rows.sameSet("published warehouse",
          published.map(r => Rows.row(r.station, r.tsSec * 1000L, r.temp.map(_ / 10.0), r.seq)),
          table.map(_.stripPrefix("W|"))))
      }
    }
  }

  override def layerMetrics(tr: TraceReport): Map[String, Double] = Map(
    "Warehouse.files" -> files.size.toDouble,
    "Warehouse.bytes_per_row" -> parquetBytes.toDouble / rows.size) ++ ingest.layerMetrics(tr)

  override def close(): Unit = if (ingest != null) ingest.close()
}

object WarehouseQuery {
  val readKinds: List[String] =
    List("daySlice", "hourlyAgg", "zscoreOutliers", "duplicateAudit", "missingness")
  val sliceCols = Seq("station_id", "timestamp", "temperature", "humidity", "wind_speed")
  val zCols = Seq("temperature", "wind_speed")
  val missCols = Seq("station_name", "temperature", "humidity", "wind_speed")

  /** Rows with any |z| above `threshold` under population statistics, and
    * the rows whose z lies so close to the threshold that floating-point
    * summation order may decide them. */
  def outliers(rs: Seq[WRow], threshold: Double): (Seq[WRow], Seq[WRow]) = {
    val getters: Seq[WRow => Option[Int]] = Seq(_.temp, _.wind)
    val stats = getters.map { g =>
      val xs = rs.flatMap(g).map(_ / 10.0)
      val mu = xs.sum / xs.size
      (mu, math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / xs.size))
    }
    def zs(r: WRow) = getters.zip(stats).flatMap { case (g, (mu, sd)) =>
      g(r).filter(_ => sd != 0).map(x => math.abs((x / 10.0 - mu) / sd))
    }
    val near = rs.filter(r => zs(r).exists(z => math.abs(z - threshold) < 1e-9))
    (rs.filter(r => zs(r).exists(_ > threshold)), near)
  }
}
