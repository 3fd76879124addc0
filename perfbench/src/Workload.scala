package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One operation of a closed loop: `run` is the timed call into the
  * program; `output` fetches what the program produced (untimed) and
  * `check` compares it with the reference model, returning the reason for
  * a mismatch. */
trait Op {
  def kind: String
  /** Finer than `kind` where one kind mixes different work (the five
    * dashboard reads); tracing alternates per label. */
  def label: String = kind
  /** Input records this operation completes (wire records, documents);
    * 0 for an operation that only reads. */
  def records: Long
  def run(): Unit
  def output(): Seq[String]
  def check(out: Seq[String]): Option[String]
}

/** A benchmark workload: seeded inputs, set-up and a stream of operations.
  * The program only ever sees the generated inputs. */
trait Workload {
  def name: String
  /** The operation kind whose latency is the headline latency. */
  def primaryKind: String
  /** Operations per cycle of the workload's mix; a run ends on a cycle
    * boundary, so every run times the same mix. */
  def cycle: Int = 1
  /** Untimed, checked cycles between the last set-up and timing, for a
    * workload whose operations are still warming up the JIT. */
  def settleCycles: Int = 0
  /** What the generated traffic looks like: recorded in every output. */
  def traffic: Seq[(String, Any)]
  /** One sentence on why this workload is in the benchmark. */
  def why: String
  /** Generate inputs under `dir`, prepare the program and run one
    * untimed warm-up operation. */
  def setup(spark: SparkSession, dir: File, tracer: Tracer): Unit
  def next(): Op
  /** Per-layer metrics only this workload can observe (traced phase). */
  def layerMetrics(trace: TraceReport): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "warehouse_query" => new WarehouseQuery(seed)
    case "dedup_curate" => new DedupCurate(seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val names: Seq[String] = Seq("warehouse_query", "dedup_curate")
}

/** Order-free row-set fingerprint: count plus a sum of per-row 64-bit
  * hashes, so two multisets compare without sorting either. */
object Rows {
  import scala.util.hashing.MurmurHash3

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  def checksum(rows: Iterable[String]): Long = rows.foldLeft(0L)(_ + hash64(_))

  /** Canonical text of one value: nulls and doubles print the same way
    * whether they come from Spark or from the model. */
  def v(x: Any): String = x match {
    case null | None => "-"
    case Some(y) => v(y)
    case t: java.sql.Timestamp => t.getTime.toString
    case d: java.lang.Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  def row(xs: Any*): String = xs.map(v).mkString("|")

  /** Compare as multisets by count and checksum. */
  def sameSet(what: String, expected: Seq[String], actual: Seq[String]): Option[String] =
    if (expected.size != actual.size)
      Some(s"$what: ${actual.size} rows, expected ${expected.size}")
    else if (checksum(expected) != checksum(actual))
      Some(s"$what: checksum ${checksum(actual)}, expected ${checksum(expected)}; " +
        s"first difference ${(actual.diff(expected) ++ expected.diff(actual)).take(2).mkString(" vs ")}")
    else None

  /** Compare as sequences (the program promised an order). */
  def sameSeq(what: String, expected: Seq[String], actual: Seq[String]): Option[String] =
    if (expected == actual) None
    else {
      val i = expected.zip(actual).indexWhere { case (a, b) => a != b }
      Some(s"$what: ${actual.size} rows, expected ${expected.size}" +
        (if (i >= 0) s"; row $i is ${actual(i)}, expected ${expected(i)}" else ""))
    }
}
