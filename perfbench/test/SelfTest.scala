package perfbench

import java.time.Instant

import scala.collection.mutable

/** Tests of the benchmark itself: its reference models, its failure path
  * and its percentile helper. Plain assertions, no Spark session; run with
  * `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private val failures = mutable.ArrayBuffer[String]()
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  private def ts(s: String): Long = Instant.parse(s).getEpochSecond

  def main(args: Array[String]): Unit = {
    test("elt model reproduces the hourly keep-last fixture") {
      // the reference's floor-and-keep-last case: S1 at 00:15, 00:45 and
      // 01:05, S2 at 00:10 -> 3 rows, S1 at 00:00 keeps the 00:45 reading
      val batch = Seq(
        Obs("S1", ts("2024-01-01T00:15:00Z"), Some(1.0), None, None),
        Obs("S1", ts("2024-01-01T00:45:00Z"), Some(2.0), None, None),
        Obs("S1", ts("2024-01-01T01:05:00Z"), Some(3.0), None, None),
        Obs("S2", ts("2024-01-01T00:10:00Z"), Some(4.0), None, None))
      val out = new EltModel().applyBatch(batch)
      expect(out.size == 3, s"${out.size} rows")
      val s1 = out.find(o => o.station == "S1" && o.tsSec == ts("2024-01-01T00:00:00Z"))
      expect(s1.flatMap(_.temp).contains(2.0), s"S1 at 00:00 is $s1")
    }

    test("elt model drops records at or below a station's high-water mark") {
      val m = new EltModel()
      val t = ts("2024-01-01T10:00:00Z")
      m.applyBatch(Seq(Obs("A", t, Some(1.0), None, None)))
      val next = m.monotonic(Seq(
        Obs("A", t, Some(9.0), None, None),          // equal: strict > drops it
        Obs("A", t - 60, Some(9.0), None, None),     // late
        Obs("A", t + 60, Some(5.0), None, None),
        Obs(null, t + 60, Some(5.0), None, None)))   // null key never lands
      expect(next.map(_.tsSec) == Seq(t + 60), s"passed $next")
    }

    test("a corrupted output is reported as a failure and is not timed") {
      val rows = Seq("a|1", "b|2", "c|3")
      val op = new Op {
        def kind = "read"
        def records = 1L
        def run(): Unit = ()
        def output(): Seq[String] = rows
        def check(out: Seq[String]): Option[String] = Rows.sameSet("fixture", rows, out)
      }
      expect(Runner.verify(op, plantWrong = false)._1.isEmpty, "clean output flagged")
      val (bad, _) = Runner.verify(op, plantWrong = true)
      expect(bad.isDefined, "corrupted output passed its check")
      val samples = Seq(Sample("read", 100.0, 1, None), Sample("read", 1.0, 1, bad))
      expect(Runner.okLatencies(samples, "read") == Seq(100.0), "failed sample was timed")
      val throwing = new Op {
        def kind = "read"
        def records = 1L
        def run(): Unit = ()
        def output(): Seq[String] = throw new IllegalStateException("boom")
        def check(out: Seq[String]): Option[String] = None
      }
      expect(Runner.verify(throwing, plantWrong = false)._1.isDefined, "a throwing check passed")
    }

    test("row checks see a changed value, a missing row and a reordering") {
      val exp = Seq("a|1", "b|2")
      expect(Rows.sameSet("x", exp, Seq("b|2", "a|1")).isEmpty, "set order mattered")
      expect(Rows.sameSet("x", exp, Seq("a|1", "b|3")).isDefined, "changed value passed")
      expect(Rows.sameSet("x", exp, Seq("a|1")).isDefined, "missing row passed")
      expect(Rows.sameSeq("x", exp, Seq("b|2", "a|1")).isDefined, "reordering passed")
    }

    test("curation check rejects a wrong status, a wrong pair and a missed pair") {
      val docs = new DocGen(11, 300).generate()
      val m = new CurateModel(docs, 20, Set("en", "fi"), 0.7)
      expect(m.truth.nonEmpty && m.mustFind.nonEmpty, "the corpus planted no near-duplicates")
      val nearDrop = m.truth.keySet.map(_._2)
      val statuses = docs.map { d =>
        Rows.row("S", d.id, m.early.getOrElse(d.id, if (nearDrop(d.id)) "near_dup" else "kept"))
      }
      val pairs = m.truth.toSeq.map { case ((a, b), j) => Rows.row("P", a, b, j) }
      val comps = DedupCurate.components(m.truth.keys.toSeq).toSeq.map { case (i, c) => Rows.row("C", i, c) }
      val good = statuses ++ pairs ++ comps
      expect(DedupCurate.check(m, docs.size, good).isEmpty, s"exact output failed: ${DedupCurate.check(m, docs.size, good)}")
      val quality = docs.find(d => m.early.get(d.id).contains("quality")).get.id
      val wrongStatus = good.map(r => if (r == Rows.row("S", quality, "quality")) Rows.row("S", quality, "kept") else r)
      expect(DedupCurate.check(m, docs.size, wrongStatus).isDefined, "wrong status passed")
      val (a, b) = m.mustFind.head
      val missed = good.filterNot(_.startsWith(s"P|$a|$b|"))
      expect(DedupCurate.check(m, docs.size, missed).isDefined, "missed pair passed")
      expect(DedupCurate.check(m, docs.size, Runner.corrupt(good)).isDefined, "corrupted output passed")
    }

    test("near-duplicate families form clusters wider than two hops") {
      val docs = new DocGen(5, 600).generate()
      val m = new CurateModel(docs, 20, Set("en", "fi"), 0.7)
      val adj = m.truth.keys.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
      def ecc(s: Long): Int = {
        val dist = mutable.Map(s -> 0)
        val q = mutable.Queue(s)
        while (q.nonEmpty) {
          val x = q.dequeue()
          adj.getOrElse(x, Nil).foreach(y => if (!dist.contains(y)) { dist(y) = dist(x) + 1; q += y })
        }
        dist.values.max
      }
      expect(adj.keys.exists(ecc(_) > 2), "no cluster has diameter above 2")
      expect(m.truth.values.exists(_ < 0.9) && m.truth.values.exists(_ >= 0.9),
        "pair similarities do not straddle the recall floor")
    }

    test("percentile helper reports the sample counts it can support") {
      expect(Stats.supportedPercentile(19).isEmpty, "p50 of 19 samples has 9 beyond it")
      expect(Stats.supportedPercentile(20).contains(50), "p50 of 20")
      expect(Stats.supportedPercentile(39).contains(50), "p75 of 39 has 9 beyond it")
      expect(Stats.supportedPercentile(40).contains(75), "p75 of 40")
      expect(Stats.supportedPercentile(99).contains(75), "p90 of 99 has 9 beyond it")
      expect(Stats.supportedPercentile(100).contains(90), "p90 of 100")
      expect(Stats.supportedPercentile(1000).contains(99), "p99 of 1000")
      val s = Stats.summary((1 to 100).map(_.toDouble))
      expect(s.n == 100 && s.tailP.contains(90), s"summary $s")
      expect(math.abs(s.p50 - 50.5) < 1e-9 && math.abs(s.tail.get - 90.1) < 1e-9, s"summary $s")
      expect(Stats.summary(Seq(3.0, 1.0, 2.0)).p50 == 2.0, "median of three")
    }

    println(s"$passed passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
