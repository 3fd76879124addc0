package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.col

import graft.CacheScope
import graft.operators.{Curation, Dedup, Graphs}

final case class Doc(id: Long, text: String, lang: String)

/** Seeded LLM-corpus documents: singletons, near-duplicate families built
  * as chains of token substitutions (so pair Jaccard falls on both sides of
  * the threshold and clusters are wider than two hops), exact copies with
  * case and whitespace noise, too-short documents and off-language ones. */
final class DocGen(seed: Long, val docs: Int) {
  val tokens = 80
  val vocab = 5000
  val familyShare = 0.35
  val familySizes: Range = 3 to 6
  val oneEditShare = 0.4
  val manyEdits = 3
  val copyShare = 0.08
  val shortShare = 0.05
  val offLangShare = 0.05

  private val rnd = new Random(seed)
  private val syll = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "vo", "pe", "hu", "ja", "ko")
  private val words = {
    val r = new Random(7)
    (0 until vocab).map(_ => (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.length))).mkString)
      .distinct.toIndexedSeq
  }
  private def word() = words(rnd.nextInt(words.size))
  private def lang() = if (rnd.nextBoolean()) "en" else "fi"

  /** Documents with ids 1..n in seeded order. The corpus structure (how
    * many families of which sizes, edits per chain step, copies, short
    * and off-language documents) is the same for every seed; the seed
    * picks the words, the edit positions and the order. */
  def generate(): IndexedSeq[Doc] = {
    val texts = mutable.ArrayBuffer[(Array[String], String)]()
    val inFamilies = (docs * familyShare).toInt
    var f = 0
    while (texts.size < inFamilies) {
      var cur = Array.fill(tokens)(word())
      val size = familySizes(f % familySizes.size)
      val l = lang()
      (0 until size).foreach { i =>
        if (i > 0) {
          cur = cur.clone()
          val edits = if ((f + i) % 5 < oneEditShare * 5) 1 else manyEdits
          (0 until edits).foreach(_ => cur(rnd.nextInt(tokens)) = word())
        }
        texts += ((cur, l))
      }
      f += 1
    }
    val nShort = (docs * shortShare).toInt
    val nOff = (docs * offLangShare).toInt
    val nCopy = (docs * copyShare).toInt
    (0 until nShort).foreach(_ => texts += ((Array.fill(5 + rnd.nextInt(10))(word()), lang())))
    (0 until nOff).foreach(_ => texts += ((Array.fill(tokens)(word()), if (rnd.nextBoolean()) "de" else "sv")))
    val singletons = texts.size
    while (texts.size < docs - nCopy) texts += ((Array.fill(tokens)(word()), lang()))
    val originals = texts.map { case (ws, l) => (ws.mkString(" "), l) }
    // copies of distinct singletons: same normalised text, case and
    // whitespace differ
    val sources = rnd.shuffle((singletons until originals.size).toVector).take(nCopy)
    val copies = sources.map { i =>
      val (t, l) = originals(i)
      val noisy = t.split(" ").map(w => if (rnd.nextDouble() < 0.1) w.capitalize else w)
        .mkString(if (rnd.nextBoolean()) " " else "  ")
      ("  " + noisy + " ", l)
    }
    rnd.shuffle(originals ++ copies).zipWithIndex.map { case ((t, l), i) => Doc(i + 1L, t, l) }.toIndexedSeq
  }
}

/** Reference semantics of the curation pipeline on the driver. */
final class CurateModel(docs: Seq[Doc], minTokens: Int, langs: Set[String], val jac: Double) {
  def tokensOf(t: String): Array[String] = t.trim.toLowerCase.split("\\s+")
  def normalised(t: String): String = t.replaceAll("\\s+", " ").trim.toLowerCase
  def shingles(t: String): Set[String] = {
    val ts = tokensOf(t)
    if (ts.length < 3) Set.empty else ts.sliding(3).map(_.mkString(" ")).toSet
  }

  /** quality, language and exact_dup statuses; None for exact survivors. */
  val early: Map[Long, String] = {
    val q = docs.filter(d => tokensOf(d.text).length < minTokens).map(_.id -> "quality").toMap
    val l = docs.filter(d => !q.contains(d.id) && !langs(d.lang)).map(_.id -> "language").toMap
    val surv = docs.filter(d => !q.contains(d.id) && !l.contains(d.id))
    val ex = surv.groupBy(d => normalised(d.text)).values
      .flatMap(g => g.sortBy(_.id).tail.map(_.id -> "exact_dup")).toMap
    q ++ l ++ ex
  }
  val survivors: Seq[Doc] = docs.filterNot(d => early.contains(d.id))
  val sh: Map[Long, Set[String]] = survivors.map(d => d.id -> shingles(d.text)).toMap

  def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (sh(a), sh(b))
    val i = x.count(y)
    i.toDouble / (x.size + y.size - i)
  }

  /** Every survivor pair (a < b) at or above the threshold, exactly. */
  val truth: Map[(Long, Long), Double] = {
    val post = mutable.Map[String, mutable.ArrayBuffer[Long]]()
    sh.foreach { case (id, ss) => ss.foreach(s => post.getOrElseUpdate(s, mutable.ArrayBuffer()) += id) }
    val cands = post.values.flatMap { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }.toSet
    cands.iterator.map(p => p -> jaccard(p._1, p._2)).filter(_._2 >= jac).toMap
  }
  /** Pairs so far above the threshold that banded LSH must find them. */
  val mustFind: Set[(Long, Long)] = truth.filter(_._2 >= 0.9).keySet
}

/** `dedup_curate`: the LLM-data path. Each pass runs Curation.curate over
  * the corpus, Dedup.minhashNearDups over its exact survivors and
  * Graphs.connectedComponents over the confirmed pairs. */
final class DedupCurate(seed: Long) extends Workload {
  val name = "dedup_curate"
  val primaryKind = "pass"
  // a pass still speeds up over its first several repetitions in a JVM
  override def settleCycles: Int = 1
  val docs = 1000
  val minTokens = 20
  val langs = Seq("en", "fi")
  val threshold = 0.7
  val (shingleN, k, bands) = (3, 64, 16)

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var path: String = _
  private var model: CurateModel = _
  private var corpus: IndexedSeq[Doc] = _
  var inputBytes = 0L
  private val candidates = mutable.ArrayBuffer[Double]()
  private val confirmed = mutable.ArrayBuffer[Double]()

  def why: String = "The LLM-data path, where executor work is largest; at this size it is about " +
    "equal to the fixed per-operation driver cost, not dominant. Its edge set stays under Graphs' " +
    "2^18 driverThreshold, so connected components takes the driver union-find path."

  def traffic: Seq[(String, Any)] = {
    val g = new DocGen(0, docs)
    Seq("documents" -> docs, "tokens_per_document" -> g.tokens, "vocabulary" -> g.vocab,
      "family_share" -> g.familyShare, "family_sizes" -> s"${g.familySizes.head}-${g.familySizes.last}",
      "edits_per_chain_step" -> s"1 (${g.oneEditShare}), ${g.manyEdits} (${1 - g.oneEditShare})",
      "exact_copy_share" -> g.copyShare, "short_share" -> g.shortShare,
      "off_language_share" -> g.offLangShare, "jaccard_threshold" -> threshold,
      "input_parquet_bytes" -> inputBytes,
      "model_pairs_at_threshold" -> Option(model).map(_.truth.size).getOrElse(0),
      "model_pairs_must_find" -> Option(model).map(_.mustFind.size).getOrElse(0))
  }

  def setup(spark: SparkSession, dir: File, tracer: Tracer): Unit = {
    this.spark = spark
    this.tracer = tracer
    tracer.probe("sym_edges")(DedupCurate.distinctRows(_, Seq("src", "dst")))
    corpus = new DocGen(seed, docs).generate()
    model = new CurateModel(corpus, minTokens, langs.toSet, threshold)
    path = new File(dir, "documents").getPath
    import spark.implicits._
    corpus.toDF("doc_id", "text", "lang").repartition(4).write.parquet(path)
    inputBytes = new File(path).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val warm = next()
    warm.run()
    warm.check(warm.output()).foreach(e => throw new IllegalStateException(s"warm-up pass: $e"))
  }

  def next(): Op = new Op {
    def kind: String = "pass"
    def records: Long = docs.toLong
    private var statuses: Seq[String] = Nil
    private var pairs: Seq[String] = Nil
    private var comps: Seq[String] = Nil

    def run(): Unit = {
      val d = tracer.span("DataFrameReader.parquet", "spark.driver")(spark.read.parquet(path))
      val st = tracer.span("Curation.curate", "Curation")(
        Curation.curate(d, "doc_id", "text", "lang", minTokens, langs, 1 << 20, threshold))
      val stRows = tracer.span("Curation.curate", "spark.driver")(st.collect())
      statuses = stRows.toSeq.map(r => Rows.row("S", r.get(0), r.get(1)))
      val surv = stRows.filter(r => r.getString(1) == "kept" || r.getString(1) == "near_dup").map(_.getLong(0))
      val survDocs = d.filter(col("doc_id").isin(surv.toIndexedSeq: _*))
      val p = tracer.span("Dedup.minhashNearDups", "Dedup")(
        CacheScope.register(Dedup.minhashNearDups(survDocs, "doc_id", "text", shingleN, k, bands, threshold)))
      pairs = tracer.span("Dedup.minhashNearDups", "spark.driver")(p.collect()).toSeq
        .map(r => Rows.row("P", r.get(0), r.get(1), r.get(2)))
      val c = tracer.span("Graphs.connectedComponents", "Graphs")(Graphs.connectedComponents(p, "id_a", "id_b"))
      comps = tracer.span("Graphs.connectedComponents", "spark.driver")(c.collect()).toSeq
        .map(r => Rows.row("C", r.get(0), r.get(1)))
      if (tracer.enabled) {
        confirmed += pairs.size
        candidates += DedupCurate.distinctRows(p.queryExecution.executedPlan, Seq("id_a", "id_b"))
          .getOrElse(0.0)
      }
    }
    def output(): Seq[String] = statuses ++ pairs ++ comps
    def check(out: Seq[String]): Option[String] = DedupCurate.check(model, docs, out)
  }

  override def layerMetrics(tr: TraceReport): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    Map(
      "Dedup.lsh_candidates" -> med(candidates.toSeq),
      "Dedup.confirmed_pairs" -> med(confirmed.toSeq),
      "Dedup.confirm_ratio" -> (if (candidates.sum == 0) 0.0 else confirmed.sum / candidates.sum),
      "Graphs.cc_sym_edges" -> tr.probedInCall("sym_edges", "Graphs.connectedComponents"))
  }
}

object DedupCurate {
  /** Rows out of a distinct over exactly `cols`, read from an executed
    * plan and the cached plans it scans: the LSH candidate pairs (id_a,
    * id_b) of Dedup, the symmetrised edges (src, dst) of Graphs. Only the
    * final aggregate of the distinct counts; its partial aggregate sees
    * each partition's rows before they are merged. */
  def distinctRows(plan: SparkPlan, cols: Seq[String]): Option[Double] = {
    object walk extends AdaptiveSparkPlanHelper
    def counts(p: SparkPlan): Seq[Double] = walk.collect(p) {
      case h: HashAggregateExec if h.requiredChildDistributionExpressions.isDefined &&
          h.aggregateExpressions.isEmpty && h.output.map(_.name) == cols =>
        Seq(h.metrics("numOutputRows").value.toDouble)
      case c: InMemoryTableScanExec => counts(c.relation.cachedPlan)
    }.flatten
    counts(plan).headOption
  }

  /** Statuses must match the model exactly where the model is exact
    * (quality, language, exact duplicates); near-duplicate drops, pairs
    * and clusters must be justified by driver-recomputed Jaccard, and every
    * pair far above the threshold must be found. */
  def check(m: CurateModel, docs: Int, out: Seq[String]): Option[String] = {
    val rows = out.map(_.split('|'))
    val st = rows.filter(_(0) == "S").map(r => r(1).toLong -> r(2)).toMap
    val pairs = rows.filter(_(0) == "P").map(r => ((r(1).toLong, r(2).toLong), r(3).toDouble))
    val comps = rows.filter(_(0) == "C").map(r => r(1).toLong -> r(2).toLong).toMap
    val dropsJustified = m.truth.keySet.map(_._2)
    val mustDrop = m.mustFind.map(_._2)
    def first[A](xs: Iterable[A])(msg: A => String): Option[String] = xs.headOption.map(msg)
    if (st.size != docs || rows.count(_(0) == "S") != docs)
      Some(s"curate returned ${rows.count(_(0) == "S")} statuses for $docs documents")
    else first(st.filter { case (id, s) =>
      m.early.get(id) match {
        case Some(e) => s != e
        case None => !(s == "kept" || (s == "near_dup" && dropsJustified(id))) || (mustDrop(id) && s != "near_dup")
      }
    })(x => s"document ${x._1} has status ${x._2}, model says ${m.early.getOrElse(x._1, "kept/near_dup")}")
      .orElse(first(pairs.filter { case ((a, b), j) =>
        !(a < b && m.truth.get((a, b)).exists(t => math.abs(t - j) < 1e-9))
      })(x => s"pair ${x._1} with jaccard ${x._2} is not a pair at >= ${m.jac} (model ${m.truth.get(x._1)})"))
      .orElse(first(m.mustFind.diff(pairs.map(_._1).toSet))(p => s"pair $p at jaccard ${m.truth(p)} not found"))
      .orElse {
        val expected = DedupCurate.components(pairs.map(_._1))
        if (expected == comps) None
        else Some(s"connected components differ from union-find over the pairs: " +
          s"${(expected.toSet diff comps.toSet).take(3)} vs ${(comps.toSet diff expected.toSet).take(3)}")
      }
  }

  /** Component label (the smallest member id) of every node of `edges`. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }
}
