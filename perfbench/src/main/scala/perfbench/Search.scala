package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.Row
import graft.corpus.SyntheticCorpus
import graft.index.{BuildConf, IndexStore, ParquetIndex}
import graft.query._
import scala.jdk.CollectionConverters._
import scala.collection.mutable

/** One ranked answer row: docId, rank, score. */
final case class Hit(docId: Long, rank: Int, score: Double)

/** The read workload, search-bow: flat BM25 bags on the exact and the WAND
  * path.
  */
object Search {
  val K = 10
  val Clients = 1
  /** Per-op limit beyond which a query counts as timed out. */
  val TimeoutNs: Long = 30L * 1000000000L

  /** Pages in the searched store, and bags in the warm-up. */
  val Docs = 8000L
  val WarmQueries = 6

  /** Build settings sized for stores of a few thousand docs: one fused
    * slice, two docId-range buckets and four term buckets (at the default
    * 64, a small build spends most of its time writing tiny partition
    * files). Readers open a store with the same `TermBuckets`.
    */
  val TermBuckets = 4

  def conf(ctx: Ctx): BuildConf = BuildConf(numSlices = 1, numBuckets = 2,
    termBuckets = TermBuckets, shufflePartitions = ctx.cpus)

  def open(ctx: Ctx, dir: String): ParquetIndex =
    IndexStore.open(ctx.spark, dir, TermBuckets)

  /** Writes rows [from, from + n) of the seed's pages as parquet. */
  def writePages(ctx: Ctx, from: Long, n: Long, out: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val off = ctx.in.offset + from
    spark.range(off, off + n, 1, ctx.cpus).map(i => SyntheticCorpus.page(i))
      .write.parquet(out)
  }

  def build(ctx: Ctx, pagesDir: String, out: String): Unit =
    IndexStore.build(ctx.spark.read.parquet(pagesDir), out, conf(ctx))

  val bm25Parser = new QueryParser(defaultOp = QOp.SUM)

  def hitsOfRanked(rows: Array[Row]): Seq[Hit] =
    rows.toSeq.map(r => Hit(r.getAs[Long]("docId"), r.getAs[Int]("rank"),
      r.getAs[Double]("score"))).sortBy(_.rank)

  /** WAND output is already in rank order (score desc, docId desc). */
  def hitsOfOrdered(rows: Array[Row]): Seq[Hit] =
    rows.toSeq.zipWithIndex.map { case (r, i) =>
      Hit(r.getAs[Long]("docId"), i + 1, r.getAs[Double]("score")) }

  def sameScore(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Ranking invariants of any answer: ≤k rows, ranks 1..n, scores
    * non-increasing, docId descending on ties.
    */
  def rankingProblem(hits: Seq[Hit], k: Int): Option[String] = {
    if (hits.length > k) return Some(s"${hits.length} rows > k=$k")
    if (hits.map(_.rank) != (1 to hits.length)) return Some("ranks not 1..n")
    hits.sliding(2).collectFirst {
      case Seq(a, b) if b.score > a.score => s"score rises at rank ${b.rank}"
      case Seq(a, b) if b.score == a.score && b.docId >= a.docId =>
        s"tie at rank ${b.rank} not docId-descending"
    }
  }

  def sameHits(a: Seq[Hit], b: Seq[Hit]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.docId == y.docId && x.rank == y.rank && sameScore(x.score, y.score) }

  // ------------------------------------------------------------ one query

  /** `Engine.search(q, k).collect()`, then the cache release `searchAll`
    * does after every query. Traced, the same calls run one layer at a
    * time inside spans: parse → stats → lower → plan → execute.
    */
  def exact(ctx: Ctx, engine: Engine, parser: QueryParser, q: String,
            label: String, trace: Boolean,
            phases: ConcurrentHashMap[String, Map[String, Long]]): Seq[Hit] =
    try {
      if (!trace) hitsOfRanked(engine.search(q, K, parser).collect())
      else ctx.tracer.span(label, "query") { root =>
        val t = ctx.tracer
        val node = t.span(label, "query.parse", root)(_ => parser.parse(q))
        t.span(label, "index.stats", root)(_ =>
          engine.index.prefetchStats(engine.collectLeaves(node)))
        val df = t.span(label, "query.lower", root)(_ => engine.searchNode(node, K))
        t.span(label, "query.plan", root)(_ => df.queryExecution.executedPlan)
        phases.put(label, df.queryExecution.tracker.phases
          .map { case (k, v) => k -> v.durationMs })
        hitsOfRanked(t.span(label, "query.execute", root)(_ => df.collect()))
      }
    } finally engine.releaseCaches()

  /** `Wand.bm25TopK(...).collect()` for a flat bag, as QueryMain runs it. */
  def wand(ctx: Ctx, idx: ParquetIndex, q: String, label: String,
           trace: Boolean): Seq[Hit] = {
    val terms = Wand.eligibleBag(bm25Parser.parse(q)).getOrElse(
      sys.error(s"not a WAND bag: $q"))
    if (!trace)
      hitsOfOrdered(Wand.bm25TopK(ctx.spark, idx, terms, "default", K).collect())
    else ctx.tracer.span(label, "wand") { root =>
      val df = ctx.tracer.span(label, "wand.plan", root)(_ =>
        Wand.bm25TopK(ctx.spark, idx, terms, "default", K))
      hitsOfOrdered(ctx.tracer.span(label, "wand.execute", root)(_ => df.collect()))
    }
  }

  // ------------------------------------------------------------- workloads

  def run(ctx: Ctx, m: mutable.Map[String, Double]): (Int, Int) = {
    val spark = ctx.spark
    val in = ctx.in
    var idx: ParquetIndex = null
    val phases = new ConcurrentHashMap[String, Map[String, Long]]()

    def bags(stream: String): Int => String = {
      val r = in.rng(stream)
      val qs = Inputs.bags(r, 4000).map(_.mkString(" "))
      i => qs(i % qs.length)
    }
    val measureBags = bags("bow")

    // ------------------------------------------------------------ set-up
    // the store is made from scratch `Setup.Reps` times; the first time
    // also pays for the JIT, the median wall is what setup_s counts
    val storeS = Setup.repeated { rep =>
      ctx.rm(s"s${rep - 1}")
      writePages(ctx, 0, Docs, ctx.dir(s"s$rep/pages"))
      build(ctx, ctx.dir(s"s$rep/pages"), ctx.dir(s"s$rep/store"))
      idx = open(ctx, ctx.dir(s"s$rep/store"))
    }
    // warm-up on the measured store, with queries the measured phase never
    // repeats: JIT, page cache and term-stat cache. The warm-up answers are
    // checked too (WAND against exact).
    val warmS = Setup.once {
      val warm = bags("warm")
      (0 until WarmQueries).foreach { i =>
        val e = exact(ctx, new Engine(idx, BM25()), bm25Parser, warm(i),
          "warm", false, phases)
        ctx.check(sameHits(wand(ctx, idx, warm(i), "warm", false), e),
          s"warm-up: WAND differs from exact for '${warm(i)}'")
      }
    }
    val setupS = storeS + warmS

    // ----------------------------------------------------------- measure
    // traced runs alternate traced and untraced queries, so the two
    // latencies compare on the same load; the difference is the overhead
    def tracedOp(i: Int) = ctx.traced && i % 2 == 1
    if (ctx.traced) ctx.log
    val rec = new Recorder(ctx)
    val answers = new ConcurrentHashMap[String, Seq[Hit]]()
    val engines = (0 until Clients).map(_ => new Engine(idx, BM25()))
    val gc0 = Jvm.gcMs()
    val cg0 = SparkLog.codegen()
    Jvm.resetHeapPeak()
    val wall = ClosedLoop.run(ctx, Clients, ctx.seconds) { (c, i) =>
      val q = measureBags(i)
      def e(): Unit = rec.timed("exact", s"e$i")(
        exact(ctx, engines(c), bm25Parser, q, s"e$i", tracedOp(i), phases)
      ).foreach(h => answers.put(s"e$i", h))
      def w(): Unit = rec.timed("wand", s"w$i")(
        wand(ctx, idx, q, s"w$i", tracedOp(i))
      ).foreach(h => answers.put(s"w$i", h))
      if (i % 2 == 0) { e(); w() } else { w(); e() }
    }
    val gcMs = Jvm.gcMs() - gc0
    val cg1 = SparkLog.codegen()
    val heapPeak = Jvm.heapPeakMb()

    // ------------------------------------------------------------ verify
    val recs = rec.records
    answers.asScala.foreach { case (label, hits) =>
      rankingProblem(hits, K).foreach(p => ctx.check(false, s"$label: $p"))
    }
    recs.filter(_.kind == "exact").foreach { r =>
      val i = r.label.drop(1)
      (Option(answers.get(s"e$i")), Option(answers.get(s"w$i"))) match {
        case (Some(e), Some(w)) =>
          ctx.check(sameHits(w, e),
            s"WAND top-$K differs from exact for '${measureBags(i.toInt)}': $w vs $e")
        case _ =>
      }
    }

    // ----------------------------------------------------------- metrics
    // latencies keyed by bag length, which cycles 2, 3, 4 along the stream
    // (Inputs.bags) and sets most of a query's cost
    def untraced(kind: String): Seq[(Int, Double)] = recs.filter(r => r.ok &&
      r.kind == kind && !tracedOp(r.label.drop(1).toInt))
      .map(r => (2 + r.label.drop(1).toInt % 3, r.ms))
    val exactByLen = untraced("exact")
    val wandByLen = untraced("wand")
    val exactMs = exactByLen.map(_._2)
    val wandMs = wandByLen.map(_._2)
    // completed queries per second of client busy time (Little's law for
    // a closed loop); it is Clients ÷ the mean latency, so it is printed
    // here but not gated on its own
    val busyS = recs.map(_.ms).sum / 1e3 / Clients
    System.err.println(s"[perfbench] ${recs.length} queries in $wall s; " +
      s"queries_per_s=${recs.count(_.ok) / busyS}")
    Seq("exact" -> exactByLen, "wand" -> wandByLen).filter(_._2.nonEmpty).foreach {
      case (path, xs) => System.err.println(s"[perfbench] $path: " +
        Stats.summary(xs.map(_._2)) + "; p50 by bag length: " +
        xs.groupBy(_._1).toSeq.sortBy(_._1).map { case (len, g) =>
          f"$len: ${Stats.median(g.map(_._2))}%.1f ms (n=${g.length})" }.mkString(", "))
    }
    if (!ctx.traced) {
      m.put("setup_s", setupS)
      m.put("op_p50_ms", Stats.stratifiedMedian(exactByLen))
      m.put("alt_p50_ms", Stats.stratifiedMedian(wandByLen))
    } else {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      layerMetrics(ctx, recs, tracedOp, phases, m)
      if (wandMs.nonEmpty) m.put("wand.p50_ms", Stats.median(wandMs))
      val ops = math.max(1, recs.length)
      m.put("codegen.compiles", (cg1._1 - cg0._1).toDouble / ops)
      m.put("codegen.compile_ms", (cg1._2 - cg0._2) / 1e6 / ops)
      m.put("jvm.gc_s", gcMs / 1e3)
      m.put("jvm.heap_peak_mb", heapPeak)
      m.put("query.untraced_p50_ms", Stats.median(exactMs))
    }
    rec.accounting(TimeoutNs)
  }

  /** Per-layer self times (median per traced query), planner phases and
    * Spark counts (mean per query, by job group).
    */
  private def layerMetrics(ctx: Ctx, recs: Seq[Rec], traced: Int => Boolean,
                           phases: ConcurrentHashMap[String, Map[String, Long]],
                           m: mutable.Map[String, Double]): Unit = {
    val self = ctx.tracer.selfMsByName
    def med(name: String): Double = self.get(name).map(Stats.median).getOrElse(0.0)
    Seq("query.parse" -> "query.parse_ms", "index.stats" -> "index.stats_ms",
      "query.lower" -> "query.lower_ms", "query.plan" -> "query.plan_ms",
      "query.execute" -> "query.execute_ms", "query" -> "query.self_ms",
      "wand.plan" -> "wand.plan_ms", "wand.execute" -> "wand.execute_ms")
      .foreach { case (span, metric) => m.put(metric, med(span)) }
    val tracedExact = recs.filter(r => r.ok && r.kind == "exact" &&
      traced(r.label.drop(1).toInt))
    if (tracedExact.nonEmpty) {
      val p50 = Stats.median(tracedExact.map(_.ms))
      m.put("query.traced_p50_ms", p50)
      m.put("query.layers_sum_ms", Seq("query.parse", "index.stats",
        "query.lower", "query.plan", "query.execute", "query").map(med).sum)
    }
    val ph = phases.asScala.filter { case (l, _) => l.startsWith("e") }.values.toSeq
    Seq("analysis" -> "query.analyze_ms", "optimization" -> "query.optimize_ms",
      "planning" -> "query.physplan_ms").foreach { case (p, metric) =>
      m.put(metric, if (ph.isEmpty) 0.0
        else Stats.median(ph.map(_.getOrElse(p, 0L).toDouble)))
    }
    def perQuery(kind: String): Seq[SparkLog.Agg] =
      recs.filter(r => r.ok && r.kind == kind).map(r => ctx.log.inGroup(r.label))
    val ex = perQuery("exact")
    def avg(xs: Seq[SparkLog.Agg])(f: SparkLog.Agg => Double): Double =
      Stats.mean(xs.map(f))
    m.put("spark.jobs", avg(ex)(_.jobs))
    m.put("spark.stages", avg(ex)(_.stages))
    m.put("spark.tasks", avg(ex)(_.tasks))
    m.put("spark.task_cpu_ms", avg(ex)(_.cpuMs))
    m.put("spark.task_run_ms", avg(ex)(_.runMs))
    m.put("spark.sched_delay_ms", avg(ex)(_.schedMs))
    m.put("spark.input_mb", avg(ex)(_.inputB) / 1048576.0)
    m.put("spark.shuffle_write_kb", avg(ex)(_.shuffleWriteB) / 1024.0)
    val wa = perQuery("wand")
    m.put("wand.jobs", avg(wa)(_.jobs))
    m.put("wand.tasks", avg(wa)(_.tasks))
    m.put("wand.shuffle_kb", avg(wa)(_.shuffleWriteB) / 1024.0)
  }
}
