package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's pure helpers: the tail rule, span self time, closed-loop
  * failure accounting, seed determinism, and BENCHMARK.json agreeing with
  * the metrics the program prints.
  */
class HelpersSpec extends AnyFunSuite {
  import Stats._

  test("percentiles are nearest-rank; the median averages the middle pair") {
    val xs = (1 to 10).map(_.toDouble)
    assert(percentile(xs, 50) == 5.0)
    assert(percentile(xs, 90) == 9.0)
    assert(percentile(xs, 100) == 10.0)
    assert(median(xs) == 5.5)
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("stratified median: the mean of the strata's medians") {
    assert(stratifiedMedian(Seq(2 -> 1.0, 2 -> 3.0, 3 -> 10.0)) == 6.0)
    // one sample more in the fast stratum moves the pooled median from
    // one cluster to the other, and the stratified one by a little
    val fast = Seq.fill(4)(2 -> 300.0) ++ Seq.fill(4)(3 -> 400.0)
    val more = fast :+ (2 -> 310.0)
    assert(median(fast.map(_._2)) == 350.0 && median(more.map(_._2)) == 310.0)
    assert(stratifiedMedian(fast) == 350.0 && stratifiedMedian(more) == 350.0)
  }

  test("tail rule: the highest percentile with at least 10 samples beyond it") {
    assert(beyond(100, 90) == 10)
    assert(tailPercentile(100).contains(90.0))
    assert(tailPercentile(99).contains(75.0))
    assert(tailPercentile(200).contains(95.0))
    assert(tailPercentile(1000).contains(99.0))
    assert(tailPercentile(10000).contains(99.9))
    assert(tailPercentile(20).contains(50.0))
    assert(tailPercentile(19).isEmpty)
  }

  test("span self time subtracts the union of children, clipped to the span") {
    assert(selfNs(0, 100, Nil) == 100)
    // [10,30] ∪ [20,50] = 40, plus [90,100] of [90,120] = 10
    assert(selfNs(0, 100, Seq((20L, 50L), (10L, 30L), (90L, 120L))) == 50)
    assert(selfNs(0, 100, Seq((0L, 100L))) == 0)
    assert(selfNs(50, 60, Seq((0L, 10L))) == 10)
  }

  test("tracer self times per layer sum to the root span") {
    val t = new Tracer
    t.span("q", "query") { root =>
      t.span("q", "query.parse", root)(_ => Thread.sleep(2))
      t.span("q", "query.execute", root)(_ => Thread.sleep(5))
    }
    val self = t.selfMsByName
    val root = t.spans.find(_.name == "query").get
    assert(self.keySet == Set("query", "query.parse", "query.execute"))
    assert(math.abs(self.values.flatten.sum - root.durNs / 1e6) < 1e-6)
  }

  private def op(end: Long, before: Set[Int] = Set.empty,
                 after: Set[Int] = Set.empty, threw: Boolean = false,
                 ms: Long = 1, conf: Boolean = false): Attempt =
    Attempt(end, ms * 1000000L, threw, conf, before, after)

  test("failure accounting: thrown, timed out and conf-changing ops fail") {
    val ops = IndexedSeq(op(1), op(2, threw = true), op(3, ms = 5000),
      op(4, conf = true))
    assert(failedAttempts(ops, 1000L * 1000000L, Set.empty) == Set(1, 2, 3))
  }

  test("failure accounting: a left-over cache is charged to one op only") {
    // two clients: A persists 5 and releases it; B persists 6 and leaks it;
    // both after-snapshots see the other's in-flight id
    val a = op(10, before = Set.empty, after = Set(5, 6))
    val b = op(12, before = Set(5), after = Set(5, 6))
    assert(failedAttempts(IndexedSeq(a, b), Long.MaxValue, Set.empty).isEmpty)
    // 6 appeared during both: the earlier-ending op (A) takes the blame
    assert(failedAttempts(IndexedSeq(a, b), Long.MaxValue, Set(6)) == Set(0))
    // 5 was already there when B started: only A can own it
    assert(failedAttempts(IndexedSeq(b, a), Long.MaxValue, Set(5)) == Set(1))
    // a cache present before the loop is nobody's leak
    assert(failedAttempts(IndexedSeq(b), Long.MaxValue, Set(7)).isEmpty)
  }

  test("closed loop: an op that throws is reported and the loop goes on") {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threw = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    ClosedLoop.drive(2, 0.05, 1.0, () => (), (i, _) => threw.add(i)) { (_, i) =>
      ran.add(i)
      Thread.sleep(5)
      if (i % 3 == 1) sys.error(s"check of op $i failed")
    }
    import scala.jdk.CollectionConverters._
    assert(ran.size > 3)
    assert(threw.asScala.toSet == ran.asScala.filter(_ % 3 == 1).toSet)
  }

  test("closed loop: the first minOps ops run even past the deadline") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    ClosedLoop.drive(1, 0.0, 1.0, () => (), (_, _) => (), minOps = 3) { (_, _) =>
      ran.incrementAndGet()
    }
    assert(ran.get == 3)
  }

  test("seed determinism: same seed, byte-identical pages and queries") {
    def pages(seed: Long) = (0L until 50L).map { i =>
      val p = new Inputs(seed).page(i)
      (p.url, p.text, p.html.toSeq, p.lang, p.warc_ts)
    }
    def queries(seed: Long) = {
      val in = new Inputs(seed)
      (Inputs.bags(in.rng("bow"), 40), in.scatteredRows(5000, 10))
    }
    assert(pages(7) == pages(7))
    assert(queries(7) == queries(7))
    assert(pages(7) != pages(8))
    assert(queries(7)._1 != queries(8)._1)
    assert(queries(7)._2 != queries(8)._2)
  }

  test("generated queries have the documented shape") {
    val bags = Inputs.bags(new Inputs(3).rng("bow"), 300)
    bags.zipWithIndex.foreach { case (bag, i) =>
      val ranked = bag.filter(_.matches("w\\d+")).map(_.drop(1).toInt)
      assert(ranked.head < 50, bag)
      assert(ranked.tail.forall(r => r >= 50 && r <= 3000), bag)
      assert(ranked.length == 2 + i % 3, bag)
      assert(bag.length - ranked.length == (if (i % 10 == 4 || i % 10 == 9) 1 else 0), bag)
    }
    // the heads of the first 12 bags of each length put one or more in
    // each quarter of ranks 0–49, under every seed
    (1 to 5).foreach { seed =>
      val first = Inputs.bags(new Inputs(seed).rng("bow"), 36)
      (2 to 4).foreach { len =>
        val heads = first.filter(_.count(_.matches("w\\d+")) == len)
          .map(_.head.drop(1).toInt)
        assert(heads.length == 12)
        assert(heads.map(_ * 4 / 50).toSet == Set(0, 1, 2, 3), heads)
      }
    }
    // the first 30 mid terms put at least two in each tenth of 50–3000,
    // under every seed
    (1 to 5).foreach { seed =>
      val mids = Inputs.bags(new Inputs(seed).rng("bow"), 30).flatMap(_.tail)
        .filter(_.matches("w\\d+")).map(_.drop(1).toInt).take(30)
      val perTenth = mids.groupBy(r => (r - 50) * 10 / 2951).view.mapValues(_.size)
      assert((0 until 10).forall(b => perTenth.getOrElse(b, 0) >= 2), mids)
    }
  }

  test("BENCHMARK.json names exactly the metrics and workloads printed") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val json = parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCHMARK.json")), "UTF-8"))
    def pairs(key: String): Seq[(String, String)] = (json \ key).children.map { m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString)
    }
    assert(pairs("end_to_end") == Main.EndToEnd)
    assert(pairs("per_layer") == Main.PerLayer)
    val workloads = (json \ "workloads").children.map(w => (w \ "name").values.toString)
    assert(workloads == Main.Workloads)
  }

  test("result line has the four keys, values with all their digits") {
    val line = Main.resultJson(correct = true, 10, 0,
      Seq(("op_p50_ms", 512.0123456789, "ms"), ("setup_s", 12.0, "s")))
    assert(line == """{"correct":true,"attempted":10,"failed":0,""" +
      """"metrics":{"op_p50_ms":{"value":512.0123456789,"unit":"ms"},""" +
      """"setup_s":{"value":12.0,"unit":"s"}}}""")
  }
}
