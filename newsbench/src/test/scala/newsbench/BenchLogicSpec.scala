package newsbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: statistics, span accounting, the input
  * generator and the output checks. No Spark session needed. */
class BenchLogicSpec extends AnyFunSuite {

  test("median and nearest-rank percentiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Seq(7.0), 0.99) == 7.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("the highest reported percentile keeps at least ten samples beyond it") {
    assert(Stats.highestSupported(9).isEmpty)
    assert(Stats.highestSupported(20).contains(0.5))
    assert(Stats.highestSupported(39).contains(0.5))
    assert(Stats.highestSupported(40).contains(0.75))
    assert(Stats.highestSupported(100).contains(0.9))
    assert(Stats.highestSupported(200).contains(0.95))
    assert(Stats.highestSupported(1000).contains(0.99))
    for (n <- 1 to 2000; q <- Stats.highestSupported(n))
      assert((xsAbove(n, q)) >= 10, s"n=$n q=$q")
  }

  /** Samples strictly above the q-percentile of 1..n. */
  private def xsAbove(n: Int, q: Double): Int = {
    val xs = (1 to n).map(_.toDouble)
    xs.count(_ > Stats.percentile(xs, q))
  }

  test("report timing adds the supported high percentile with its sample count") {
    val r = new Report
    r.timing("x_ms", "ms", (1 to 100).map(_.toDouble))
    assert(r.e2e("x_ms.p50") == ((50.5, "ms", 100)))
    assert(r.e2e("x_ms.p90") == ((90.0, "ms", 100)))
    val few = new Report
    few.timing("y_ms", "ms", Seq(1.0, 2.0, 3.0))
    assert(few.e2e.keySet == Set("y_ms.p50"))
  }

  test("a loop that looks at the clock every n ops runs whole sequences") {
    def ops(seconds: Double, minOps: Int, every: Int): Int = {
      val ctx = new Ctx(null, 1L, seconds, 1, "unused", None, warm = false)
      var n = 0
      ctx.loop(minOps, every) { _ => n += 1 }
      n
    }
    assert(ops(0.0, 1, 1) == 1)
    assert(ops(0.0, 10, 10) == 10)
    assert(ops(0.0, 3, 10) == 10)
    val slow = new Ctx(null, 1L, 0.05, 1, "unused", None, warm = false)
    var n = 0
    slow.loop(1, every = 4) { _ => n += 1; Thread.sleep(20) }
    assert(n == 4)
  }

  test("weighted median weighs each sample") {
    assert(Stats.weightedMedian(Seq(1.0 -> 1.0, 2.0 -> 1.0, 3.0 -> 1.0)) == 2.0)
    // One heavy sample outweighs three light ones.
    assert(Stats.weightedMedian(Seq(1.0 -> 0.1, 2.0 -> 0.1, 3.0 -> 0.1, 9.0 -> 0.9)) == 9.0)
    // Equal halves: the lower value reaches half the weight first.
    assert(Stats.weightedMedian(Seq(5.0 -> 0.5, 7.0 -> 0.5)) == 5.0)
    intercept[IllegalArgumentException](Stats.weightedMedian(Seq(1.0 -> 0.0)))
  }

  test("slope of a per-batch series, batches numbered with gaps") {
    assert(Stats.slope(Seq(1.0 -> 5.0)) == 0.0)
    assert(Stats.slope(Seq(2.0 -> 5.0, 2.0 -> 7.0)) == 0.0)
    assert(math.abs(Stats.slope(Seq(1.0 -> 1.0, 2.0 -> 3.0, 3.0 -> 5.0, 4.0 -> 7.0)) - 2.0) < 1e-12)
    assert(math.abs(Stats.slope(Seq(1.0 -> 10.0, 3.0 -> 16.0, 4.0 -> 19.0)) - 3.0) < 1e-12)
    assert(math.abs(Stats.slope(Seq(1.0 -> 4.0, 2.0 -> 4.0, 5.0 -> 4.0))) < 1e-12)
  }

  private def span(id: Int, a: Long, b: Long, parent: Int = -1) =
    Span(id, s"s$id", parent, 0L, a, b, a, b)

  test("self time subtracts the union of child intervals, clipped to the parent") {
    val p = span(1, 0, 100)
    assert(Trace.selfNs(p, Nil) == 100)
    assert(Trace.selfNs(p, Seq(span(2, 10, 30, 1))) == 80)
    // Overlapping children count once.
    assert(Trace.selfNs(p, Seq(span(2, 10, 30, 1), span(3, 20, 50, 1))) == 60)
    // Disjoint children and a child running past the parent's end.
    assert(Trace.selfNs(p, Seq(span(2, 0, 10, 1), span(3, 90, 150, 1))) == 80)
    // A child nested inside another adds nothing.
    assert(Trace.selfNs(p, Seq(span(2, 10, 60, 1), span(3, 20, 30, 1))) == 50)
    assert(Trace.selfNs(p, Seq(span(2, 0, 100, 1))) == 0)
  }

  test("the generator is a pure function of its seed") {
    def draw(seed: Long) = {
      val g = new Gen(seed)
      val corpus = g.corpus(50)
      val b1 = g.batch(40, corpus)
      val b2 = g.batch(40, corpus ++ b1)
      (corpus, b1, b2, g.interactions(20, corpus.map(d => s"d${d.id}"), 3))
    }
    assert(draw(42) == draw(42))
    assert(draw(42) != draw(43))
  }

  test("a batch follows the mix shares and only re-posts earlier docs") {
    val g = new Gen(7)
    val corpus = g.corpus(30)
    val b = g.batch(100, corpus)
    val kinds = b.groupBy(_.kind).map { case (k, ds) => k -> ds.size }
    assert(kinds == Gen.Mix.map { case (k, s) => k -> math.round(100 * s).toInt }.toMap)
    val reposts = b.filter(d => d.kind == Gen.Exact || d.kind == Gen.Edited)
    assert(reposts.forall(d => corpus.exists(_.id == d.source)))
    assert(b.filter(_.kind == Gen.Exact).forall(d => corpus.find(_.id == d.source).get.text == d.text))
    assert(b.filter(_.kind == Gen.Edited).forall(d => corpus.find(_.id == d.source).get.text != d.text))
    assert(b.map(_.id).distinct.size == b.size)
  }

  test("Zipf draws favour low ranks and stay in range") {
    val z = new Zipf(50, 1.1, new scala.util.Random(1))
    val xs = Seq.fill(5000)(z.next())
    assert(xs.forall(x => x >= 0 && x < 50))
    assert(xs.count(_ == 0) > xs.count(_ == 10) * 5)
  }

  private val fresh = Doc(1, "first seen text", 0, Gen.Fresh)
  private val stored = Doc(2, "stored text", 0, Gen.Fresh)
  private val repost = Doc(3, "stored text", 0, Gen.Exact, 2)
  private val edited = Doc(4, "stored text edited", 0, Gen.Edited, 2)
  private val junk = Doc(5, "$$ ##", 0, Gen.Junk)
  private val batch = Seq(fresh, repost, edited, junk)
  private val good = Map(1L -> "admitted", 3L -> "duplicate", 4L -> "semantic_duplicate", 5L -> "rejected")

  test("verdict checks pass a correct batch") {
    assert(Checks.verdicts(batch, good, Set(stored.text)).isEmpty)
    // Curation may reject a re-post before the duplicate probe sees it.
    val rejected = good.updated(3L, "rejected") + (6L -> "duplicate")
    assert(Checks.verdicts(batch :+ Doc(6, "stored text", 0, Gen.Exact, 2), rejected,
      Set(stored.text)).isEmpty)
  }

  test("verdict checks catch a missed re-post, a false duplicate, a missing doc and a degenerate mix") {
    assert(Checks.verdicts(batch, good.updated(3L, "admitted"), Set(stored.text))
      .exists(_.contains("repeats stored text")))
    assert(Checks.verdicts(batch, good.updated(1L, "duplicate"), Set(stored.text))
      .exists(_.contains("first-seen")))
    assert(Checks.verdicts(batch, good - 4L, Set(stored.text)).exists(_.contains("no verdict")))
    val noSemantic = good.updated(4L, "admitted")
    assert(Checks.verdicts(batch, noSemantic, Set(stored.text)) ==
      Seq("no doc got verdict semantic_duplicate"))
  }

  test("landing, lookup and upsert checks") {
    assert(Checks.landed(Seq("a", "b"), Map("a" -> "s1", "b" -> "s2")).isEmpty)
    assert(Checks.landed(Seq("a", "b"), Map("a" -> "s1")).size == 1)
    assert(Checks.landed(Seq("a"), Map("a" -> null)).size == 1)
    assert(Checks.recs(Seq("s1" -> 1.0), 10, Set("s1")).isEmpty)
    assert(Checks.recs(Seq.fill(11)("s1" -> 1.0), 10, Set("s1")).nonEmpty)
    assert(Checks.recs(Seq("zz" -> 1.0), 10, Set("s1")).nonEmpty)
    assert(Checks.story("s1", 1, exists = true).isEmpty)
    assert(Checks.story("x", 0, exists = false).isEmpty)
    assert(Checks.story("x", 1, exists = false).nonEmpty)
    assert(Checks.search(10, 10).isEmpty && Checks.search(9, 10).nonEmpty)
    assert(Checks.upserted("u", Map("s" -> 0.5), Map("s" -> 0.5)).isEmpty)
    assert(Checks.upserted("u", Map("s" -> 0.5), Map("s" -> 0.4)).nonEmpty)
  }

  test("hybrid recommendation invariants") {
    val ok = Seq(("u1", "s1", 0.9, 1), ("u1", "s2", 0.5, 2), ("u2", "s2", 0.7, 1), ("u2", "s1", 0.7, 2))
    assert(Checks.hybrid(ok, Seq("u1", "u2"), 2, Set("s1", "s2")).isEmpty)
    assert(Checks.hybrid(ok, Seq("u1", "u2", "u3"), 2, Set("s1", "s2")).nonEmpty)
    assert(Checks.hybrid(ok.take(3), Seq("u1", "u2"), 2, Set("s1", "s2")).nonEmpty)
    assert(Checks.hybrid(ok.updated(1, ("u1", "s2", 0.95, 2)), Seq("u1", "u2"), 2, Set("s1", "s2")).nonEmpty)
    assert(Checks.hybrid(ok.updated(1, ("u1", "s2", 0.5, 3)), Seq("u1", "u2"), 2, Set("s1", "s2")).nonEmpty)
    assert(Checks.hybrid(ok, Seq("u1", "u2"), 2, Set("s1")).nonEmpty)
  }
}
