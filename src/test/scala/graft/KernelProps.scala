package graft

import graft.streaming.{Incoming, OnlineClustering, StoryState}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties over the pure kernels (no SparkSession needed). */
object KernelProps extends Properties("kernels") {

  private val vecGen: Gen[Array[Double]] =
    Gen.listOfN(6, Gen.choose(-5.0, 5.0)).map(_.toArray)
      .suchThat(v => v.exists(_ != 0.0))

  private val batchGen: Gen[List[Incoming]] = for {
    n <- Gen.choose(1, 12)
    vs <- Gen.listOfN(n, vecGen)
  } yield vs.zipWithIndex.map { case (v, i) => Incoming(s"a$i", v) }

  property("foldBatch assigns every input exactly once") = forAll(batchGen) { batch =>
    val (assigned, _) = OnlineClustering.foldBatch(batch, Seq.empty, 0.9, i => s"n-$i")
    assigned.map(_.id).sorted == batch.map(_.id).sorted
  }

  property("foldBatch conserves member counts") = forAll(batchGen) { batch =>
    val (_, state) = OnlineClustering.foldBatch(batch, Seq.empty, 0.9, i => s"n-$i")
    state.map(_.n).sum == batch.length.toLong
  }

  property("foldBatch with threshold -2 puts everything in the first story") =
    forAll(batchGen) { batch =>
      val (assigned, state) = OnlineClustering.foldBatch(batch, Seq.empty, -2.0, i => s"n-$i")
      state.length == 1 && assigned.count(_.isNew) == 1
    }

  property("foldBatch with threshold > 1 isolates every record") =
    forAll(batchGen) { batch =>
      val (assigned, state) = OnlineClustering.foldBatch(batch, Seq.empty, 1.5, i => s"n-$i")
      state.length == batch.length && assigned.forall(_.isNew)
    }

  property("foldBatch is deterministic") = forAll(batchGen) { batch =>
    val a = OnlineClustering.foldBatch(batch, Seq.empty, 0.7, i => s"n-$i")
    val b = OnlineClustering.foldBatch(batch, Seq.empty, 0.7, i => s"n-$i")
    a._1 == b._1 && a._2.map(s => (s.storyId, s.n)) == b._2.map(s => (s.storyId, s.n))
  }

  private val storySetGen: Gen[List[StoryState]] = for {
    n <- Gen.choose(0, 25)
    vs <- Gen.listOfN(n, vecGen)
  } yield vs.zipWithIndex.map { case (v, i) => StoryState(f"s$i%03d", v, (i % 3) + 1L) }

  // The ST4 scale argument as a law, not a fixture: folding against the
  // grid-cell candidate subset gives the SAME assignments and the SAME
  // candidate-story trajectories as folding against every story — for
  // arbitrary batches and story sets, because the epsilon-grid bound has
  // exact recall at the threshold.
  property("candidate-pruned fold ≡ full fold (assignments + trajectories)") =
    forAll(batchGen, storySetGen) { (batch, stories) =>
      val t = 0.9
      val cells = OnlineClustering.candidateCells(batch, t, 2)
      val cand = stories.filter(s =>
        cells.contains(OnlineClustering.homeCell(s.centroid, t, 2)))
      val (fullA, fullS) = OnlineClustering.foldBatch(batch, stories, t, i => s"n-$i")
      val (prunedA, prunedS) = OnlineClustering.foldBatch(batch, cand, t, i => s"n-$i")
      val assignEq = fullA.map(a => (a.id, a.storyId, a.isNew)) ==
        prunedA.map(a => (a.id, a.storyId, a.isNew))
      val joinSimEq = fullA.filterNot(_.isNew).map(a => (a.id, a.sim)) ==
        prunedA.filterNot(_.isNew).map(a => (a.id, a.sim))
      val touched = prunedS.map(s => s.storyId -> s).toMap
      val trajEq = fullS.filter(s => touched.contains(s.storyId)).forall { s =>
        val p = touched(s.storyId)
        p.n == s.n && p.centroid.sameElements(s.centroid)
      }
      assignEq && joinSimEq && trajEq
    }

  // Same law under a PROJECTED grid: any ≤-unit-norm basis preserves the
  // per-coordinate bound (Cauchy-Schwarz), so candidates from projected
  // cells still contain every ≥-threshold story — for arbitrary (not
  // necessarily orthogonal) directions.
  property("basis-projected pruning preserves the fold equivalence") =
    forAll(batchGen, storySetGen, vecGen, vecGen) { (batch, stories, h1, h2) =>
      val t = 0.9
      def unit(h: Array[Double]) = {
        val n = math.sqrt(h.map(x => x * x).sum)
        h.map(_ / n)
      }
      val basis = Seq(unit(h1), unit(h2))
      val cells = OnlineClustering.candidateCells(batch, t, 2, basis)
      val cand = stories.filter(s =>
        cells.contains(OnlineClustering.homeCell(s.centroid, t, 2, basis)))
      val (fullA, fullS) = OnlineClustering.foldBatch(batch, stories, t, i => s"n-$i")
      val (prunedA, prunedS) = OnlineClustering.foldBatch(batch, cand, t, i => s"n-$i")
      val assignEq = fullA.map(a => (a.id, a.storyId, a.isNew)) ==
        prunedA.map(a => (a.id, a.storyId, a.isNew))
      val joinSimEq = fullA.filterNot(_.isNew).map(a => (a.id, a.sim)) ==
        prunedA.filterNot(_.isNew).map(a => (a.id, a.sim))
      val touched = prunedS.map(s => s.storyId -> s).toMap
      val trajEq = fullS.filter(s => touched.contains(s.storyId)).forall { s =>
        val p = touched(s.storyId)
        p.n == s.n && p.centroid.sameElements(s.centroid)
      }
      assignEq && joinSimEq && trajEq
    }

  private val scoredGen: Gen[List[graft.functions.Scored]] = for {
    n <- Gen.choose(0, 40)
    xs <- Gen.listOfN(n, Gen.zip(Gen.choose(-1.0, 1.0), Gen.choose(0L, 20L)))
  } yield xs.map { case (s, i) => graft.functions.Scored(s, i) }

  property("TopKAgg equals sort-prefix regardless of arrival order and merge splits") =
    forAll(scoredGen, Gen.choose(1, 8)) { (xs, k) =>
      val agg = new graft.functions.TopKAgg(k)
      // arbitrary split into partials, merged — must equal the global sorted prefix
      val (l, r) = xs.splitAt(xs.length / 2)
      val bufL = l.foldLeft(agg.zero)(agg.reduce)
      val bufR = r.foldLeft(agg.zero)(agg.reduce)
      val got = agg.finish(agg.merge(bufL, bufR))
      val want = xs.sortBy(s => (-s.score, s.id)).take(k)
      got == want
    }

  property("TopKAggS (string keys) equals sort-prefix under merge splits") =
    forAll(scoredGen, Gen.choose(1, 8)) { (xs, k) =>
      val ss = xs.map(s => graft.functions.ScoredS(s.score, s"id-${s.id}"))
      val agg = new graft.functions.TopKAggS(k)
      val (l, r) = ss.splitAt(ss.length / 3)
      val got = agg.finish(agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)))
      got == ss.sortBy(s => (-s.score, s.id)).take(k)
    }

  // Scores drawn from a few values (ties) plus NaN, ids with repeats.
  private val tiedGen: Gen[List[graft.functions.Scored]] = for {
    n <- Gen.choose(0, 200)
    xs <- Gen.listOfN(n, Gen.zip(
      Gen.oneOf(0.5, 0.25, -0.0, 0.0, -1.0, Double.NaN), Gen.choose(0L, 30L)))
  } yield xs.map { case (s, i) => graft.functions.Scored(s, i) }

  property("TopKAgg and TopKAggS buffers never exceed k; ties and NaN as sort-prefix") =
    forAll(tiedGen, Gen.choose(1, 8)) { (xs, k) =>
      val agg = new graft.functions.TopKAgg(k)
      val buf = agg.zero
      val sizes = xs.map(a => agg.reduce(buf, a).length)
      val (l, r) = xs.splitAt(xs.length / 3)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      val ss = xs.map(s => graft.functions.ScoredS(s.score, f"id-${s.id}%03d"))
      val aggS = new graft.functions.TopKAggS(k)
      val bufS = ss.foldLeft(aggS.zero)(aggS.reduce)
      sizes.forall(_ <= k) && merged.length <= k && bufS.length <= k &&
        agg.finish(merged) == xs.sortBy(s => (-s.score, s.id)).take(k) &&
        aggS.finish(bufS) == ss.sortBy(s => (-s.score, s.id)).take(k)
    }

  import org.apache.spark.unsafe.types.UTF8String
  private def cdc(s: String, w: Int, m: Long): List[Int] =
    graft.functions.SigKernels
      .cdcBoundaries(UTF8String.fromString(s), w, m).toIntArray().toList

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 300)
    cs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.const(' '), 1 -> Gen.oneOf('é', 'ü', '中')))
  } yield cs.mkString

  property("cdcBoundaries: strictly increasing, last == codepoint count") =
    forAll(textGen, Gen.choose(1, 16), Gen.oneOf(0L, 7L, 31L)) { (s, w, m) =>
      val b = cdc(s, w, m)
      val n = s.codePointCount(0, s.length)
      (n == 0 && b.isEmpty) ||
        (b.last == n && b.head >= 1 && b.zip(b.tail).forall { case (a, c) => a < c })
    }

  property("cdcBoundaries: concatenating the chunks reconstructs the text") =
    forAll(textGen, Gen.choose(1, 12)) { (s, w) =>
      val b = cdc(s, w, 15L)
      val cps = s.codePoints().toArray
      val chunks = (0 :: b.dropRight(1)).zip(b).map { case (from, to) =>
        new String(cps, from, to - from) }
      chunks.mkString == s
    }

  // Soundness lemma of the cell-sticky value-addressed read (PLANS.md):
  // if a story's CURRENT cell is in the radius-1 candidate neighborhood
  // of some batch vector and its sticky cell is within one cell of the
  // current one per coordinate (the re-homing invariant), then the
  // sticky cell lies in the radius-2 neighborhood — so reading the
  // radius-2 buckets can never miss a candidate story.
  property("radius-2 sticky read covers every ±1-drifted radius-1 candidate") =
    forAll(batchGen, Gen.choose(0.05, 0.95),
      Gen.listOfN(6, Gen.choose(-1, 1))) { (batch, t, drift) =>
      val dims = 2
      val n1 = OnlineClustering.candidateCells(batch, t, dims)
      val n2 = OnlineClustering.candidateCells(batch, t, dims, radius = 2)
      n1.forall { current =>
        val sticky = current.zip(drift).map { case (c, d) => c + d }
        n2.contains(sticky)
      }
    }

  // Truncation lemma of the coarse layout key (StreamingJob layoutDims):
  // the cell key over a basis PREFIX is exactly the coordinate prefix of
  // the full-basis key, so per-coordinate containment arguments (and the
  // radius-2 superset above) survive truncating the layout key to its
  // leading directions while the row filter keeps the full basis.
  property("cell key over a basis prefix == coordinate prefix of the full key") =
    forAll(batchGen, Gen.choose(0.05, 0.95), Gen.choose(1, 3)) { (batch, t, k) =>
      val basis = Seq(
        Array(0.6, 0.0, 0.8, 0.0), Array(0.0, 1.0, 0.0, 0.0),
        Array(0.5, 0.5, 0.5, 0.5), Array(0.0, 0.0, 0.0, 1.0))
      batch.forall { a =>
        val full = OnlineClustering.homeCell(a.vec, t, 2, basis)
        val pre = OnlineClustering.homeCell(a.vec, t, 2, basis.take(k))
        pre == full.take(k)
      }
    }

  property("cdcBoundaries: appending a suffix never changes interior boundaries") =
    forAll(textGen, textGen, Gen.choose(2, 10)) { (s, suffix, w) =>
      val before = cdc(s, w, 15L)
      val after = cdc(s + suffix, w, 15L)
      val n = s.codePointCount(0, s.length)
      // every interior (mask-hit) boundary of `s` survives in s+suffix —
      // only the forced final boundary at n may disappear
      before.dropRight(1).forall(after.contains) &&
        (before.isEmpty || before.last == n)
    }

  // ───────────────────── FFD packing (expression kernel) ─────────────────────

  private def runFfd(items: Seq[(Long, Long)], cap: Long): Seq[(Long, Long, Int)] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    val in = new GenericArrayData(items.map { case (id, len) =>
      InternalRow(id, len) }.toArray[Any])
    graft.functions.FfdPack(Literal(null), cap).nullSafeEval(in)
      .asInstanceOf[GenericArrayData].array.toSeq.map { r =>
        val row = r.asInstanceOf[InternalRow]
        (row.getLong(0), row.getLong(1), row.getInt(2))
      }
  }

  private val itemsGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 40)
    lens <- Gen.listOfN(n, Gen.choose(1L, 120L))
  } yield lens.zipWithIndex.map { case (l, i) => (i.toLong, l) }

  property("ffd: every item assigned once; no bin overfull; oversize <=> bin -1") =
    forAll(itemsGen) { items =>
      val out = runFfd(items, 64L)
      val loads = out.filter(_._3 != -1).groupBy(_._3).view.mapValues(_.map(_._2).sum)
      out.map(_._1).sorted == items.map(_._1).sorted &&
        loads.values.forall(_ <= 64L) &&
        out.forall { case (_, len, bin) => (bin == -1) == (len > 64L) } &&
        (loads.isEmpty || loads.keys.toSeq.sorted == (1 to loads.size))
    }

  property("ffd: input order never matters") = forAll(itemsGen) { items =>
    runFfd(items, 64L).toSet == runFfd(items.reverse, 64L).toSet
  }

  // ─────────────────────── MMR selection (expression kernel) ──────────────────

  private def runMmr(cand: Seq[(Long, Double, Array[Float])], k: Int, lt: Int)
      : Seq[(Long, Int, Double)] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    val in = new GenericArrayData(cand.map { case (id, rel, v) =>
      InternalRow(id, rel, new GenericArrayData(v.map(x => x: Any))) }.toArray[Any])
    graft.functions.MmrSelect(Literal(null), k, lt).nullSafeEval(in)
      .asInstanceOf[GenericArrayData].array.toSeq.map { r =>
        val row = r.asInstanceOf[InternalRow]
        (row.getLong(0), row.getInt(1), row.getDouble(2))
      }
  }

  private val candGen: Gen[List[(Long, Double, Array[Float])]] = for {
    n <- Gen.choose(1, 15)
    rels <- Gen.listOfN(n, Gen.choose(-1.0, 1.0))
    vecs <- Gen.listOfN(n, Gen.listOfN(4, Gen.choose(-1.0f, 1.0f)))
  } yield rels.zip(vecs).zipWithIndex.map { case ((r, v), i) =>
    (i.toLong, r, v.toArray) }

  property("mmr: selection is a distinct subset, ranked 1..min(k,n)") =
    forAll(candGen, Gen.choose(1, 20), Gen.choose(0, 10)) { (cand, k, lt) =>
      val out = runMmr(cand, k, lt)
      out.map(_._1).distinct.size == out.size &&
        out.map(_._1).toSet.subsetOf(cand.map(_._1).toSet) &&
        out.map(_._2) == (1 to math.min(k, cand.size)) &&
        out.size == math.min(k, cand.size)
    }

  property("mmr: candidate order never matters") =
    forAll(candGen, Gen.choose(1, 8)) { (cand, k) =>
      runMmr(cand, k, 7) == runMmr(cand.reverse, k, 7)
    }

  property("mmr: lambda = 1.0 is relevance order (micro-unit ties on id)") =
    forAll(candGen, Gen.choose(1, 8)) { (cand, k) =>
      val out = runMmr(cand, k, 10).map(_._1)
      val want = cand.sortBy(c => (-math.round(c._2 * 1e6), c._1)).take(k).map(_._1)
      out == want
    }

  // ─────────────── quantile sketch: mergeable at rank-exactness ───────────────

  property("quantile sketch: any merge grouping answers like one digest (rank-exact)") =
    forAll(Gen.listOfN(3, Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6)))) { groups =>
      import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile.PercentileDigest
      val qs = Array(0.1, 0.5, 0.9)
      def digest(vs: Seq[Double]) = {
        val d = new PercentileDigest(1.0 / (1 << 20)); vs.foreach(d.add); d
      }
      val single = digest(groups.flatten).getPercentiles(qs)
      val folded = {
        val ds = groups.map(digest)
        val acc = ds.head
        ds.tail.foreach(acc.merge)
        acc.getPercentiles(qs)
      }
      single == folded
    }
}
