package graft.operators

import graft.sources.{AdditiveStore, BucketedParts}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Standing suffix-array serving state — the persisted form of
 * [[SuffixArrayOps.longestCorpusMatch]] (the unbounded ∞-gram probe of
 * Liu et al. 2024, served in that paper from an on-disk suffix array;
 * the in-memory form here rebuilds the union (corpus + queries) SA on
 * EVERY call, O(corpus · log) per probe batch — the exact shape
 * [[SpanPosStore]] closed for the shingle family).
 *
 * WHAT IS PERSISTED — positions, not ranks. Suffix-array RANKS are
 * global: one appended suffix can shift every rank, so a stored rank
 * order would force a full rebuild per append (the r16 verdict's own
 * observation). This store instead persists the family's serving
 * CAPABILITY — "is this exact token span somewhere in the corpus?" —
 * as a BINARY-LIFTED positional window index: one relation of
 * (doc id, position, 128-bit digest) rows for every window of width
 * 2^a, a = 0..A (the [[SpanPosStore]] relation at log-many widths).
 * Positions are facts about documents, so the relation is ADDITIVE:
 * append/remove are O(batch) ledger parts, no rebuild lifecycle at
 * all — strictly stronger than a rank store's staleness budget.
 *
 * WHY THAT SUFFICES — the two-window certificate (Lee et al. 2022's
 * ExactSubstr family; the classic doubling/fingerprint composition):
 * for 2^a <= L <= 2^(a+1), a token span of length L occurs at corpus
 * position (id, i) iff the width-2^a windows at (id, i) AND
 * (id, i + L - 2^a) both match the span's corresponding slices — the
 * two half-windows overlap, so together they pin all L tokens. So
 * "does the length-L query suffix occur?" is ONE digest-keyed
 * position join at level a; and since occurrence of a query suffix is
 * MONOTONE in its length (any suffix of an occurring suffix occurs),
 * the longest match is a BINARY SEARCH on L — ceil(log2 maxLen)
 * rounds, each a bucket-pruned, queries-hit-sized probe of one-or-few
 * levels. No occurrence cap anywhere: a span repeated 10^6 times is
 * 10^6 position rows per level, and the certificate join is an
 * equi-join on (id, exact position), output bounded by the smaller
 * side — never a pair fan-out.
 *
 * Storage shape (the [[graft.sources.AdditiveStore]] family):
 *
 *   dir/win/<part>/__a=A/__b=K/…  (id, i, h1, h2) — width-2^a windows,
 *                                  Hive-partitioned by (level, digest
 *                                  bucket) so probes open only the
 *                                  probed (level, bucket) dirs' FILES
 *   dir/tombs/<part>/             (id) tombstoned docs
 *   dir/_meta                     maxLen=<2^(A+1)>, buckets=<N>
 *
 * All widths generate in ONE corpus scan per init/append (a single
 * explode over levels × starts); [[remove]] is a doc-id tombstone —
 * positions are facts, so unlike the count stores no text replay is
 * needed. [[compact]] folds tombstones away; snapshot/restore/fsck +
 * [[graft.pipelines.Release]] kind "sa" complete the store-family
 * lifecycle; single-writer under the dir's
 * [[graft.sources.WriterLease]] (taken inside the ledger).
 *
 * LENGTH BUDGET — the one honest refusal: level A is fixed at init
 * (maxLen = 2^(A+1), defaulted to the init corpus's longest document
 * rounded up, never below the explicit `maxLen` floor), and a match
 * longer than 2^(A+1) has no certifying level. [[append]] therefore
 * REFUSES a batch whose longest document exceeds the budget (silently
 * under-reporting long matches is the bug; spec-pinned) — rebuild at a
 * fresh dir with a larger `maxLen` to grow it. Query length needs no
 * budget: the search clamps at maxLen, and no match can exceed the
 * longest stored document anyway.
 *
 * LAW (spec-pinned, SaStoreSpec): for a store holding exactly the
 * document set C (under any append/remove/compact/snapshot/restore
 * history), `SaStore.probe(store, queries)` ≡
 * `SuffixArrayOps.longestCorpusMatch(C, queries)` — exact equality
 * (mod the family's standing 128-bit digest-collision convention,
 * replayed against the independent DuckDB suffix-sort oracle at sf
 * scale by `x_sa_longest_match_stored`). Query ids must be unique
 * (the in-memory form's own contract).
 */
object SaStore extends AdditiveStore.Lifecycle {

  val kernel: AdditiveStore = AdditiveStore("suffix-array store",
    Seq("win", "tombs"), Some(AdditiveStore.Meta(Seq("maxLen", "buckets"))))

  /** The length budget the store was built at: the longest certifiable
    * match, = 2^(levels+1) for top level index `levels`. */
  def maxLen(dir: String): Int = meta(dir)._1

  def numBuckets(dir: String): Int = meta(dir)._2

  private def meta(dir: String): (Int, Int) = {
    val kv = kernel.readMeta(dir)
    (kv("maxLen").toInt, kv("buckets").toInt)
  }

  /** Top level index A for budget M = 2^(A+1). */
  private def topLevel(maxLen: Int): Int = 31 - Integer.numberOfLeadingZeros(maxLen) - 1

  private def pow2ceil(n: Int): Int = {
    var p = 2
    while (p < n) p *= 2
    p
  }

  private def bucketOf(h1: Column, nb: Int): Column =
    BucketedParts.bucketOf(h1, nb)

  /** Every width-2^a window of every level 0..A, one corpus scan:
    * (id, i, h1, h2, __a, __b). Ids are cast to long for a stable
    * parquet schema across parts — refused loudly when not castable
    * (a silent NULL id would orphan its rows from the position join).
    * Digests come from the compiled chained kernel
    * ([[graft.functions.WindowKernels.powerWindows]]) — ONE definition
    * with the probe side ([[candDigests]]' windowDigestPair, the same
    * chain); drift here would silently empty every match. The former
    * per-level nested-transform + `slice` + array-hash form was
    * interpreted per element (the ∞-gram generator's measured cost
    * shape); the kernel is one compiled forward chain per position,
    * emitting at each power width. */
  private def windowsOf(docs: DataFrame, idCol: String, textCol: String,
                        topA: Int, nb: Int): DataFrame = {
    requireLongIds(docs, idCol)
    docs
      .select(col(idCol).cast("long").as("id"),
        explode(graft.functions.windows.powerWindows(
          SpanDedup.toks(col(textCol)), topA)).as("__w"))
      .select(col("id"), col("__w.i").as("i"),
        col("__w.h1").as("h1"), col("__w.h2").as("h2"),
        col("__w.a").as("__a"), bucketOf(col("__w.h1"), nb).as("__b"))
  }

  private def requireLongIds(docs: DataFrame, idCol: String): Unit = {
    val bad = docs.agg(count(when(col(idCol).try_cast("long").isNull, 1)))
      .collect()(0).getLong(0)
    require(bad == 0L,
      s"id column '$idCol' must be non-null and numeric-castable: " +
        s"$bad rows cast to NULL as long")
  }

  private def emptyWin(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id"), lit(0).as("i"),
      lit(0L).as("h1"), lit(0L).as("h2"), lit(0).as("__a"), lit(0).as("__b"))

  /** One part's files: its level windows and its tombstone ids. */
  private def writePart(dir: String, name: String, win: DataFrame,
                        tombs: DataFrame, topA: Int, nb: Int): Unit = {
    BucketedParts.writePartitioned(kernel.path(dir, "win", name), win,
      Seq("__a", "__b"), (topA + 1) * nb)
    kernel.write(tombs, dir, "tombs", name)
  }

  private def noTombs(spark: SparkSession): DataFrame =
    emptyWin(spark).select(col("id")).limit(0)

  /** Every [[append]] admission check, with NO mutation — callable as
    * a PRE-flight by composite stores ([[graft.pipelines.Admission]]'s
    * absorb) whose other halves mutate first: a refusal surfacing only
    * mid-absorb would leave the sibling stores holding a batch this
    * store rejected. */
  private[graft] def requireAppendable(spark: SparkSession, dir: String,
                                       batch: DataFrame, idCol: String,
                                       textCol: String): Unit = {
    val budget = meta(dir)._1
    requireWithinBudget(batch, textCol, budget, dir)
    requireLongIds(batch, idCol)
    val tombs = kernel.readEach(spark, dir, "tombs", kernel.names(dir)).distinct()
    val clash = tombs
      .join(broadcast(batch.select(col(idCol).cast("long").as("id")).distinct()),
        Seq("id"), "left_semi")
      .limit(5).collect().map(_.get(0))
    require(clash.isEmpty,
      s"suffix-array store at '$dir' holds live tombstones for batch ids " +
        s"${clash.mkString(", ")} (…) — a re-appended tombstoned id would " +
        "be silently erased by the tombstone anti-join at read time; run " +
        "compact first (it folds tombstones away).")
  }

  private def requireWithinBudget(docs: DataFrame, textCol: String,
                                  budget: Int, dir: String): Unit = {
    val longest = docs.agg(max(size(SpanDedup.toks(col(textCol)))))
      .collect().headOption.flatMap(r => Option(r.get(0)))
      .map(_.asInstanceOf[Int]).getOrElse(0)
    require(longest <= budget,
      s"suffix-array store at '$dir' was built with maxLen=$budget but the " +
        s"batch holds a $longest-token document — matches beyond the budget " +
        "have no certifying level and would silently under-report; rebuild " +
        "at a fresh dir with a larger maxLen (init is run-once)")
  }

  /** O(corpus · log maxLen), once; REFUSES a previously-used dir (the
    * ledger's run-once contract). `maxLen` floors the length budget —
    * the default derives it from the corpus's longest document; set it
    * above that when future appends will carry longer documents. */
  def init(spark: SparkSession, dir: String, corpus: DataFrame,
           idCol: String, textCol: String, maxLen: Int = 0,
           numBuckets: Int = 64): Unit = {
    require(maxLen >= 0, s"maxLen must be >= 0 (0 = derive): $maxLen")
    require(numBuckets >= 1, s"numBuckets must be >= 1: $numBuckets")
    val longest = corpus.agg(max(size(SpanDedup.toks(col(textCol)))))
      .collect().headOption.flatMap(r => Option(r.get(0)))
      .map(_.asInstanceOf[Int]).getOrElse(0)
    val budget = pow2ceil(math.max(2, math.max(maxLen, longest)))
    val topA = topLevel(budget)
    kernel.init(dir, Seq("maxLen" -> budget.toString,
        "buckets" -> numBuckets.toString)) { n =>
      writePart(dir, n, windowsOf(corpus, idCol, textCol, topA, numBuckets),
        noTombs(spark), topA, numBuckets)
    }
  }

  /** O(batch · log maxLen) fold of NEW docs (disjoint ids — the family
    * contract); replay-idempotent by `name` at every crash point.
    * REFUSES a batch document longer than the length budget (see the
    * class note) and ids a live tombstone holds ([[SpanPosStore]]'s
    * silent-erasure rationale — [[compact]] first). */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             idCol: String, textCol: String,
             name: Option[String] = None): Unit = {
    // A replay of an ABSORBED named mutation is a documented no-op at
    // every crash point — short-circuit before the admission checks,
    // which legitimately fail for state that changed SINCE completion
    // (e.g. the appended ids were tombstoned later).
    if (name.exists(n => kernel.isAbsorbed(dir, n))) return
    requireAppendable(spark, dir, batch, idCol, textCol)
    val (budget, nb) = meta(dir)
    val topA = topLevel(budget)
    kernel.mutate(dir, name) { n =>
      writePart(dir, n, windowsOf(batch, idCol, textCol, topA, nb),
        noTombs(spark), topA, nb)
    }
  }

  /** Takedown: tombstone the docs — O(batch), no text replay needed
    * (positions are facts, not counts; the anti-join at read hides
    * every tombstoned row, [[compact]] drops them physically). */
  def remove(spark: SparkSession, dir: String, removedIds: DataFrame,
             idCol: String, name: Option[String] = None): Unit = {
    requireLongIds(removedIds, idCol)
    kernel.names(dir) // loud on an uninitialized store
    val (budget, nb) = meta(dir)
    val topA = topLevel(budget)
    kernel.mutate(dir, name) { n =>
      writePart(dir, n, emptyWin(spark),
        removedIds.select(col(idCol).cast("long").as("id")).distinct(), topA, nb)
    }
  }

  /** The assembled window relation (id, i, h1, h2, __a, __b),
    * tombstones applied. `levelBuckets` prunes the partitioned scan to
    * the probed (level → bucket list) set BEFORE assembly — the
    * probe's file-pruning lever (spec-pinned: the plan carries __a/__b
    * partition filters). With `tag`, the snapshot-pinned state. */
  def readWindows(spark: SparkSession, dir: String,
                  tag: Option[String] = None,
                  levelBuckets: Option[Map[Int, Seq[Int]]] = None): DataFrame = {
    val names = kernel.names(dir, tag)
    val wins0 = kernel.readEach(spark, dir, "win", names)
    val wins = levelBuckets.fold(wins0) { lb =>
      val f = lb.toSeq.sortBy(_._1).map { case (a, bs) =>
        col("__a") === a && BucketedParts.inBuckets(bs)
      }.reduceOption(_ || _).getOrElse(lit(false))
      wins0.filter(f)
    }
    val tombs = kernel.readEach(spark, dir, "tombs", names).distinct()
    wins.join(tombs, Seq("id"), "left_anti")
  }

  /** Scheduled fold: tombstoned rows dropped physically, parts merged
    * to one generation, single pruned-scan reads restored. */
  def compact(spark: SparkSession, dir: String): Unit =
    kernel.compact(dir) { (gen, old) =>
      val (budget, nb) = meta(dir)
      val tombs = kernel.readEach(spark, dir, "tombs", old).distinct()
        .localCheckpoint(true)
      writePart(dir, gen,
        kernel.readEach(spark, dir, "win", old).join(tombs, Seq("id"), "left_anti"),
        tombs.limit(0), topLevel(budget), nb)
    }

  /** Occurrence test for a batch of anchored (q_id, pos, L) candidates
    * — the probe kernel shared by the whole-suffix probe (pos = the
    * suffix start) and the per-position [[probeDupLengths]]. Returns
    * the candidates whose L-token span at `pos` occurs in the stored
    * corpus: the window scan is read under an (__a, __b) partition
    * filter built from the batch's digests (file-pruned to the probed
    * levels' buckets) and semi-joined to those digests, so only the
    * queries' corpus HITS are ever touched. Exact-power candidates
    * (off == 0) resolve by digest membership; the rest by the
    * (id, position) equi-join of the two half-windows' position lists
    * — output bounded by the smaller list, never a pair fan-out. */
  /** Candidate probes: level a (exact integer log2 via the
    * binary-string length — floor(log2) in floating point rounds the
    * wrong way near exact powers), width w = 2^a, and the two
    * half-window digests of the L-token span at pos. Shared by the
    * existence kernel ([[testLengths]]) and the counting kernel
    * ([[countOccurrences]]); checkpointed (queries-sized). */
  private def candDigests(qt: DataFrame, cand: DataFrame, topA: Int,
                          bcast: DataFrame => DataFrame): DataFrame = {
    val w = pow(lit(2.0), col("a")).cast("int")
    cand
      // qt is doc-level (one row per query doc) — the strictly smaller
      // side of this per-candidate join; as a checkpointed RDD scan it
      // has no stats, so without the hint every candDigests call paid a
      // two-exchange SMJ. Rides the family's broadcastProbes escape
      // hatch like every other probe-side broadcast.
      .join(bcast(qt), Seq("q_id"))
      .withColumn("a",
        least(length(conv(col("L").cast("string"), 10, 2)) - 1, lit(topA))
          .cast("int"))
      .withColumn("off", col("L") - w)
      // The two half-window digests chain through the SAME compiled
      // kernel as the stored side (windowsOf) — one definition.
      .withColumn("__da", graft.functions.windows.windowDigestPair(
        col("__t"), col("pos"), w))
      .withColumn("__db", graft.functions.windows.windowDigestPair(
        col("__t"), col("pos") + col("off"), w))
      .select(col("q_id"), col("pos"), col("L"), col("a"), col("off"),
        col("__da.h1").as("h1a"), col("__da.h2").as("h2a"),
        col("__db.h1").as("h1b"), col("__db.h2").as("h2b"))
      .localCheckpoint(true)
  }

  private def testLengths(spark: SparkSession, dir: String, qt: DataFrame,
                          cand: DataFrame, topA: Int, nb: Int,
                          tag: Option[String],
                          bcast: DataFrame => DataFrame): DataFrame = {
    val pq = candDigests(qt, cand, topA, bcast)
    // Membership probes (off == 0) need only digest EXISTENCE — their
    // small widths hit COMMON digests, and dragging those position
    // lists through a checkpoint was the probe's dominant cost. The
    // scan aggregates them to distinct digests map-side; only the
    // positional probes' (wider, rarer) digests keep their positions.
    val memKeys = pq.filter(col("off") === 0)
      .select(col("a"), col("h1a").as("h1"), col("h2a").as("h2")).distinct()
    val posKeys = pq.filter(col("off") > 0)
      .select(col("a"), col("h1a").as("h1"), col("h2a").as("h2"))
      .unionByName(pq.filter(col("off") > 0)
        .select(col("a"), col("h1b").as("h1"), col("h2b").as("h2")))
      .distinct()
    val levelBuckets = memKeys.unionByName(posKeys)
      .select(col("a"), bucketOf(col("h1"), nb).as("__b")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val scan = readWindows(spark, dir, tag, Some(levelBuckets))
      .withColumnRenamed("__a", "a")
    val lvlMem = scan.select(col("a"), col("h1"), col("h2"))
      .join(bcast(memKeys), Seq("a", "h1", "h2"), "left_semi")
      .distinct() // single-use: map-side partial agg, no checkpoint job
    val lvlPos = scan
      .join(bcast(posKeys), Seq("a", "h1", "h2"), "left_semi")
      .select(col("a"), col("h1"), col("h2"), col("id"), col("i"))
      .localCheckpoint(true) // the positional probes' corpus hits
    // lvlMem is bounded by the DISTINCT probe digests (≤ memKeys — a
    // projection of the queries), so it broadcasts safely; lvlPos is
    // bounded only by the queries' corpus HITS (a 10^6-times-repeated
    // span is 10^6 position rows — the cap-free case this family
    // exists for), so the positional joins broadcast the queries-sized
    // pq side instead and lvlPos never rides a build side.
    val hitsPow = pq.filter(col("off") === 0)
      .select(col("q_id"), col("pos"), col("L"), col("a"),
        col("h1a").as("h1"), col("h2a").as("h2"))
      .join(bcast(lvlMem), Seq("a", "h1", "h2"), "left_semi")
      .select(col("q_id"), col("pos"), col("L"))
    val posA = lvlPos
      .join(bcast(pq.filter(col("off") > 0)
        .select(col("q_id"), col("pos"), col("L"), col("off"), col("a"),
          col("h1a").as("h1"), col("h2a").as("h2"))), Seq("a", "h1", "h2"))
      .select(col("q_id"), col("pos"), col("L"),
        col("id"), (col("i") + col("off")).as("j"))
    val posB = lvlPos
      .join(bcast(pq.filter(col("off") > 0)
        .select(col("q_id"), col("pos"), col("L"), col("a"),
          col("h1b").as("h1"), col("h2b").as("h2"))), Seq("a", "h1", "h2"))
      .select(col("q_id"), col("pos"), col("L"), col("id"), col("i").as("j"))
    val hitsOff = posA.join(posB, Seq("q_id", "pos", "L", "id", "j"), "left_semi")
      .select(col("q_id"), col("pos"), col("L"))
    hitsPow.unionByName(hitsOff).distinct()
  }

  /**
   * The stored probe — (q_id, match_len), answering identically to
   * [[SuffixArrayOps.longestCorpusMatch]](C, queries) for the stored
   * document set C (the class LAW), with NO corpus-sized work and a
   * FIXED round count:
   *
   *  1. query tokens materialize once (queries-sized);
   *  2. round 1 probes the whole power-of-two LADDER at once — every
   *     L = 2^j up to the query's clamped length, one [[testLengths]]
   *     batch (almost all membership probes). Monotonicity of
   *     containment brackets each query: lo = largest contained rung,
   *     hi = min(old hi, smallest missed rung − 1) — so hi − lo < lo;
   *  3. round 2 tests EVERY remaining candidate in (lo, hi]
   *     exhaustively in one more batch (the gap is below the matched
   *     power, so candidate rows stay bounded by queries × match
   *     length — the same queries-sized budget the in-memory form's
   *     suffix explosion pays). match_len = the largest contained
   *     candidate, else lo.
   *
   * Two sequential rounds total, each bucket-pruned and sized by the
   * queries' corpus hits — vs the in-memory form's O(corpus · log)
   * union-SA rebuild per call. `broadcastProbes = false` degrades the
   * digest semi joins to shuffles for a genuinely huge query batch
   * (the family escape hatch; the driver-side (level, bucket) list
   * stays ≤ levels × numBuckets either way).
   */
  def probe(spark: SparkSession, dir: String, queries: DataFrame,
            qIdCol: String, qTextCol: String,
            tag: Option[String] = None,
            broadcastProbes: Boolean = true): DataFrame = {
    val (budget, nb) = meta(dir)
    val topA = topLevel(budget)
    val bcast = if (broadcastProbes) (df: DataFrame) => broadcast(df)
                else (df: DataFrame) => df
    val qt = queries
      .select(col(qIdCol).as("q_id"), SpanDedup.toks(col(qTextCol)).as("__t"))
      .withColumn("__n", size(col("__t")))
      .localCheckpoint(true)
    val state0 = qt.select(col("q_id"), col("__n"),
      least(col("__n"), lit(budget)).as("hi"))
    // Round 1: the power ladder, 2^0 .. 2^floor(log2 hi) per query —
    // each rung anchored at the suffix start pos = n - L + 1.
    val ladder = state0.filter(col("hi") >= 1)
      .withColumn("j", explode(sequence(lit(0),
        length(conv(col("hi").cast("string"), 10, 2)) - 1)))
      .select(col("q_id"), pow(lit(2.0), col("j")).cast("int").as("L"),
        col("__n"))
      .select(col("q_id"), (col("__n") - col("L") + 1).as("pos"), col("L"))
    // Every right side below is bounded by the query count (hit rows,
    // per-query brackets, per-query bests) — broadcast under the same
    // probe-contract flag, so the whole bracket/assembly tail plans
    // map-side instead of paying an SMJ exchange pair per join.
    val lhits = testLengths(spark, dir, qt, ladder, topA, nb, tag, bcast)
      .withColumn("__hit", lit(1))
    val bracket = ladder.join(bcast(lhits), Seq("q_id", "pos", "L"), "left")
      .groupBy(col("q_id"))
      .agg(max(when(col("__hit") === 1, col("L"))).as("__lo"),
        min(when(col("__hit").isNull, col("L"))).as("__miss"))
    val state1 = state0.join(bcast(bracket), Seq("q_id"), "left")
      .select(col("q_id"), col("__n"),
        coalesce(col("__lo"), lit(0)).as("lo"),
        least(col("hi"), coalesce(col("__miss") - 1, col("hi"))).as("hi"))
      .localCheckpoint(true)
    // Round 2: exhaustive candidates in (lo, hi].
    val cand = state1.filter(col("lo") < col("hi"))
      .select(col("q_id"), col("__n"),
        explode(sequence(col("lo") + 1, col("hi"))).as("L"))
      .select(col("q_id"), (col("__n") - col("L") + 1).as("pos"), col("L"))
    val best = testLengths(spark, dir, qt, cand, topA, nb, tag, bcast)
      .groupBy(col("q_id")).agg(max(col("L")).as("__best"))
    queries.select(col(qIdCol).as("q_id"))
      .join(bcast(state1.select(col("q_id"), col("lo"))), Seq("q_id"), "left")
      .join(bcast(best), Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("__best"), col("lo"), lit(0)).cast("int").as("match_len"))
  }

  /** Corpus occurrence COUNT of each (q_id, pos, L) span: the
    * certificate join kept as rows instead of a semi — every surviving
    * row is one real corpus occurrence (positions are unique per
    * level, and the posB side matches at most one row per posA row),
    * so the count is exact and the exchange is result-sized. Exact
    * powers ride the positional lane too — counting needs positions. */
  private def countOccurrences(spark: SparkSession, dir: String, qt: DataFrame,
                               cand: DataFrame, topA: Int, nb: Int,
                               tag: Option[String],
                               bcast: DataFrame => DataFrame): DataFrame =
    occurrenceSites(spark, dir, qt, cand, topA, nb, tag, bcast)
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_occ"))

  /**
   * [[probe]] plus the corpus OCCURRENCE COUNT of each query's longest
   * match — (q_id, match_len, n_occ), the full ∞-gram report shape
   * ([[InfiniGram.probe]]'s n_occ) at UNBOUNDED width: one extra
   * counting round after the search converges, its certificate join
   * kept as rows (result-sized — every row is a real occurrence of
   * the matched span). match_len = 0 reports n_occ = 0.
   */
  def probeWithCounts(spark: SparkSession, dir: String, queries: DataFrame,
                      qIdCol: String, qTextCol: String,
                      tag: Option[String] = None,
                      broadcastProbes: Boolean = true): DataFrame = {
    val (budget, nb) = meta(dir)
    val topA = topLevel(budget)
    val bcast = if (broadcastProbes) (df: DataFrame) => broadcast(df)
                else (df: DataFrame) => df
    val m = probe(spark, dir, queries, qIdCol, qTextCol, tag, broadcastProbes)
      .localCheckpoint(true)
    val qt = queries
      .select(col(qIdCol).as("q_id"), SpanDedup.toks(col(qTextCol)).as("__t"))
      .withColumn("__n", size(col("__t")))
      .localCheckpoint(true)
    val cand = m.filter(col("match_len") >= 1).join(bcast(qt), Seq("q_id"))
      .select(col("q_id"), (col("__n") - col("match_len") + 1).as("pos"),
        col("match_len").as("L"))
    val counts = countOccurrences(spark, dir, qt, cand, topA, nb, tag, bcast)
    m.join(bcast(counts), Seq("q_id"), "left")
      .select(col("q_id"), col("match_len"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"))
  }

  /**
   * ATTRIBUTION: the corpus SITES of each query's longest match —
   * (q_id, match_len, doc_id, pos), one row per corpus occurrence of
   * the matched span, capped at `maxSites` per query by the
   * deterministic (doc_id, pos) order (a span repeated 10^6 times is
   * a report the consumer caps, not an exchange the engine must
   * survive — the occurrence rows themselves are result-sized either
   * way, the cap bounds the OUTPUT). The "where did this memorized
   * text come from?" report over [[probe]]'s answer; queries with no
   * match emit no rows (the probe itself is the total function).
   */
  def attributeMatches(spark: SparkSession, dir: String, queries: DataFrame,
                       qIdCol: String, qTextCol: String, maxSites: Int = 10,
                       tag: Option[String] = None,
                       broadcastProbes: Boolean = true): DataFrame = {
    require(maxSites >= 1, s"maxSites must be >= 1: $maxSites")
    val (budget, nb) = meta(dir)
    val topA = topLevel(budget)
    val bcast = if (broadcastProbes) (df: DataFrame) => broadcast(df)
                else (df: DataFrame) => df
    val m = probe(spark, dir, queries, qIdCol, qTextCol, tag, broadcastProbes)
      .localCheckpoint(true)
    val qt = queries
      .select(col(qIdCol).as("q_id"), SpanDedup.toks(col(qTextCol)).as("__t"))
      .withColumn("__n", size(col("__t")))
      .localCheckpoint(true)
    val cand = m.filter(col("match_len") >= 1).join(bcast(qt), Seq("q_id"))
      .select(col("q_id"), (col("__n") - col("match_len") + 1).as("pos"),
        col("match_len").as("L"))
    val sites = occurrenceSites(spark, dir, qt, cand, topA, nb, tag, bcast)
    val rn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("id"), col("ia"))
    sites.withColumn("__rn", row_number().over(rn))
      .where(col("__rn") <= maxSites)
      .select(col("q_id"), col("L").as("match_len"),
        col("id").as("doc_id"), col("ia").as("pos"))
  }

  /** The certificate join kept as SITE rows (q_id, pos, L, id, ia) —
    * the row basis [[countOccurrences]] counts and
    * [[attributeMatches]] reports. */
  private def occurrenceSites(spark: SparkSession, dir: String, qt: DataFrame,
                              cand: DataFrame, topA: Int, nb: Int,
                              tag: Option[String],
                              bcast: DataFrame => DataFrame): DataFrame = {
    val pq = candDigests(qt, cand, topA, bcast)
    val posKeys = pq.select(col("a"), col("h1a").as("h1"), col("h2a").as("h2"))
      .unionByName(pq.select(col("a"), col("h1b").as("h1"), col("h2b").as("h2")))
      .distinct()
    val levelBuckets = posKeys
      .select(col("a"), bucketOf(col("h1"), nb).as("__b")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val lvlPos = readWindows(spark, dir, tag, Some(levelBuckets))
      .withColumnRenamed("__a", "a")
      .join(bcast(posKeys), Seq("a", "h1", "h2"), "left_semi")
      .select(col("a"), col("h1"), col("h2"), col("id"), col("i"))
      .localCheckpoint(true)
    // Broadcast the queries-sized pq side, never lvlPos — same
    // heavy-repetition rationale as [[testLengths]]' positional lane.
    val posA = lvlPos
      .join(bcast(pq
        .select(col("q_id"), col("pos"), col("L"), col("off"), col("a"),
          col("h1a").as("h1"), col("h2a").as("h2"))), Seq("a", "h1", "h2"))
      .select(col("q_id"), col("pos"), col("L"),
        col("id"), col("i").as("ia"), (col("i") + col("off")).as("j"))
    val posB = lvlPos
      .join(bcast(pq
        .select(col("q_id"), col("pos"), col("L"), col("a"),
          col("h1b").as("h1"), col("h2b").as("h2"))), Seq("a", "h1", "h2"))
      .select(col("q_id"), col("pos"), col("L"), col("id"), col("i").as("j"))
    posA.join(posB, Seq("q_id", "pos", "L", "id", "j"), "left_semi")
  }

  /**
   * Per-position duplicated lengths of a batch AGAINST the stored
   * corpus — answers identically to
   * [[SuffixArrayOps.dupLengthsAgainst]](C, batch, minLen) for the
   * stored document set C (the class LAW's per-position form):
   * (idCol, pos, dup_len >= minLen) where dup_len is the exact length
   * of the longest substring starting at `pos` that occurs anywhere
   * in the corpus. The cap-free ExactSubstr ADMISSION report, served:
   *
   *  1. one anchored [[testLengths]] batch at L = minLen screens EVERY
   *     batch position (positions that cannot reach minLen never
   *     probe) — usually the big kill, duplicated regions are the
   *     minority;
   *  2. survivors run the whole-suffix probe's ladder + bracket rounds
   *     anchored at their position, bracketed below by minLen.
   *
   * Three fixed rounds, all bucket-pruned and survivor-sized; total
   * probe rows bounded by batch tokens + survivors × their match
   * lengths — O(batch), never O(corpus).
   */
  def probeDupLengths(spark: SparkSession, dir: String, batch: DataFrame,
                      idCol: String, textCol: String, minLen: Int,
                      tag: Option[String] = None,
                      broadcastProbes: Boolean = true): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1: $minLen")
    val (budget, nb) = meta(dir)
    // A minLen beyond the length budget needs no probe at all: no
    // STORED document exceeds the budget, so no corpus substring can
    // reach minLen — the exact answer is empty. The short-circuit is
    // also the correctness guard: past the budget there is no
    // certifying level (candDigests clamps at topA and the two
    // half-windows of an L > 2^(topA+1) candidate leave an uncovered
    // gap), so letting the round-0 screen run would certify spans
    // that do not occur. probe() needs no twin guard — it clamps its
    // search at the budget before any candidate forms.
    if (minLen > budget)
      return batch.select(col(idCol), lit(0).as("pos"), lit(0).as("dup_len"))
        .limit(0)
    val topA = topLevel(budget)
    val bcast = if (broadcastProbes) (df: DataFrame) => broadcast(df)
                else (df: DataFrame) => df
    val qt = batch
      .select(col(idCol).as("q_id"), SpanDedup.toks(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")))
      .localCheckpoint(true)
    // Round 0: the minLen screen over every position that could reach it.
    val anchors = qt.filter(col("__n") >= minLen)
      .select(col("q_id"),
        explode(sequence(lit(1), col("__n") - minLen + 1)).as("pos"),
        col("__n"))
      // dup_len is bounded by the remaining tokens AND the store's
      // length budget (batch docs may be longer than the budget — only
      // the STORED side is budget-capped, and no corpus doc exceeds it).
      .withColumn("hi", least(col("__n") - col("pos") + 1, lit(budget)))
      .select(col("q_id"), col("pos"), col("hi"))
    val surv = testLengths(spark, dir, qt,
        anchors.select(col("q_id"), col("pos"), lit(minLen).as("L")),
        topA, nb, tag, bcast)
      .select(col("q_id"), col("pos"))
      // Survivor `hi` recomputes from the doc-level lengths (one row
      // per query doc, broadcast) instead of joining back to the
      // token-level anchors frame — the screen's survivors are a
      // subset of the anchors' (q_id, pos) by construction, so
      // least(__n - pos + 1, budget) re-derives the identical value
      // without a batch-token-sized SMJ.
      .join(bcast(qt.select(col("q_id"), col("__n"))), Seq("q_id"))
      .select(col("q_id"), col("pos"),
        least(col("__n") - col("pos") + 1, lit(budget)).as("hi"))
      .localCheckpoint(true) // (q_id, pos, hi) — the duplicated minority
    // Round 1: the power ladder ABOVE minLen, per surviving anchor.
    val ladder = surv.filter(col("hi") > minLen)
      .withColumn("j", explode(sequence(lit(0),
        length(conv(col("hi").cast("string"), 10, 2)) - 1)))
      .select(col("q_id"), col("pos"),
        pow(lit(2.0), col("j")).cast("int").as("L"))
      .filter(col("L") > minLen)
    val lhits = testLengths(spark, dir, qt, ladder, topA, nb, tag, bcast)
      .withColumn("__hit", lit(1))
    // Right sides bounded by the survivor anchors (the duplicated
    // minority) — broadcast under the probe-contract flag, as in
    // [[probe]]'s bracket/assembly tail.
    val bracket = ladder.join(bcast(lhits), Seq("q_id", "pos", "L"), "left")
      .groupBy(col("q_id"), col("pos"))
      .agg(max(when(col("__hit") === 1, col("L"))).as("__lo"),
        min(when(col("__hit").isNull, col("L"))).as("__miss"))
    val state1 = surv.join(bcast(bracket), Seq("q_id", "pos"), "left")
      .select(col("q_id"), col("pos"),
        greatest(coalesce(col("__lo"), lit(0)), lit(minLen)).as("lo"),
        least(col("hi"), coalesce(col("__miss") - 1, col("hi"))).as("hi"))
      .localCheckpoint(true)
    // Round 2: exhaustive candidates in (lo, hi] per surviving anchor.
    val cand = state1.filter(col("lo") < col("hi"))
      .select(col("q_id"), col("pos"),
        explode(sequence(col("lo") + 1, col("hi"))).as("L"))
    val best = testLengths(spark, dir, qt, cand, topA, nb, tag, bcast)
      .groupBy(col("q_id"), col("pos")).agg(max(col("L")).as("__best"))
    state1.join(bcast(best), Seq("q_id", "pos"), "left")
      .select(col("q_id").as(idCol), col("pos"),
        coalesce(col("__best"), col("lo")).cast("int").as("dup_len"))
  }

  /** ExactSubstr admission scrub against the STORED corpus — remove
    * every batch token covered by a >= `minLen` run occurring anywhere
    * in the corpus; ≡ [[SuffixArrayOps.saScrubAgainst]](C, batch)
    * (spec-pinned), with the corpus side reduced to the
    * [[probeDupLengths]] store probes. The standing, cap-free,
    * variable-length counterpart of
    * [[SpanDedup.scrubAgainstIndex]]'s fixed-k screen. */
  def scrub(spark: SparkSession, dir: String, batch: DataFrame,
            idCol: String, textCol: String, minLen: Int,
            tag: Option[String] = None,
            broadcastProbes: Boolean = true): DataFrame =
    SuffixArrayOps.scrubFromDupLengths(batch, idCol, textCol,
      probeDupLengths(spark, dir, batch, idCol, textCol, minLen, tag,
        broadcastProbes))
}
