package graft.operators

import graft.sources.{AdditiveStore, BucketedParts}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Standing POSITIONAL span store — the suffix-array-style complement of
 * the count-only span inventory ([[SpanDedup.spanDigestIndex]]): one row
 * per k-token window of the corpus, (id, i, h1, h2) with i the 1-based
 * token position and (h1, h2) the 128-bit span digest, plus the
 * additive per-digest occurrence inventory. Counts answer the scrub
 * family's "is this span duplicated?"; POSITIONS are what the
 * variable-length maximal-repeat diagonals ([[SpanDedup.maximalRepeats]]
 * — Lee et al. 2022 ExactSubstr) need, which is why the in-memory
 * incremental form ([[SpanDedup.maximalRepeatsAgainst]]) had to
 * re-derive corpus windows every batch. With this store, an admission
 * batch's maximal-repeat report ([[probeMaximalRepeats]]) costs:
 *
 *  - O(batch) window work (tokenize + hash the BATCH only);
 *  - one scan of the counts relation pruned to the batch digests'
 *    hash buckets (map-only, broadcast semi probe);
 *  - one scan of the window relation pruned to the ELIGIBLE digests'
 *    buckets — eligible = duplicated-under-cap spans touching the
 *    batch, usually a tiny fraction of the batch's digests, so the
 *    Hive-partitioned bucket layout (`__b = pmod(h1, buckets)`)
 *    genuinely file-prunes (spec-pinned: the probe plan carries a
 *    `__b IN (…)` partition filter);
 *  - pair generation and diagonal runs sized by the MATCHES, exactly
 *    as the in-memory form.
 *
 * Corpus TEXT is never read: the representative span re-attaches from
 * the BATCH side — every batch-touching pair has a batch site by
 * construction, and an exact match's text is identical at both sites.
 *
 * Storage shape (the [[graft.sources.AdditiveStore]] family): three
 * relations under ONE parts ledger —
 *
 *   dir/windows/<part>/__b=K/…   (id, i, h1, h2), bucket-partitioned
 *   dir/counts/<part>/           (h1, h2, n_occ), signed additive
 *   dir/tombs/<part>/            (id) tombstoned docs (delete parts)
 *   dir/_meta                    k=<window width>, buckets=<N>
 *
 * Per-batch [[append]] is O(batch) (a new part + one ledger line —
 * digests are uniform, so a row-keyed upsert would dirty every bucket
 * of a CoW table); [[remove]] is the Lucene-style tombstone + EXACT
 * negative-count part (the caller replays the removed docs' text — the
 * [[LmStore]] takedown contract, at-most-once per absorption);
 * [[compact]] folds tombstones away and restores single-part reads.
 * Window width k is pinned at [[init]] ([[probeMaximalRepeats]] runs at
 * the stored k — mixing widths would be silently wrong, so it is not a
 * probe parameter). Single-writer under the dir's
 * [[graft.sources.WriterLease]]; snapshot/restore/fsck complete the
 * store-family lifecycle ([[graft.pipelines.Release]] kind "spanpos").
 *
 * LAW (spec-pinned, SpanPosStoreSpec): for a store holding exactly the
 * document set C (in any append/remove/compact/restore history),
 * `probeMaximalRepeats(store, batch)` ≡
 * `SpanDedup.maximalRepeatsAgainst(batch, C)` ≡ the global
 * `SpanDedup.maximalRepeats(C ∪ batch)` restricted to batch-touching
 * pairs (doc ids disjoint across C and batch — the standing
 * incremental contract; a tombstoned id cannot be re-appended before a
 * [[compact]], enforced loudly).
 */
object SpanPosStore extends AdditiveStore.Lifecycle {

  val kernel: AdditiveStore = AdditiveStore("span position store",
    Seq("windows", "counts", "tombs"), Some(AdditiveStore.Meta(Seq("k", "buckets"))))

  /** The window width the store was built at (probes run at this k). */
  def k(dir: String): Int = meta(dir)._1

  /** The digest-bucket fan-out of the window layout. */
  def numBuckets(dir: String): Int = meta(dir)._2

  // The persisted (h1, h2) windows/counts only match probes computed
  // under the SAME digest convention — the kernel's stamped meta read
  // refuses a cross-convention (or pre-stamp) store loudly instead of
  // silently matching nothing.
  private def meta(dir: String): (Int, Int) = {
    val kv = kernel.readMeta(dir)
    (kv("k").toInt, kv("buckets").toInt)
  }

  private def bucketOf(h1: Column, nb: Int): Column =
    BucketedParts.bucketOf(h1, nb)

  private def inBuckets(bs: Seq[Int]): Column =
    BucketedParts.inBuckets(bs)

  /** The positional window relation of one document set, bucket column
    * attached: (id, i, h1, h2, __b). Derived by the SAME kernel every
    * in-memory span op uses ([[SpanDedup.digestWindows]]) — the law
    * depends on it. */
  private def windowsOf(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, nb: Int): DataFrame =
    SpanDedup.digestWindows(docs, idCol, textCol, k)
      .select(col("__id").as("id"), col("i"),
        col("__h1").as("h1"), col("__h2").as("h2"),
        bucketOf(col("__h1"), nb).as("__b"))

  /** (h1, h2, n_occ·sign, __b) of a window frame — TOTAL occurrences
    * (the maximal-repeat eligibility currency), not distinct docs;
    * bucket column kept so the counts relation shares the windows'
    * partitioned layout. */
  private def countsOf(win: DataFrame, sign: Int): DataFrame =
    win.groupBy(col("h1"), col("h2"), col("__b"))
      .agg((count(lit(1)) * sign).as("n_occ"))

  /** The additive fold of count parts: net-≤0 digests drop. */
  private def foldedCounts(counts: DataFrame): DataFrame =
    counts.groupBy(col("h1"), col("h2"), col("__b"))
      .agg(sum(col("n_occ")).as("n_occ")).filter(col("n_occ") > 0)

  private def writeBucketed(dir: String, rel: String, name: String,
                            df: DataFrame, nb: Int): Unit =
    BucketedParts.writeBucketed(kernel.path(dir, rel, name), df, nb)

  /** An append part: the windows written FIRST and the counts derived
    * from a read-back of the written files — persisting then re-scanning
    * fixed-width rows beats caching O(corpus tokens) of exploded rows in
    * the block manager (the [[Bm25Store]] parts materialization
    * argument, disk-shaped); no tombstones. */
  private def writeAppendPart(spark: SparkSession, dir: String, name: String,
                              docs: DataFrame, idCol: String, textCol: String,
                              k: Int, nb: Int): Unit = {
    writeBucketed(dir, "windows", name, windowsOf(docs, idCol, textCol, k, nb), nb)
    val win = kernel.read(spark, dir, "windows", Seq(name))
    writeBucketed(dir, "counts", name, countsOf(win, 1), nb)
    kernel.write(win.select(col("id")).limit(0), dir, "tombs", name)
  }

  /** O(corpus), once; REFUSES a previously-used dir (the
    * [[graft.sources.AdditiveStore.init]] run-once contract). */
  def init(spark: SparkSession, dir: String, corpus: DataFrame,
           idCol: String, textCol: String, k: Int,
           numBuckets: Int = 64): Unit = {
    require(k >= 2, s"span width k must be >= 2: $k")
    require(numBuckets >= 1, s"numBuckets must be >= 1: $numBuckets")
    kernel.init(dir, Seq("k" -> k.toString, "buckets" -> numBuckets.toString)) { n =>
      writeAppendPart(spark, dir, n, corpus, idCol, textCol, k, numBuckets)
    }
  }

  /** O(batch) fold of NEW docs (disjoint ids — the family contract);
    * replay-idempotent by `name` at every crash point. REFUSES ids a
    * live tombstone holds: the tombstone anti-join would silently kill
    * the re-appended rows at read time — [[compact]] first. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             idCol: String, textCol: String,
             name: Option[String] = None): Unit = {
    val (kk, nb) = meta(dir)
    val tombs = kernel.readEach(spark, dir, "tombs", kernel.names(dir)).distinct()
    val clash = tombs
      .join(broadcast(batch.select(col(idCol).as("id")).distinct()), Seq("id"),
        "left_semi")
      .limit(5).collect().map(_.get(0))
    require(clash.isEmpty,
      s"span position store at '$dir' holds live tombstones for batch " +
        s"ids ${clash.mkString(", ")} (…) — a re-appended tombstoned id " +
        "would be silently erased by the tombstone anti-join at read " +
        "time; run compact first (it folds tombstones away).")
    kernel.mutate(dir, name) { n =>
      writeAppendPart(spark, dir, n, batch, idCol, textCol, kk, nb)
    }
  }

  /** Takedown: tombstone the docs' window rows and write the EXACT
    * negative occurrence part. The caller replays the removed docs'
    * ORIGINAL text (what [[append]] indexed — the [[LmStore.remove]]
    * contract), at most once per absorption; replay-idempotent per
    * `name`. O(batch): the standing relations are never scanned. */
  def remove(spark: SparkSession, dir: String, removedDocs: DataFrame,
             idCol: String, textCol: String,
             name: Option[String] = None): Unit = {
    val (kk, nb) = meta(dir)
    kernel.names(dir) // loud on an uninitialized store
    kernel.mutate(dir, name) { n =>
      val win = windowsOf(removedDocs, idCol, textCol, kk, nb)
        .localCheckpoint(true) // negative counts + empty-window schema
      writeBucketed(dir, "windows", n, win.limit(0), nb)
      writeBucketed(dir, "counts", n, countsOf(win, -1), nb)
      kernel.write(removedDocs.select(col(idCol).as("id")).distinct(), dir, "tombs", n)
    }
  }

  /** The assembled positional relation (id, i, h1, h2, __b), tombstones
    * applied. With `tag`, the snapshot-pinned state. `bucketFilter`
    * prunes the partitioned scan BEFORE assembly — the probe's file
    * pruning lever. */
  def readWindows(spark: SparkSession, dir: String,
                  tag: Option[String] = None,
                  bucketFilter: Option[Seq[Int]] = None): DataFrame = {
    val names = kernel.names(dir, tag)
    val wins0 = kernel.readEach(spark, dir, "windows", names)
    val wins = bucketFilter.fold(wins0)(bs => wins0.filter(inBuckets(bs)))
    val tombs = kernel.readEach(spark, dir, "tombs", names).distinct()
    wins.join(tombs, Seq("id"), "left_anti")
  }

  /** The assembled occurrence inventory (h1, h2, n_occ > 0, __b) —
    * bucket column carried so probes prune before assembly
    * (`bucketFilter`, pushed through the union into each partitioned
    * scan). Exact at every point — delete parts carry negative counts,
    * so no staleness window (unlike the postings df lag
    * [[Bm25Store.delete]] documents). */
  def readCounts(spark: SparkSession, dir: String,
                 tag: Option[String] = None,
                 bucketFilter: Option[Seq[Int]] = None): DataFrame = {
    val names = kernel.names(dir, tag)
    val all0 = kernel.readEach(spark, dir, "counts", names)
    val all = bucketFilter.fold(all0)(bs => all0.filter(inBuckets(bs)))
    if (names.size == 1) all else foldedCounts(all)
  }

  /** Scheduled fold: tombstones applied and dropped, counts summed,
    * zeroed digests gone, single-part pushed reads restored. */
  def compact(spark: SparkSession, dir: String): Unit =
    kernel.compact(dir) { (gen, old) =>
      val nb = meta(dir)._2
      val tombs = kernel.readEach(spark, dir, "tombs", old).distinct()
        .localCheckpoint(true)
      val win = kernel.readEach(spark, dir, "windows", old)
        .join(tombs, Seq("id"), "left_anti")
      writeBucketed(dir, "windows", gen, win, nb)
      writeBucketed(dir, "counts", gen,
        foldedCounts(kernel.readEach(spark, dir, "counts", old)), nb)
      kernel.write(tombs.limit(0), dir, "tombs", gen)
    }

  /**
   * Admission-time maximal repeats against the STORED corpus — answers
   * identically to [[SpanDedup.maximalRepeatsAgainst]](batch, C) for
   * the stored document set C (the class LAW), with the corpus side
   * reduced to store scans:
   *
   *  1. batch windows + per-digest occurrence counts — O(batch);
   *  2. stored occurrences of the BATCH's digests: the counts relation,
   *     semi-probed under a broadcast of the batch digests (map-only;
   *     only digests the batch holds can appear in a batch-touching
   *     pair, so nothing else is ever read);
   *  3. union eligibility 2 ≤ batch + stored ≤ maxOcc — O(batch
   *     digests);
   *  4. stored POSITIONS of the eligible digests: the window relation
   *     read under a `__b IN (eligible buckets)` partition filter
   *     (file-pruned — eligible spans are the duplicated minority) and
   *     a broadcast semi join;
   *  5. the in-memory form's two pair lanes, diagonal gaps-and-islands,
   *     and the representative span sliced from the BATCH side (every
   *     batch-touching run has a batch site; an exact match's text is
   *     identical at both sites) — corpus text is never read.
   *
   * `broadcastProbes = false` runs the digest probes as shuffled joins
   * for a genuinely huge batch (the family escape hatch; the two
   * driver-side bucket lists stay ≤ numBuckets either way).
   */
  def probeMaximalRepeats(spark: SparkSession, dir: String, batch: DataFrame,
                          idCol: String, textCol: String, maxOcc: Int = 64,
                          broadcastProbes: Boolean = true,
                          tag: Option[String] = None): DataFrame = {
    require(maxOcc >= 2, s"maxOcc must be >= 2: $maxOcc")
    val (kk, nb) = meta(dir)
    val bcast = if (broadcastProbes) (df: DataFrame) => broadcast(df)
                else (df: DataFrame) => df
    val bw = windowsOf(batch, idCol, textCol, kk, nb).localCheckpoint(true)
    val bAgg = bw.groupBy(col("h1"), col("h2"), col("__b"))
      .agg(count(lit(1)).as("__bocc")).localCheckpoint(true)
    // Stored counts restricted to the batch's digests; the scan prunes
    // to the batch digests' buckets first (a no-op for a huge batch,
    // genuine for a small one — both driver lists are ≤ numBuckets).
    val batchBuckets = bAgg.select(col("__b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val stored = readCounts(spark, dir, tag, Some(batchBuckets))
      .join(bcast(bAgg.select(col("h1"), col("h2"))), Seq("h1", "h2"),
        "left_semi")
      .select(col("h1"), col("h2"), col("n_occ").as("__socc"))
    val eligible = bAgg.join(stored, Seq("h1", "h2"), "left")
      .select(col("h1"), col("h2"), col("__b"),
        (col("__bocc") + coalesce(col("__socc"), lit(0L))).as("__occ"))
      .filter(col("__occ") >= 2 && col("__occ") <= maxOcc)
      .select(col("h1"), col("h2"), col("__b"))
      .localCheckpoint(true) // bucket-list collect + two semi probes
    val eligBuckets = eligible.select(col("__b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val eligKeys = eligible.select(col("h1"), col("h2"))
    val kb = bw.join(bcast(eligKeys), Seq("h1", "h2"), "left_semi")
    val cw = readWindows(spark, dir, tag, bucketFilter = Some(eligBuckets))
      .join(bcast(eligKeys), Seq("h1", "h2"), "left_semi")
    def aSide(df: DataFrame) = df.select(col("h1").as("__h1"), col("h2").as("__h2"),
      col("id").as("id_a"), col("i").as("__ia"))
    def bSide(df: DataFrame) = df.select(col("h1").as("__h1"), col("h2").as("__h2"),
      col("id").as("id_b"), col("i").as("__ib"))
    // The in-memory form's two lanes verbatim: every batch-touching pair
    // exactly once — right side in the batch (left anything), plus
    // left-batch/right-corpus (disjoint by construction).
    val pairs = aSide(kb.unionByName(cw))
      .join(bSide(kb), Seq("__h1", "__h2"))
      .where(SpanDedup.canonicalOrder)
      .unionByName(aSide(kb)
        .join(bSide(cw), Seq("__h1", "__h2"))
        .where(SpanDedup.canonicalOrder))
    val runs = SpanDedup.diagonalRuns(pairs, kk)
    // Representative text from the BATCH side: id_b ∈ batch → slice doc
    // b at start_b; otherwise (lane 2) id_a is the batch doc.
    val batchIds = batch.select(col(idCol).as("id_b"))
      .distinct().withColumn("__bb", lit(1))
    val sited = runs.join(bcast(batchIds), Seq("id_b"), "left")
      .select(col("id_a"), col("start_a"), col("id_b"), col("start_b"),
        col("len_tokens"),
        when(col("__bb").isNotNull, col("id_b")).otherwise(col("id_a")).as("__sid"),
        when(col("__bb").isNotNull, col("start_b")).otherwise(col("start_a")).as("__si"))
    batch.select(col(idCol).as("__sid"), SpanDedup.toks(col(textCol)).as("__t"))
      .join(bcast(sited), Seq("__sid"))
      .select(col("id_a"), col("start_a"), col("id_b"), col("start_b"),
        col("len_tokens"),
        concat_ws(" ", slice(col("__t"), col("__si"), col("len_tokens"))).as("span"))
  }
}
