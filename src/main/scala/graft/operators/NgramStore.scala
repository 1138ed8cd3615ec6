package graft.operators

import graft.sources.{AdditiveStore, BucketedParts}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Standing ∞-gram index — the persisted form of [[InfiniGram.probe]]:
 * the corpus's (n-gram digest, next token) occurrence counts for every
 * width 1..maxN, on the [[graft.sources.AdditiveLedger]] so repeat
 * probes are QUERIES-sized (the in-memory probe re-derives and re-hashes
 * every corpus window per call — maxN rows per corpus token, the one
 * corpus-sized cost this store amortizes across every probe that
 * follows).
 *
 * ONE stored relation carries both probe inputs:
 *
 *   dir/grams/<part>/__b=K/…  (h1, h2, next, c) — `next` NULL for an
 *                              occurrence ending its document
 *   dir/_meta                  maxN=<width>, buckets=<N>
 *
 * A digest's total occurrence count is the sum of its rows' counts
 * over all `next` values (null included), so the occurrence and
 * continuation relations [[InfiniGram.assemble]] consumes both read
 * from one bucket-pruned scan. The Hive-partitioned bucket layout
 * (`__b = pmod(h1, buckets)` — the [[SpanPosStore]] idiom) lets a
 * probe open only the query digests' buckets' FILES (spec-pinned
 * `__b IN (…)` partition filter).
 *
 * Maintenance is the [[LmStore]] additive-count story — the cleanest
 * in the family: [[append]] writes an O(batch) positive part,
 * [[remove]] an O(batch) EXACT negative part (the caller replays the
 * removed documents' original text — the LmStore takedown contract;
 * counts subtract exactly, net-≤0 keys drop at read and compaction),
 * [[compact]] folds to one generation, and snapshot/restore/fsck +
 * [[graft.pipelines.Release]] kind "ngram" complete the store-family
 * lifecycle. All mutations are replay-idempotent by part name at every
 * crash point (the `_absorbed` ledger), single-writer under the dir's
 * [[graft.sources.WriterLease]] (taken inside the ledger).
 *
 * LAW (spec-pinned, NgramStoreSpec): for a store holding exactly the
 * document multiset C (under any append/remove/compact/snapshot/
 * restore history), `NgramStore.probe(store, queries)` ≡
 * `InfiniGram.probe(C, queries)` — exact equality, integer counts.
 * The window kernel is [[InfiniGram.corpusWindows]] itself and the
 * result tail [[InfiniGram.assemble]] itself; the store adds only the
 * ledger fold between them.
 */
object NgramStore extends AdditiveStore.Lifecycle {

  val kernel: AdditiveStore = AdditiveStore("n-gram store", Seq("grams"),
    Some(AdditiveStore.Meta(Seq("maxN", "buckets"))))

  /** The width bound the store was built at (probes run at it — mixing
    * widths would silently under-match, so it is not a probe param). */
  def maxN(dir: String): Int = meta(dir)._1

  def numBuckets(dir: String): Int = meta(dir)._2

  private def meta(dir: String): (Int, Int) = {
    val kv = kernel.readMeta(dir)
    (kv("maxN").toInt, kv("buckets").toInt)
  }

  private def bucketOf(h1: Column, nb: Int): Column =
    BucketedParts.bucketOf(h1, nb)

  /** The signed count part of one document set: ONE aggregation over
    * the shared window kernel — (h1, h2, next, c·sign, __b), `next`
    * null for document-ending occurrences. Inventory-sized (distinct
    * (gram, next) pairs), never the window rows themselves. */
  private def partOf(docs: DataFrame, textCol: String, maxN: Int, nb: Int,
                     sign: Int): DataFrame =
    InfiniGram.corpusWindows(docs, textCol, maxN)
      .select(col("__h1").as("h1"), col("__h2").as("h2"),
        col("__next").as("next"), bucketOf(col("__h1"), nb).as("__b"))
      .groupBy(col("h1"), col("h2"), col("next"), col("__b"))
      .agg((count(lit(1)) * sign).as("c"))

  private def writeGrams(dir: String, name: String, df: DataFrame, nb: Int): Unit =
    BucketedParts.writeBucketed(kernel.path(dir, "grams", name), df, nb)

  /** The additive fold: counts sum per (gram, next), net-≤0 keys drop. */
  private def folded(grams: DataFrame): DataFrame =
    grams.groupBy(col("h1"), col("h2"), col("next"), col("__b"))
      .agg(sum(col("c")).as("c")).filter(col("c") > 0)

  /** O(corpus), once; REFUSES a previously-used dir (the ledger's
    * run-once contract — a reset parts dir under a surviving
    * `_absorbed` would silently no-op replayed appends). */
  def init(spark: SparkSession, dir: String, corpus: DataFrame,
           textCol: String, maxN: Int = 8, numBuckets: Int = 64): Unit = {
    require(maxN >= 1, s"maxN must be >= 1: $maxN")
    require(numBuckets >= 1, s"numBuckets must be >= 1: $numBuckets")
    kernel.init(dir, Seq("maxN" -> maxN.toString, "buckets" -> numBuckets.toString)) { n =>
      writeGrams(dir, n, partOf(corpus, textCol, maxN, numBuckets, sign = 1), numBuckets)
    }
  }

  /** Fold new documents in — O(batch), the standing parts are never
    * read; replay-idempotent by `name` at every crash point. */
  def append(spark: SparkSession, dir: String, newDocs: DataFrame,
             textCol: String, name: Option[String] = None): Unit =
    mutate(dir, newDocs, textCol, name, sign = 1)

  /** Takedown: the EXACT negative count part (no rescan, no rebuild).
    * CONTRACT: the caller replays exactly the text of a
    * previously-appended document set — the [[LmStore.remove]] shape;
    * a remove that was never appended drives keys negative, and those
    * drop from reads rather than poisoning them. */
  def remove(spark: SparkSession, dir: String, removedDocs: DataFrame,
             textCol: String, name: Option[String] = None): Unit = {
    kernel.names(dir)
    mutate(dir, removedDocs, textCol, name, sign = -1)
  }

  private def mutate(dir: String, docs: DataFrame, textCol: String,
                     name: Option[String], sign: Int): Unit = {
    val (mn, nb) = meta(dir)
    kernel.mutate(dir, name) { n =>
      writeGrams(dir, n, partOf(docs, textCol, mn, nb, sign), nb)
    }
  }

  /** The assembled (h1, h2, next, c > 0, __b) relation; `bucketFilter`
    * prunes the partitioned scans BEFORE assembly — the probe's
    * file-pruning lever. With `tag`, the snapshot-pinned state. */
  def readGrams(spark: SparkSession, dir: String,
                tag: Option[String] = None,
                bucketFilter: Option[Seq[Int]] = None): DataFrame = {
    val names = kernel.names(dir, tag)
    val all0 = kernel.readEach(spark, dir, "grams", names)
    val all = bucketFilter.fold(all0)(bs => all0.filter(BucketedParts.inBuckets(bs)))
    if (names.size == 1) all else folded(all)
  }

  /** Fold the live parts to one generation (exact integer sums, net-≤0
    * keys gone physically); superseded parts stay one cycle for
    * in-flight readers, snapshot-pinned parts never sweep. */
  def compact(spark: SparkSession, dir: String): Unit =
    kernel.compact(dir) { (gen, old) =>
      writeGrams(dir, gen, folded(kernel.readEach(spark, dir, "grams", old)),
        meta(dir)._2)
    }

  /**
   * The stored probe — answers identically to
   * [[InfiniGram.probe]](C, queries) for the stored document multiset
   * C (the class LAW), queries-sized end to end:
   *
   *  1. query suffix digests (|queries| × maxN rows) and their bucket
   *     list (≤ numBuckets, driver-side);
   *  2. the grams relation read under a `__b IN (…)` partition filter
   *     (file-pruned) and a broadcast semi join on the query digests —
   *     the only corpus-derived data touched is the queries' hits;
   *  3. occurrence totals = sum over `next` (null included),
   *     continuations = the non-null rows — one scan feeds both;
   *  4. [[InfiniGram.assemble]], the shared tail.
   *
   * `broadcastProbes = false` degrades the semi joins to shuffles for
   * a genuinely huge query set (the family escape hatch).
   */
  def probe(spark: SparkSession, dir: String, queries: DataFrame,
            qIdCol: String, qTextCol: String,
            tag: Option[String] = None,
            broadcastProbes: Boolean = true): DataFrame = {
    val (mn, nb) = meta(dir)
    val bcast = if (broadcastProbes) (df: DataFrame) => broadcast(df)
                else (df: DataFrame) => df
    val qw = InfiniGram.querySuffixes(queries, qIdCol, qTextCol, mn)
      .localCheckpoint(true)
    val qdig = qw.select(col("__h1"), col("__h2")).distinct()
      .withColumn("__b", bucketOf(col("__h1"), nb))
      .localCheckpoint(true)
    val buckets = qdig.select(col("__b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val hitsRenamed = readGrams(spark, dir, tag, Some(buckets))
      .withColumnRenamed("h1", "__h1").withColumnRenamed("h2", "__h2")
      .join(bcast(qdig.select("__h1", "__h2")), Seq("__h1", "__h2"), "left_semi")
      .localCheckpoint(true)
    val occ = hitsRenamed.groupBy(col("__h1"), col("__h2"))
      .agg(sum(col("c")).as("n_occ"))
    val conts = hitsRenamed.where(col("next").isNotNull)
      .select(col("__h1"), col("__h2"), col("next").as("__next"), col("c").as("__cnt"))
    InfiniGram.assemble(queries, qIdCol, qw, occ, conts)
  }
}
