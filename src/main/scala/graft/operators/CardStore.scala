package graft.operators

import graft.sources.{AdditiveStore, StoreCheck, TableSink, WriterLease}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Standing corpus data card — the per-(source, language) datasheet
 * (`x_data_card`: docs / tokens / chars, mean quality, exact-dup
 * structure, median length) maintained O(batch) per ingest batch, so
 * the release dashboard is CURRENT without ever rescanning 100 TB.
 * Every column still replays the exact `x_data_card` oracle:
 *
 *  - sums (docs, tokens, chars, quality-millionths) are additive longs;
 *  - the median rides the mergeable Greenwald–Khanna summary
 *    ([[StatsStore]]'s rank-exact contract — the stored-sketch fold is
 *    invisible at the configured accuracy);
 *  - the DISTINCT-fingerprint count — the one card column a naive
 *    per-batch aggregation cannot maintain exactly (a duplicate
 *    arriving in a later batch must not recount) — stays EXACT via a
 *    key-bucket-pruned fingerprint relation: a batch's novel
 *    fingerprints insert keep-first with the batch name as their
 *    attribution (`__fb`), and the batch's unique-count is COUNTED FROM
 *    THE STORE (rows attributed to this batch), so every crash-window
 *    replay converges to the same card (the [[MediaStore]] keep-first
 *    discipline applied to counting);
 *  - a DataSketches HLL binary per batch keeps the
 *    `distinct_ok` estimator band honest — the column that survives at
 *    a scale where even the fingerprint relation is only probed, never
 *    aggregated.
 *
 * Layout: `dir/stats` parts on one [[AdditiveStore]] kernel (replay-guarded
 * named appends, deferred-GC compaction, snapshot tags), `dir/fps` a
 * key-hash-bucketed [[TableSink]] keyed (source, lang, fingerprint) —
 * probes open only the batch keys' buckets; payload text never enters
 * either relation (16-byte md5 only).
 *
 * Snapshot tags pin the stats parts only: [[card]] with a tag replays
 * byte-identically (the fingerprint counts are already folded into the
 * pinned parts). A [[restore]] leaves the fingerprint relation holding
 * rows absorbed after the tag — harmless for the restored card, but
 * those fingerprints keep POST-tag content deduplicated; a true content
 * rollback re-inits.
 *
 * INSERT-ONLY like [[StatsStore]] (GK summaries are not subtractable);
 * removing documents from the card means re-init over the survivors.
 */
object CardStore extends AdditiveStore.Lifecycle {

  val kernel: AdditiveStore = AdditiveStore("card store", Seq("stats"))

  private def fpsDir(dir: String) = s"$dir/fps"
  private val FpKeys = Seq("source", "lang", "__fp")

  def exists(dir: String): Boolean = kernel.exists(dir)

  /** (source, lang, n_chars, __nt, __qu, __fp) — the x_data_card
    * per-doc enrichment: quality in exact integer millionths, md5 of
    * the trimmed lowercased text as the dup fingerprint. */
  private def enrich(batch: DataFrame, srcCol: String, langCol: String,
                     textCol: String, nCharsCol: String,
                     quality: Column => Column): DataFrame =
    batch.select(col(srcCol).as("source"), col(langCol).as("lang"),
      col(nCharsCol).cast("long").as("n_chars"),
      graft.functions.text.tokenCount(col(textCol)).cast("long").as("__nt"),
      round(round(quality(col(textCol)), 6) * lit(1000000.0), 0)
        .cast("long").as("__qu"),
      md5(lower(trim(col(textCol)))).as("__fp"))

  /** One stats row per (source, lang) for a batch whose per-group novel
    * unique-counts are already known. */
  private def summarize(enriched: DataFrame, novelCounts: DataFrame,
                        accuracy: Int): DataFrame = {
    import graft.functions.QuantileSketch.quantileSketch
    enriched.groupBy("source", "lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("__qu")).as("sum_qu"),
        quantileSketch(col("n_chars").cast("double"), accuracy).as("qsk"),
        hll_sketch_agg(col("__fp")).as("hll"))
      .join(novelCounts, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("n_unique_new"))
  }

  /** Build card + fingerprint state from the existing corpus —
    * O(corpus), once; REFUSES a previously-used dir (the store-family
    * run-once contract: a reset ledger over surviving state would make
    * a replayed append silently corrupt the card). */
  def init(spark: SparkSession, dir: String, corpus: DataFrame,
           srcCol: String, langCol: String, textCol: String,
           nCharsCol: String, quality: Column => Column,
           accuracy: Int = 1 << 20, numBuckets: Int = 16): Unit =
    kernel.init(dir, extraPaths = Seq(s"${fpsDir(dir)}/_CURRENT")) { n =>
      val enriched = enrich(corpus, srcCol, langCol, textCol, nCharsCol,
        quality).localCheckpoint(true)
      val fps = enriched.select(col("source"), col("lang"), col("__fp"))
        .distinct().localCheckpoint(true)
      TableSink.overwrite(spark, fpsDir(dir),
        fps.withColumn("__fb", lit(n)).withColumn("__v", lit(0L)),
        FpKeys, numBuckets)
      val novel = fps.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_unique_new"))
      kernel.write(summarize(enriched, novel, accuracy), dir, "stats", n)
    }

  /**
   * Fold one ingest batch into the card in O(batch): map-side
   * enrichment, one key-bucket-pruned fingerprint probe, one upsert
   * touching only the batch keys' buckets, one stats-part append. Name
   * the part by batch/epoch id for replay-idempotent ingest —
   * idempotent at EVERY crash point: the fingerprint insert is
   * keep-first keyed (a replay inserts nothing) and the batch's
   * unique-count is read back from the store's `__fb` attribution, so
   * a replay that finds the fingerprints already inserted still writes
   * the same stats part. Re-appending the same DOCUMENTS under a fresh
   * name double-counts the sums — the [[StatsStore.append]] contract.
   */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             srcCol: String, langCol: String, textCol: String,
             nCharsCol: String, quality: Column => Column,
             accuracy: Int = 1 << 20, name: Option[String] = None): Unit =
    WriterLease.withLease(dir, "cardstore-append") {
      require(exists(dir), s"no card store at '$dir' — run init first")
      val n = name.getOrElse(kernel.nextName(dir))
      if (!kernel.isAbsorbed(dir, n)) {
        val enriched = enrich(batch, srcCol, langCol, textCol, nCharsCol,
          quality).localCheckpoint(true)
        val batchFps = enriched.select(col("source"), col("lang"), col("__fp"))
          .distinct().localCheckpoint(true)
        val buckets = TableSink.keyBucketIdsFor(fpsDir(dir),
          batchFps.select(FpKeys.map(col): _*))
        def prunedStored() = TableSink.readBuckets(spark, fpsDir(dir),
            spark.range(0).select(lit("").as("source"), lit("").as("lang"),
              lit("").as("__fp"), lit("").as("__fb"), lit(0L).as("__v")),
            buckets)
          .join(batchFps, FpKeys, "left_semi")
        val novel = batchFps.join(prunedStored(), FpKeys, "left_anti")
        TableSink.upsert(spark, fpsDir(dir),
          novel.withColumn("__fb", lit(n)).withColumn("__v", lit(0L)),
          FpKeys, "__v")
        // Count from the store, not the anti-join: a crash between the
        // upsert and the part write replays with an empty anti-join, but
        // the attribution rows are durable — same count either way.
        val novelCounts = prunedStored().filter(col("__fb") === n)
          .groupBy("source", "lang").agg(count(lit(1)).as("n_unique_new"))
          .localCheckpoint(true)
        kernel.mutate(dir, Some(n)) { nn =>
          kernel.write(summarize(enriched, novelCounts, accuracy), dir, "stats", nn)
        }
      }
    }

  /**
   * The folded card — the `x_data_card` relation over every batch ever
   * absorbed (with `tag`, over the [[snapshot]]-pinned parts): one
   * group-count-sized aggregation over stored rows, never the corpus.
   * `n_unique`/`dup_rate` are EXACT (summed novel attributions);
   * `p50_chars` is the rank-exact GK fold; `distinct_ok` re-asserts
   * the HLL union against the exact count (±max(10%, 10) — the
   * x_data_card band).
   */
  def card(spark: SparkSession, dir: String,
           tag: Option[String] = None): DataFrame = {
    import graft.functions.QuantileSketch.{quantileSketchMerge, quantileSketchQuery}
    kernel.read(spark, dir, "stats", kernel.names(dir, tag))
      .groupBy("source", "lang").agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("sum_chars")).as("sum_chars"),
        sum(col("sum_qu")).as("__sum_qu"),
        sum(col("n_unique_new")).as("n_unique"),
        quantileSketchMerge(col("qsk")).as("__qsk"),
        hll_union_agg(col("hll")).as("__hll"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("sum_chars"),
        (col("__sum_qu").cast("double") /
          (col("n_docs") * lit(1000000L)).cast("double")).as("avg_quality"),
        col("n_unique"),
        round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        round(quantileSketchQuery(col("__qsk"), array(lit(0.5)))(0), 2)
          .as("p50_chars"),
        (abs(hll_sketch_estimate(col("__hll")) - col("n_unique")).cast("double")
          <= greatest(lit(0.1) * col("n_unique"), lit(10.0))).as("distinct_ok"))
      .orderBy("source", "lang")
  }

  /** Scheduled compaction: fold live parts to one row per group — all
    * five card statistics are mergeable (sums, GK merge, HLL union),
    * so the fold reads group-count-sized rows, never the corpus. */
  def compact(spark: SparkSession, dir: String): Unit = {
    import graft.functions.QuantileSketch.quantileSketchMerge
    kernel.compact(dir) { (gen, old) =>
      kernel.write(kernel.read(spark, dir, "stats", old)
        .groupBy("source", "lang").agg(
          sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("sum_chars")).as("sum_chars"),
          sum(col("sum_qu")).as("sum_qu"),
          sum(col("n_unique_new")).as("n_unique_new"),
          quantileSketchMerge(col("qsk")).as("qsk"),
          hll_union_agg(col("hll")).as("hll")), dir, "stats", gen)
    }
  }

  /** Storage audit ([[graft.sources.StoreCheck]]): the stats ledger and
    * the fingerprint relation in one report. */
  override def fsck(spark: SparkSession, dir: String): DataFrame =
    super.fsck(spark, dir).unionByName(StoreCheck.tableSink(spark, fpsDir(dir)))
}
