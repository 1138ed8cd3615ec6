package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.QuantileSketch.{quantileSketch, quantileSketchMerge, quantileSketchQuery}
import graft.sources.AdditiveStore

/**
 * Standing per-group distribution summaries — the persisted form of the
 * [[graft.functions.QuantileSketchAgg]] family, completing the engine's
 * standing-index pattern for the RANK statistic (span inventory = set
 * membership, band index = similarity candidates, [[Bm25Store]] =
 * retrieval, MG rows = frequency, this = quantiles): each ingest batch
 * appends ONE row per group `(g, sketch, n)` — its serialized
 * Greenwald–Khanna summary — in O(batch); reads fold the stored rows
 * with `quantile_sketch_merge` (mergeable-summaries bound, Agarwal et
 * al. 2012), and compaction reads group-count-sized rows, never the
 * corpus. This is how admission-time distribution gates (the
 * `x_outlier_trim` p99 length rule, ppl tercile cuts) keep CURRENT
 * thresholds without rescanning 100 TB per refresh.
 *
 * Ledger mechanics ride the [[graft.sources.AdditiveStore]] kernel
 * (shared with every additive store): a DeltaParts `_PARTS` ledger
 * (atomic publish), batch-named replay-idempotent [[append]] with the
 * compaction-surviving `_absorbed` names-ledger, deferred-GC
 * compaction, and snapshot tags / restore for training reproducibility.
 *
 * Accuracy contract: pass the SAME `accuracy` to init and every
 * append; queried quantiles are rank-exact while a group's TOTAL count
 * stays ≤ accuracy/2 (the `x_outlier_trim` bound — the merged sketch's
 * error is governed by the union size).
 *
 * INSERT-ONLY by design: Greenwald–Khanna summaries are not
 * subtractable, so this store has no delete path (unlike the engine's
 * other standing stores — [[Bm25Store.delete]],
 * [[IvfAnn.removeFromIndex]], [[graft.pipelines.Admission.unadmit]]).
 * Removing documents from the tracked distribution means re-running
 * [[init]] over the surviving corpus on a fresh dir — schedule it like
 * any bulk rebuild.
 */
object StatsStore extends AdditiveStore.Lifecycle {

  val kernel: AdditiveStore = AdditiveStore("stats store", Seq("sketches"))

  /** One row per group: (g, sketch, n). */
  private def summarize(batch: DataFrame, groupCol: String, valueCol: String,
                        accuracy: Int): DataFrame =
    batch.groupBy(col(groupCol).as("g"))
      .agg(quantileSketch(col(valueCol).cast("double"), accuracy).as("sketch"),
        count(col(valueCol)).as("n"))

  /** The group fold of stored sketch rows — shared by reads and
    * [[compact]]. */
  private def merged(spark: SparkSession, dir: String,
                     names: Seq[String]): DataFrame =
    kernel.read(spark, dir, "sketches", names)
      .groupBy(col("g"))
      .agg(quantileSketchMerge(col("sketch")).as("sketch"), sum(col("n")).as("n"))

  /** Initialize from an existing corpus — O(corpus), once. REFUSES a
    * previously-used dir (the [[Bm25Store.init]] run-once contract: a
    * reset parts-list over a surviving `_absorbed` ledger would make a
    * later replayed append silently drop real data). */
  def init(spark: SparkSession, dir: String, corpus: DataFrame,
           groupCol: String, valueCol: String, accuracy: Int = 1 << 20): Unit =
    kernel.init(dir) { n =>
      kernel.write(summarize(corpus, groupCol, valueCol, accuracy), dir, "sketches", n)
    }

  /** Append a batch's summaries in O(batch) — the standing parts are
    * never read. Name the part by batch/epoch id for replay-idempotent
    * ingest; idempotent at every crash point INCLUDING a replay after a
    * [[compact]] folded the named part (the `_absorbed` ledger records
    * every name ever absorbed and compaction never touches it).
    * Re-appending the same DOCUMENTS under a fresh name double-counts —
    * same contract as [[Bm25Store.append]]. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             groupCol: String, valueCol: String, accuracy: Int = 1 << 20,
             name: Option[String] = None): Unit =
    kernel.mutate(dir, name) { n =>
      kernel.write(summarize(batch, groupCol, valueCol, accuracy), dir, "sketches", n)
    }

  /** The folded summary — one row per group over the UNION of every
    * stored batch: (g, sketch, n). With `tag`, assembles the
    * [[snapshot]]-pinned parts instead of the live ledger. */
  def readSummaries(spark: SparkSession, dir: String,
                    tag: Option[String] = None): DataFrame =
    merged(spark, dir, kernel.names(dir, tag))

  /** Queried thresholds — one tiny row per group `(g, n, qs
    * array<double>)`, ready to broadcast back as an admission gate
    * (the [[SampleOps.quantileTrim]] probe shape, with the corpus
    * rescan replaced by the standing fold). */
  def quantiles(spark: SparkSession, dir: String, qs: Seq[Double],
                tag: Option[String] = None): DataFrame =
    readSummaries(spark, dir, tag)
      .select(col("g"), col("n"),
        quantileSketchQuery(col("sketch"),
          array(qs.map(lit(_)): _*)).as("qs"))

  /** Scheduled compaction: fold all live parts into one row per group.
    * Input is (parts × groups) sketch rows — group-count-sized, never
    * the corpus. Superseded parts stay one cycle for in-flight readers;
    * snapshot-pinned parts are never swept. */
  def compact(spark: SparkSession, dir: String): Unit =
    kernel.compact(dir) { (gen, old) =>
      kernel.write(merged(spark, dir, old), dir, "sketches", gen)
    }
}
