package graft.operators

import graft.sources.AdditiveStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Standing-state boilerplate line inventory — the persisted form of
 * [[CurationOps.scrubBoilerplateLines]]'s document-frequency relation,
 * and the admission-time shape of the RefinedWeb line-dedup stage: a
 * production pipeline cannot re-count line df over the whole corpus per
 * ingest batch, so the (line-digest, doc-frequency) relation lives on
 * the additive ledger and each batch probes + folds in O(batch) — the
 * [[graft.operators.SpanDedup]] span-inventory story at line
 * granularity, with the [[LmStore]] count-additivity (df counts DISTINCT
 * docs per digest, and batches carry disjoint doc ids — the
 * [[Bm25Store.append]] contract — so per-batch df sums are EXACTLY the
 * union's df).
 *
 * [[scrubIncremental]] carries the law that makes the store honest:
 * scrubbing a batch against store(C) answers IDENTICALLY to the global
 * batch scrub over C ∪ batch restricted to the batch's docs (total
 * df = stored df + within-batch df, exact integers). `remove` is the
 * takedown inverse (exact negative counts, the Admission.unadmit
 * idiom).
 */
object LineStore extends AdditiveStore.Lifecycle {

  val kernel: AdditiveStore = AdditiveStore("line store", Seq("lines"))

  /** (digest, df) of one document set, `sign` = −1 for a [[remove]]. */
  private def parts(docs: DataFrame, idCol: String, textCol: String,
                    sign: Int): DataFrame =
    CurationOps.lineDigests(docs, idCol, textCol)
      .groupBy("__d").agg((count(lit(1)) * sign).as("df"))
      .select(col("__d").as("digest"), col("df"))

  private def merged(spark: SparkSession, dir: String,
                     names: Seq[String]): DataFrame = {
    val all = kernel.read(spark, dir, "lines", names)
    if (names.size == 1) all
    else all.groupBy("digest").agg(sum(col("df")).as("df")).filter(col("df") > 0)
  }

  /** O(corpus), once; refuses a used dir (the [[LmStore.init]] contract). */
  def init(spark: SparkSession, dir: String, corpus: DataFrame,
           idCol: String, textCol: String): Unit =
    kernel.init(dir) { n =>
      kernel.write(parts(corpus, idCol, textCol, 1), dir, "lines", n)
    }

  /** O(batch) fold of NEW docs (disjoint ids); replay-idempotent by
    * `name` at every crash point, compaction included. */
  def append(spark: SparkSession, dir: String, newDocs: DataFrame,
             idCol: String, textCol: String, name: Option[String] = None): Unit =
    mutate(dir, newDocs, idCol, textCol, name, sign = 1)

  /** Exact takedown inverse of a previous append (the caller replays
    * the removed docs' text — the [[LmStore.remove]] contract). */
  def remove(spark: SparkSession, dir: String, removedDocs: DataFrame,
             idCol: String, textCol: String, name: Option[String] = None): Unit = {
    kernel.names(dir)
    mutate(dir, removedDocs, idCol, textCol, name, sign = -1)
  }

  private def mutate(dir: String, docs: DataFrame, idCol: String,
                     textCol: String, name: Option[String], sign: Int): Unit =
    kernel.mutate(dir, name) { n =>
      kernel.write(parts(docs, idCol, textCol, sign), dir, "lines", n)
    }

  def compact(spark: SparkSession, dir: String): Unit =
    kernel.compact(dir) { (gen, old) =>
      kernel.write(merged(spark, dir, old).localCheckpoint(true), dir, "lines", gen)
    }

  /** The assembled (digest, df) relation; with `tag`, the snapshot-
    * pinned state. */
  def readCounts(spark: SparkSession, dir: String,
                 tag: Option[String] = None): DataFrame =
    merged(spark, dir, kernel.names(dir, tag))

  /**
   * Admission-time boilerplate scrub of a batch against the standing
   * inventory: total df per digest = stored df + within-batch df (exact
   * — disjoint doc ids), frequent = total ≥ minDocs, then the shared
   * in-place scrub tail. Scale shape: the batch side is O(batch); the
   * stored side is one map-side scan of the counts relation with the
   * BATCH digests broadcast into a semi-probe (the store is never
   * grouped corpus-wide at probe time once compacted); the frequent set
   * is boilerplate-sized. LAW (spec-pinned): ≡
   * [[CurationOps.scrubBoilerplateLines]] over corpus ∪ batch,
   * restricted to the batch's docs. NOTE: the scrub does NOT absorb the
   * batch — call [[append]] for admitted docs afterwards, exactly like
   * [[graft.pipelines.Admission]] separates verdicts from absorption.
   */
  def scrubIncremental(spark: SparkSession, dir: String, batch: DataFrame,
                       idCol: String, textCol: String, minDocs: Int,
                       tag: Option[String] = None): DataFrame = {
    val batchDigests = CurationOps.lineDigests(batch, idCol, textCol)
      .localCheckpoint(true) // consumed by the df fold and the scrub-list join
    val batchDf = batchDigests.groupBy("__d").agg(count(lit(1)).as("__bdf"))
    val stored = readCounts(spark, dir, tag)
      .join(broadcast(batchDf.select(col("__d").as("digest"))), Seq("digest"),
        "left_semi")
      .select(col("digest").as("__d"), col("df").as("__sdf"))
    val frequent = batchDf.join(stored, Seq("__d"), "outer")
      .select(col("__d"),
        (coalesce(col("__bdf"), lit(0L)) + coalesce(col("__sdf"), lit(0L))).as("__t"))
      .filter(col("__t") >= minDocs)
      .select("__d")
    CurationOps.scrubWithFrequent(batch, idCol, textCol, batchDigests, frequent)
  }
}
