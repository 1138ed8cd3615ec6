package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * (id → layout value) sidecar for a cell/cluster-laid-out [[TableSink]]
 * table — the O(batch) answer to "which bucket holds this id's row?",
 * a question the layout itself cannot answer (buckets address by layout
 * VALUE; an id-keyed probe would otherwise need a full column-pruned
 * scan of the table — O(corpus rows) IO per refresh batch, which at
 * 100 TB with frequent small batches dominates everything the refresh
 * itself does in O(batch)).
 *
 * The protocol generalizes the serving sidecar idiom
 * ([[graft.serve.Serve.idMapDir]]): a key-hash sidecar row
 * `(id, cell, prev_cell)` is upserted via [[recordIntent]] BEFORE the
 * main-table commit, `prev_cell` carrying the row's DISAMBIGUATED
 * current location. Invariant at every crash point: the main-table copy
 * of an id (if any) sits in the bucket of its sidecar `cell` or
 * `prev_cell`. [[resolve]] re-disambiguates by opening ONLY those
 * candidate cells' bucket FILES — so each refresh batch costs the ids'
 * sidecar buckets plus ≤ 2·|batch| candidate-cell buckets, never a
 * table scan. A sidecar miss is authoritative for ids (the intent
 * commits first), EXCEPT on a store whose history predates the sidecar:
 * those must [[backfill]] once before relying on it ([[CellStore.add]]
 * adopts a sidecar-less store that way).
 *
 * Deletions: [[CellStore.remove]] reads the ids' sidecar rows
 * ([[rowsOf]]), deletes the ids from the main table's buckets those rows
 * name, then [[removeIds]] the rows. A crash between the two leaves a
 * stale sidecar row — harmless: [[resolve]] finds no copy in the
 * candidate buckets and reports the id absent.
 */
object IdLayoutSidecar {

  def dir(tableDir: String): String = tableDir + "_idmap"

  /** Is the sidecar present? Absent means pre-sidecar history or a
    * rebuild/restore in flight: [[backfill]] before relying on it. */
  def exists(tableDir: String): Boolean = TableSink.tableExists(dir(tableDir))

  private def idTypeOf(spark: SparkSession, anyDir: String, idCol: String) =
    TableSink.storedColType(spark, anyDir, idCol)

  private def sidecarLike(spark: SparkSession, tableDir: String,
                          idCol: String): DataFrame = {
    // id type from the MAIN table's schema (the sidecar mirrors it, but
    // the main table is the source of truth and always has data first)
    val idT = idTypeOf(spark, tableDir, idCol)
    spark.range(0).select(lit(null).cast(idT).as(idCol),
      lit(null).cast("string").as("cell"),
      lit(null).cast("string").as("prev_cell"))
  }

  /** Adopt a PRE-EXISTING layout-bucketed table: one column-pruned
    * O(table) scan projecting (id, layout) into a fresh sidecar. Run
    * once (init-time for new stores, migration-time for old ones);
    * thereafter [[recordIntent]] keeps it current in O(batch). */
  def backfill(spark: SparkSession, tableDir: String,
               idCol: String = "id"): Unit = {
    val layout = TableSink.layoutColOf(tableDir).getOrElse(
      throw new IllegalArgumentException(
        s"table at '$tableDir' has no layout column — key-hash tables " +
          "resolve id lookups directly (keyBucketIdsFor), no sidecar needed"))
    val idT = idTypeOf(spark, tableDir, idCol)
    val like = spark.range(0).select(lit(null).cast(idT).as(idCol),
      lit(null).cast("string").as(layout))
    TableSink.overwrite(spark, dir(tableDir),
      TableSink.read(spark, tableDir, like)
        .select(col(idCol), col(layout).as("cell"),
          lit(null).cast("string").as("prev_cell"), lit(0L).as("__v")),
      Seq(idCol))
  }

  /**
   * The authoritative (id, `__cur` layout value) of each batch id
   * PRESENT in the main table — O(batch) bucket-pruned: the ids' sidecar
   * buckets resolve candidate cells `{cell, prev_cell}` (covering the
   * one-commit crash window), then only those candidates' main-table
   * bucket files open, column-pruned to (id, layout), to pick the copy
   * that actually exists. Ids with no sidecar row or no main copy are
   * simply absent from the result (they are NEW to the table).
   */
  def resolve(spark: SparkSession, tableDir: String, ids: DataFrame,
              idCol: String = "id"): DataFrame = {
    require(exists(tableDir),
      s"no id→layout sidecar at '${dir(tableDir)}' — run backfill once " +
        "to adopt this table (pre-sidecar history)")
    val layout = TableSink.layoutColOf(tableDir).getOrElse(
      throw new IllegalArgumentException(
        s"table at '$tableDir' has no layout column"))
    val idsD = ids.select(col(idCol)).distinct().localCheckpoint(true)
    val cand = rowsOf(spark, tableDir, idsD, idCol)
    // candidate cells: driver-bounded by 2·|batch| and by the cell count
    val cells = cand
      .select(explode(array(col("cell"), col("prev_cell"))).as("__c"))
      .filter(col("__c").isNotNull).distinct()
      .collect().map(_.getString(0)).toSeq
    val idT = idTypeOf(spark, tableDir, idCol)
    val mLike = spark.range(0).select(lit(null).cast(idT).as(idCol),
      lit(null).cast("string").as(layout))
    TableSink.readBuckets(spark, tableDir, mLike,
        TableSink.bucketIdsFor(spark, tableDir, cells))
      .select(col(idCol), col(layout).as("__cur"))
      .join(broadcast(idsD), Seq(idCol), "left_semi")
  }

  /** The sidecar rows (id, cell, prev_cell) of those of `ids` that have
    * one — O(batch): only the ids' key buckets open. Every copy of such
    * an id lies in the bucket of its `cell` or its `prev_cell`. */
  private[sources] def rowsOf(spark: SparkSession, tableDir: String,
                              ids: DataFrame, idCol: String = "id"): DataFrame = {
    val keys = ids.select(col(idCol))
    TableSink.readBuckets(spark, dir(tableDir), sidecarLike(spark, tableDir, idCol),
        TableSink.keyBucketIdsFor(dir(tableDir), keys))
      .join(broadcast(keys), Seq(idCol), "left_semi")
  }

  /** Record the batch's intended locations BEFORE the main-table
    * commit: `moves` carries (id, cell = the new layout value,
    * prev_cell = the disambiguated current location or null for new
    * ids). Crash between this commit and the main one leaves the copy
    * at `prev_cell` — exactly what the invariant promises. */
  def recordIntent(spark: SparkSession, tableDir: String, moves: DataFrame,
                   version: Long, idCol: String = "id"): Unit =
    TableSink.upsert(spark, dir(tableDir),
      moves.select(col(idCol), col("cell").cast("string").as("cell"),
        col("prev_cell").cast("string").as("prev_cell"))
        .withColumn("__v", lit(version)),
      Seq(idCol), "__v")

  /** Remove the sidecar entirely — the first move of a layout REBUILD
    * (re-fit centroids, re-home every row): a full rebuild moves rows
    * arbitrarily, so a sidecar surviving into the new layout would
    * VIOLATE the cell/prev_cell invariant. Dropping it first leaves
    * every crash window sidecar-less (the next add adopts the live
    * layout with one [[backfill]]); re-seeding after the new generation
    * commits restores the O(batch) path. */
  def drop(tableDir: String): Unit =
    DeltaParts.rmDir(dir(tableDir))

  /** Drop the ids' sidecar rows (pair with the main-table delete). */
  def removeIds(spark: SparkSession, tableDir: String, ids: DataFrame,
                idCol: String = "id"): Unit =
    if (exists(tableDir))
      TableSink.delete(spark, dir(tableDir), ids.select(col(idCol)), Seq(idCol))
}
