package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The cell-store kernel: one value per store that owns the whole
 * lifecycle of a cell-laid-out vector table — a [[TableSink]] table
 * bucketed by its cell (layout) column, the centroid fit it was
 * assigned under ([[IndexMeta]] accounting + fit pointer on the same
 * manifest line) and its id→cell [[IdLayoutSidecar]]. A store is left
 * with only what is its own: how a batch becomes stored rows under a
 * fit, how a fit is computed, and how it is probed.
 *
 * A store is `what` (the name its refusals use), its `table` subdir
 * under the store root ("" = the root itself), the string `layoutCol`
 * its rows bucket by, the stored `row` shape besides the id and layout
 * columns (name → SQL type), the `fitPrefix` of its versioned refit
 * dirs, the store-relative `initFit` dir written at init (None when the
 * init-time fit stays with the caller) and the `lease` label prefix.
 * The kernel provides:
 *  - run-once [[init]] and the refit [[rebuild]]: one overwrite whose
 *    manifest carries fresh accounting and the fit pointer, the sidecar
 *    seeded from the same materialized rows;
 *  - the live (or tag-pinned) fit dir ([[fitDir]]) and the empty
 *    `like` frame with the stored id type;
 *  - the [[add]] commit: sidecar resolve, intent, then the upsert with
 *    the accounting bump — a store with no sidecar adopts one first,
 *    with one backfill;
 *  - [[remove]], its victims located through the same sidecar, and
 *    [[needsRebuild]] / [[maintain]];
 *  - snapshot / pre-check / dropSnapshot / restore: the table generation
 *    pins its fit through the pointer (fit dirs are write-once), so no
 *    fit copy is ever taken;
 *  - [[fsck]]: the table audit plus the `centroids_resolve` row.
 *
 * Crash contract (single writer, every mutation under the store-root
 * lease): at every crash point the surviving sidecar matches the live
 * layout or is absent. The intent commits before the table upsert; a
 * rebuild or restore drops the sidecar before the generation flip and
 * re-seeds it after.
 */
final case class CellStore(what: String, table: String, layoutCol: String,
                           row: Seq[(String, String)], fitPrefix: String,
                           initFit: Option[String], lease: String) {
  import CellStore.Rehome

  /** The cell-laid-out table under `root`. */
  def tableDir(root: String): String = if (table.isEmpty) root else s"$root/$table"

  def exists(root: String): Boolean = TableSink.tableExists(tableDir(root))

  def requireExists(root: String): Unit =
    require(exists(root), s"no $what at '$root' — initialize it first")

  /** The fit dir the live generation (or the one `tag` pins) was
    * assigned under: the manifest's fit pointer, else the init-time fit
    * (None when that fit is caller-held). */
  def fitDir(root: String, tag: Option[String] = None): Option[String] =
    IndexMeta.cellsPtr(tableDir(root), tag).orElse(initFit).map(f => s"$root/$f")

  /** An empty frame of the stored row — the schema an empty or absent
    * table reads as. The id keeps the type it was stored with (the store
    * keeps the caller's id verbatim; [[TableSink.storedColType]] reads a
    * footer memoized per file). */
  def like(spark: SparkSession, root: String, idCol: String = "id"): DataFrame = {
    val idType = TableSink.storedColType(spark, tableDir(root), idCol)
    spark.range(0).select(lit(null).cast(idType).as(idCol) +:
      (row :+ (layoutCol -> "string")).map { case (n, t) => lit(null).cast(t).as(n) }: _*)
  }

  /** The whole live table. */
  def read(spark: SparkSession, root: String): DataFrame =
    TableSink.read(spark, tableDir(root), like(spark, root))

  /** Run-once init: refuses a used root, lets `writeFit` put the
    * init-time fit at `initFit`, then publishes `rows` (stored row
    * shape, layout column included). */
  def init(spark: SparkSession, root: String, rows: DataFrame, numBuckets: Int,
           idCol: String = "id")(writeFit: String => Unit): Unit =
      WriterLease.withLease(root, s"$lease-init") {
    if (exists(root) || initFit.exists(f => StoreFs.get.exists(s"$root/$f")))
      throw new IllegalStateException(
        s"$what at '$root' was already initialized — init is run-once; " +
          "delete the store dir (or point at a fresh one) to rebuild.")
    initFit.foreach(f => writeFit(s"$root/$f"))
    publish(spark, root, rows, numBuckets, None, idCol)
  }

  /** One overwrite of the whole table, its manifest carrying fresh
    * accounting over `rows` and the `fit` pointer; the sidecar is
    * seeded from the table just written. */
  private def publish(spark: SparkSession, root: String, rows: DataFrame,
                      numBuckets: Int, fit: Option[String], idCol: String): Unit = {
    val t = tableDir(root)
    TableSink.overwrite(spark, t, rows.withColumn("__v", lit(0L)), Seq(idCol),
      numBuckets, layoutCol = Some(layoutCol),
      meta = Some(IndexMeta.fresh(rows.count(), fit)))
    IdLayoutSidecar.backfill(spark, t, idCol)
  }

  /** The O(batch) add commit of `rows` (evaluated under the lease, so
    * they are assigned under the live fit) for the batch `ids`: the ids'
    * current cells resolve through the sidecar (`vet` sees them first
    * and may refuse), an id whose cell changed is re-homed in the same
    * upsert, the intent commits before the table, and the accounting
    * bump rides the table commit. */
  def add(spark: SparkSession, root: String, ids: DataFrame, version: Long,
          idCol: String = "id", vet: DataFrame => Unit = _ => ())
         (rows: => DataFrame): Unit =
      WriterLease.withLease(root, s"$lease-append") {
    requireExists(root)
    val t = tableDir(root)
    val assigned = rows
    adopt(spark, t, idCol)
    val prior = IdLayoutSidecar.resolve(spark, t, ids, idCol)
    vet(prior)
    // Materialized ONCE: the intent, the upsert and the bump all
    // consume it — without the checkpoint each would re-run the
    // assignment and the resolve.
    val batch = assigned
      .join(broadcast(prior.select(col(idCol), col("__cur").as("__prev"))),
        Seq(idCol), "left")
      .withColumn(Rehome, when(col("__prev") =!= col(layoutCol), col("__prev")))
      .drop("__prev").localCheckpoint(true)
    IdLayoutSidecar.recordIntent(spark, t,
      batch.select(col(idCol), col(layoutCol).as("cell"), col(Rehome).as("prev_cell")),
      version, idCol)
    TableSink.upsert(spark, t, batch.withColumn("__v", lit(version)),
      Seq(idCol), "__v", rehomeFromCol = Some(Rehome),
      meta = IndexMeta.bumped(t, batch.count()))
  }

  /** A store with no sidecar adopts one, with one backfill. */
  private def adopt(spark: SparkSession, t: String, idCol: String): Unit =
    if (!IdLayoutSidecar.exists(t)) IdLayoutSidecar.backfill(spark, t, idCol)

  /** Remove ids (a frame with `idCol`): the ids' sidecar rows name the
    * only buckets that can hold them, those buckets rewrite without the
    * ids, the rows found are counted into the accounting in the same
    * commit (a row a crash left stale counts too — the direction that
    * rebuilds sooner), and then the sidecar rows drop. Absent ids are
    * no-ops. */
  def remove(spark: SparkSession, root: String, ids: DataFrame,
             idCol: String = "id"): Unit =
      WriterLease.withLease(root, s"$lease-remove") {
    requireExists(root)
    val t = tableDir(root)
    adopt(spark, t, idCol)
    // Materialized ONCE: the count and both deletes consume it. The
    // delete dirties the buckets of `cell` and `prev_cell` alike (the
    // copy is in one of them), so no read of the table has to tell which.
    val found = IdLayoutSidecar.rowsOf(spark, t, ids, idCol).localCheckpoint(true)
    TableSink.delete(spark, t,
      found.select(col(idCol), explode(array(col("cell"), col("prev_cell"))).as(layoutCol))
        .filter(col(layoutCol).isNotNull),
      Seq(idCol), IndexMeta.bumped(t, found.count()))
    IdLayoutSidecar.removeIds(spark, t, found, idCol)
  }

  /** Has the table drifted past `maxAddedFraction` of its fit? */
  def needsRebuild(root: String, maxAddedFraction: Double = 0.5): Boolean =
    IndexMeta.needsRebuild(tableDir(root), maxAddedFraction)

  /** `rebuild` only when [[needsRebuild]] fires. */
  def maintain[A](root: String, maxAddedFraction: Double)(rebuild: => A): Option[A] =
    if (needsRebuild(root, maxAddedFraction)) Some(rebuild) else None

  /** The refit cycle: `refit(dir)` writes the new fit to a FRESH
    * versioned dir and returns the re-assigned rows plus its result;
    * the sidecar drops, one overwrite flips table, fit pointer and
    * reset accounting together, and the sidecar is re-seeded. Old fit
    * dirs are never deleted, so pinned generations keep resolving. */
  def rebuild[A](spark: SparkSession, root: String, idCol: String = "id")
                (refit: String => (DataFrame, A)): A =
      WriterLease.withLease(root, s"$lease-rebuild") {
    requireExists(root)
    val t = tableDir(root)
    val fit = IndexMeta.nextVersionedDir(root, fitPrefix)
    val (rows, out) = refit(s"$root/$fit")
    IdLayoutSidecar.drop(t)
    // materialized ONCE: the rows are derived from the table (or a fit
    // over it) that the overwrite replaces, and the count consumes them
    publish(spark, root, rows.localCheckpoint(true), TableSink.numBucketsOf(t).get,
      Some(fit), idCol)
    out
  }

  /** Pin the live generation (and, through its pointer, its fit) under
    * `tag`: idempotent-or-refuse ([[TableSink.snapshotNoRepoint]]). */
  def snapshot(root: String, tag: String): Unit =
    WriterLease.withLease(root, s"$lease-snapshot") {
      TableSink.snapshotNoRepoint(tableDir(root), tag)
    }

  /** The non-mutating pre-check of [[snapshot]] for composite stores
    * ([[TableSink.snapshotCheck]]). */
  def snapshotCheck(root: String, tag: String): Boolean =
    TableSink.snapshotCheck(tableDir(root), tag)

  def pinned(root: String, tag: String): Boolean =
    TableSink.listSnapshots(tableDir(root)).contains(tag)

  def dropSnapshot(root: String, tag: String): Unit =
    TableSink.dropSnapshot(tableDir(root), tag)

  /** Roll the table back to `tag` (a generation republish; the fit
    * resolves through the restored pointer). The sidecar drops BEFORE
    * the flip and backfills after: a sidecar left over the restored
    * layout could miss an id and plant a second live copy. */
  def restore(spark: SparkSession, root: String, tag: String): Unit =
      WriterLease.withLease(root, s"$lease-restore") {
    val t = tableDir(root)
    IdLayoutSidecar.drop(t)
    TableSink.restore(t, tag)
    // The id is the one stored column outside the row shape; a table
    // with no data yet adopts its sidecar on the next add.
    val known = (row.map(_._1) :+ layoutCol :+ "__v").toSet
    TableSink.storedSchemaOf(spark, t).flatMap(_.fieldNames.find(!known(_)))
      .foreach(IdLayoutSidecar.backfill(spark, t, _))
  }

  /** Storage audit: the table's referential health plus the fit link —
    * the live fit pointer must resolve (a vanished fit strands every
    * probe). A caller-held fit passes by contract. */
  def fsck(spark: SparkSession, root: String): DataFrame = {
    val fit = fitDir(root)
    StoreCheck.tableSink(spark, tableDir(root))
      .unionByName(StoreCheck.row(spark, root, "centroids_resolve",
        fit.forall(StoreFs.get.exists),
        fit.fold("caller-held fit (never rebuilt) — by contract")(f => s"centroid pointer -> $f")))
  }
}

object CellStore {

  /** The add batch's column carrying a re-homed id's previous cell. */
  private val Rehome = "__old_cell"

  /** The entry points the single-table cell stores expose as-is, each
    * forwarded to the store's [[kernel]]. */
  trait Lifecycle {
    def kernel: CellStore

    /** Has the store drifted far enough from its fit to warrant a
      * rebuild? One manifest-line read ([[IndexMeta]] semantics: adds
      * AND removals count; unknown provenance → true). */
    def needsRebuild(dir: String, maxAddedFraction: Double = 0.5): Boolean =
      kernel.needsRebuild(dir, maxAddedFraction)

    /** Pin the current state (table generation + its fit) under `tag`;
      * idempotent-or-refuse on retry. */
    def snapshot(dir: String, tag: String): Unit = kernel.snapshot(dir, tag)

    /** Is `tag` pinned? (Fit dirs are write-once, so the table pin IS
      * the whole store's pin.) */
    def snapshotPinned(dir: String, tag: String): Boolean = kernel.pinned(dir, tag)

    /** Release a tag. */
    def dropSnapshot(dir: String, tag: String): Unit = kernel.dropSnapshot(dir, tag)
  }
}
