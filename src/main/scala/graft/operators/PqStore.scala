package graft.operators

import graft.functions.CentroidKernels.Cents
import graft.operators.PqOps.Codebook
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * PQ codes AT REST — the persisted form of [[PqOps]]'s IVF-PQ
 * (residual-encoded codes in a cell-addressable
 * [[graft.sources.TableSink]], the [[IvfAnn.writeIndex]] layout): a
 * probe opens ONLY the probed cells' parquet FILES, and each row it
 * reads is m code bytes instead of D floats — the two compressions
 * (file pruning × 16:1 bytes) multiply, which is what serves a 100 TB
 * embedding corpus from an index a rack can hold.
 *
 * Lifecycle contracts, aligned with the store family:
 *  - [[write]]: O(corpus), once; centroids and codebook are FITTED
 *    here and stay fixed until a bulk rebuild (the [[IvfAnn]]
 *    fixed-centroids contract — drift erodes recall, never the
 *    correctness of what is probed).
 *  - [[append]]: O(batch) — assign to existing cells, residual-encode
 *    with the FIXED codebook, upsert (only the touched cells' buckets
 *    rewrite). NEW ids only — the [[Bm25Store.append]] disjoint-ids
 *    contract, ENFORCED fail-loud (not just documented): every append
 *    probes the [[graft.sources.IdLayoutSidecar]] for its batch ids
 *    (O(batch) bucket-pruned — the SemDedupStore idiom) and REFUSES a
 *    collision, because the cell-laid-out table cannot re-home an id
 *    whose vector moved cells without the scan
 *    [[IvfAnn.appendToIndex]] documents — a silent second copy in a
 *    different cell would serve a deleted-in-spirit vector forever.
 *    [[remove]] the old id first, then append. A store predating the
 *    sidecar (or just restored — see [[restore]]) adopts it on the
 *    next append via one column-pruned backfill scan.
 *  - [[remove]]: bucket-pruned copy-on-write delete
 *    ([[graft.sources.TableSink.deleteByIds]]) — one column-pruned
 *    (id, cell) scan locates victims, only their buckets rewrite.
 *  - [[search]]: probed-cell file pruning + reconstruct-in-scan
 *    (= ADC) shortlist; the caller refines the shortlist against float
 *    vectors exactly as in x_ann_ivf_pq — spec-pinned equal to the
 *    in-memory [[IvfAnn.annSearch]] over the same reconstruction.
 *  - [[needsRebuild]]/[[rebuild]]/[[maintain]]: the scheduled
 *    centroid+codebook refit once mutations drift past the manifest
 *    accounting's threshold ([[graft.sources.IndexMeta]]) — codes,
 *    cells, and codebook swap in ONE generation flip via the fit
 *    pointer, after which the store is self-contained
 *    ([[readCells]]/[[readCodebook]]).
 *
 * The codebook itself is m·ksub·(D/m) doubles — persist it next to the
 * index with [[writeCodebook]]/[[readCodebook]] (one tiny parquet, the
 * model-store idiom) so a serving process needs only `dir`.
 */
object PqStore {

  /** Residual-encode a cell-assigned corpus under `cb`:
    * (cell, idCol, codes). Map-only. */
  def encodeResiduals(corpusWithCells: DataFrame, cells: DataFrame,
                      idCol: String, vecCol: String, cb: Codebook,
                      dim: Int): DataFrame =
    corpusWithCells
      .join(broadcast(cells), col("cell") === col("cell_id"))
      .select(col("cell"), col(idCol),
        PqOps.encodeResidual(col(vecCol), col("cell_vec"), cb, dim).as("codes"))

  /** Persist an [[encodeResiduals]] corpus cell-addressably (the
    * [[IvfAnn.writeIndex]] layout + staleness meta). The coded frame is
    * materialized ONCE here — callers pass the lazy encode pipeline,
    * and both the meta's base count and the upsert's write would
    * otherwise re-run the O(corpus) assign+encode. */
  def write(spark: SparkSession, dir: String, coded: DataFrame,
            idCol: String, numBuckets: Int = 64): Unit = {
    val mat = coded.localCheckpoint(true)
    graft.sources.TableSink.upsert(spark, dir,
      mat.withColumn("__cell_s", col("cell").cast("string"))
        .withColumn("__v", lit(0L)),
      Seq(idCol), "__v", numBuckets, layoutCol = Some("__cell_s"),
      meta = Some(graft.sources.IndexMeta.fresh(mat.count())))
    // The id→cell sidecar makes append's disjoint-ids check an O(batch)
    // bucket-pruned probe instead of a table scan; seeded straight from
    // the checkpointed frame (no table re-read).
    graft.sources.IdLayoutSidecar.recordIntent(spark, dir,
      mat.select(col(idCol), col("cell").cast("string").as("cell"),
        lit(null).cast("string").as("prev_cell")),
      version = 0L, idCol)
  }

  /** The fit-artifact dir the LIVE generation was encoded under: a
    * [[rebuild]] swaps codes, cells, and codebook atomically by writing
    * the refit artifacts to a fresh `fit_rK/` and carrying the pointer
    * in the same manifest commit as the re-encoded table
    * ([[graft.sources.IndexMeta]].cellsPtr — the Hybrid.rebuild
    * idiom); never-rebuilt stores fall back to the init-time
    * `_codebook` / caller-held cells. */
  private def fitDir(spark: SparkSession, dir: String): Option[String] =
    graft.sources.IndexMeta.cellsPtr(dir).map(p => s"$dir/$p")

  /** Persist the codebook as one row per (sub, cid) — tiny, broadcast
    * on read; the model-store idiom. REFUSED once a [[rebuild]] has
    * run: readers resolve the codebook through the fit pointer, so a
    * write to the legacy `_codebook` path would be silently invisible —
    * a rebuilt store's fit is swapped only by the next [[rebuild]]
    * (codes and codebook must change together). */
  def writeCodebook(spark: SparkSession, dir: String, cb: Codebook): Unit = {
    require(fitDir(spark, dir).isEmpty,
      s"the PQ store at '$dir' carries a rebuild fit pointer — readers " +
        "resolve the codebook through it, so writeCodebook would be " +
        "invisible; refit via PqStore.rebuild instead")
    // A snapshot pins the codes AND the fit they were encoded under;
    // `_codebook` is the never-rebuilt store's fit artifact, so
    // rewriting it would silently change every pinned tag's replay.
    require(graft.sources.TableSink.listSnapshots(dir).isEmpty,
      s"the PQ store at '$dir' carries snapshot tags — `_codebook` is " +
        "pinned state; refit via PqStore.rebuild (which writes a fresh " +
        "fit dir) instead of rewriting it in place")
    writeCodebookAt(spark, s"$dir/_codebook", cb)
  }

  private def writeCodebookAt(spark: SparkSession, path: String, cb: Codebook): Unit = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.map { case (c, i) => (s, i, c.toSeq) }
    }.toSeq.toDF("sub", "cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readCodebook(spark: SparkSession, dir: String): Codebook = {
    val path = fitDir(spark, dir).map(f => s"$f/codebook").getOrElse(s"$dir/_codebook")
    val rows = graft.sources.StoreRead.parquet(spark, Seq(path))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val m = rows.keys.map(_._1).max + 1
    val ksub = rows.keys.map(_._2).max + 1
    Array.tabulate(m, ksub)((s, c) => rows((s, c)))
  }

  /** The coarse cells the LIVE generation was assigned under — present
    * only after a [[rebuild]] (a freshly-written store's cells are the
    * caller's, fitted before [[write]]); probes must use these, not a
    * stale caller-held copy. */
  def readCells(spark: SparkSession, dir: String): DataFrame = {
    val f = fitDir(spark, dir).getOrElse(throw new IllegalStateException(
      s"PQ store at '$dir' has never been rebuilt — its cells live with " +
        "the caller that fitted them before write()"))
    graft.sources.StoreRead.parquet(spark, Seq(s"$f/cells"))
  }

  /** Stale-fit guard for the caller-held (cells, cb) paths: once a
    * [[rebuild]] has run, cell ids 0..nlist-1 exist in EVERY fit, so a
    * caller still holding the pre-rebuild fit would probe cells by the
    * old geometry and reconstruct new codes under the old codebook —
    * silently wrong top-k (or an append whose codes are inconsistent
    * with the stored fit pointer). The check is driver-side and tiny
    * (nlist + m·ksub rows) and only runs on rebuilt stores. */
  private def requireCurrentFit(spark: SparkSession, dir: String,
                                cents: => Cents, cb: Codebook): Unit =
    fitDir(spark, dir).foreach { _ =>
      val (held, fit) = (cents, IvfAnn.centroidMatrix(readCells(spark, dir)))
      require(held.ids.sameElements(fit.ids) &&
          held.vecs.corresponds(fit.vecs)(java.util.Arrays.equals(_, _)),
        s"the caller's cells are not the fit the PQ store at '$dir' was " +
          "rebuilt under — re-read them via PqStore.readCells")
      val scb = readCodebook(spark, dir)
      require(scb.length == cb.length && scb.zip(cb).forall { case (a, b) =>
        a.length == b.length && a.zip(b).forall { case (x, y) =>
          java.util.Arrays.equals(x, y) } },
        s"the caller's codebook is not the fit the PQ store at '$dir' was " +
          "rebuilt under — re-read it via PqStore.readCodebook")
    }

  /** O(batch) add of NEW ids under the fixed (cells, cb): only the
    * landed cells' buckets rewrite; staleness `added` advances in the
    * same commit. REFUSES loudly when any batch id already lives in the
    * store (see the class note) — the collision probe is the
    * [[graft.sources.IdLayoutSidecar]]'s O(batch) bucket-pruned
    * resolve; a sidecar-less store (pre-sidecar history, or post-
    * [[restore]]) is adopted first with one column-pruned backfill. */
  def append(spark: SparkSession, dir: String, newVectors: DataFrame,
             cells: DataFrame, idCol: String, vecCol: String, cb: Codebook,
             dim: Int, version: Long): Unit =
      graft.sources.WriterLease.withLease(dir, "pqstore-append") {
    require(graft.sources.TableSink.layoutColOf(dir).isDefined,
      s"no PQ index at '$dir' — write one with PqStore.write first")
    requireCurrentFit(spark, dir, IvfAnn.centroidMatrix(cells), cb)
    if (!graft.sources.IdLayoutSidecar.exists(dir))
      graft.sources.IdLayoutSidecar.backfill(spark, dir, idCol)
    val clash = graft.sources.IdLayoutSidecar.resolve(spark, dir,
        newVectors.select(col(idCol)), idCol)
      .select(col(idCol)).limit(5).collect().map(_.get(0))
    require(clash.isEmpty,
      s"PQ store at '$dir' already holds batch ids ${clash.mkString(", ")}" +
        " (…) — append takes NEW ids only: a colliding id whose vector " +
        "moved cells would leave two live copies in different buckets " +
        "(silent corruption). PqStore.remove the old ids first, or " +
        "rebuild.")
    val coded = encodeResiduals(
        IvfAnn.assignCells(newVectors, idCol, vecCol, cells),
        cells, idCol, vecCol, cb, dim)
      .localCheckpoint(true) // sidecar intent + table upsert both consume it
    // Intent first (the sidecar invariant: a main-table copy, if any,
    // sits at its sidecar cell) — a crash before the table commit leaves
    // no main copy, so resolve still reports the ids absent and a replay
    // re-records idempotently.
    graft.sources.IdLayoutSidecar.recordIntent(spark, dir,
      coded.select(col(idCol), col("cell").cast("string").as("cell"),
        lit(null).cast("string").as("prev_cell")),
      version, idCol)
    graft.sources.TableSink.upsert(spark, dir,
      coded.withColumn("__cell_s", col("cell").cast("string"))
        .withColumn("__v", lit(version)),
      Seq(idCol), "__v",
      meta = graft.sources.IndexMeta.bumped(dir,
        newVectors.select(col(idCol)).count()))
  }

  /** Bucket-pruned takedown; removals advance `added` (a mutation away
    * from the fitted distribution — the [[IvfAnn.removeFromIndex]]
    * accounting argument). */
  def remove(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String): Unit =
      graft.sources.WriterLease.withLease(dir, "pqstore-remove") {
    require(graft.sources.TableSink.layoutColOf(dir).isDefined,
      s"no PQ index at '$dir' — write one with PqStore.write first")
    graft.sources.TableSink.deleteByIds(spark, dir, ids, idCol,
      metaFor = victims => graft.sources.IndexMeta.bumped(dir, victims.count()))
    // Keep the collision sidecar garbage-free: a removed id is a LEGAL
    // future append (a stale sidecar row stays harmless — resolve finds
    // no main copy — but would accumulate forever).
    graft.sources.IdLayoutSidecar.removeIds(spark, dir, ids, idCol)
  }

  /** The codebook/centroid staleness trigger — [[graft.sources
    * .IndexMeta]] semantics over this store's manifest accounting. */
  def needsRebuild(dir: String, maxAddedFraction: Double = 0.5): Boolean =
    graft.sources.IndexMeta.needsRebuild(dir, maxAddedFraction)

  /**
   * The scheduled bulk rebuild [[needsRebuild]] cues — the PQ member of
   * the centroid-refit family ([[IvfAnn.rebuildIndex]],
   * [[graft.pipelines.Hybrid.rebuild]]): refit the coarse cells AND the
   * residual codebook over the CURRENT float corpus (PQ codes are
   * lossy — a refit needs the originals, which the serving deployment
   * keeps cold while this store is what stays hot), re-encode, and swap
   * atomically: the refit artifacts write to a fresh `fit_rK/` dir
   * first, then ONE [[graft.sources.TableSink]] generation flip carries
   * the re-encoded codes, the fit pointer, and the reset accounting —
   * at every crash point the live codes and the fit they were encoded
   * under resolve together ([[readCells]]/[[readCodebook]]). O(corpus)
   * by design; schedule it. Returns (cells, codebook) — also readable
   * back from the store, which is now self-contained.
   */
  def rebuild(spark: SparkSession, dir: String, corpus: DataFrame,
              idCol: String, vecCol: String, nlist: Int, m: Int, ksub: Int,
              dim: Int, iters: Int = 3): (DataFrame, Codebook) =
      graft.sources.WriterLease.withLease(dir, "pqstore-rebuild") {
    require(graft.sources.TableSink.tableExists(dir),
      s"no PQ index at '$dir' — write one with PqStore.write first")
    val ed = corpus.select(col(idCol),
      col(vecCol).cast("array<double>").as(vecCol))
    val cells = IvfAnn.buildCells(ed, idCol, vecCol, nlist, iters)
    val withResid = IvfAnn.assignCells(ed, idCol, vecCol, cells)
      .join(broadcast(cells), col("cell") === col("cell_id"))
      .select(col(idCol), col("cell"),
        zip_with(col(vecCol), col("cell_vec"), (x, y) => x - y).as("__resid"))
      .localCheckpoint(true) // every codebook Lloyd pass scans it
    val cb = PqOps.trainCodebooks(withResid, idCol, "__resid", m, ksub, dim, iters)
    val fit = nextFitDirName(dir)
    cells.write.parquet(s"$dir/$fit/cells")
    writeCodebookAt(spark, s"$dir/$fit/codebook", cb)
    // Encode straight off the checkpointed (id, cell, residual) frame —
    // re-running assignCells here would pay the O(corpus × nlist)
    // coarse assignment a second time for nothing.
    val coded = withResid
      .select(col("cell"), col(idCol),
        PqOps.encode(col("__resid"), cb, dim).as("codes"))
      .withColumn("__cell_s", col("cell").cast("string"))
      .withColumn("__v", lit(0L))
      .localCheckpoint(true) // base count + overwrite both consume it
    // A rebuild re-homes every row, so the surviving sidecar would
    // violate its cell/prev_cell invariant: drop FIRST (crash windows
    // fall back to append's column-pruned adoption scan — correct,
    // unpruned), re-seed from the checkpointed frame after the flip.
    graft.sources.IdLayoutSidecar.drop(dir)
    graft.sources.TableSink.overwrite(spark, dir, coded, Seq(idCol),
      numBuckets = graft.sources.TableSink.numBucketsOf(dir).getOrElse(64),
      layoutCol = Some("__cell_s"),
      meta = Some(graft.sources.IndexMeta.fresh(coded.count(), Some(fit))))
    graft.sources.IdLayoutSidecar.recordIntent(spark, dir,
      coded.select(col(idCol), col("__cell_s").as("cell"),
        lit(null).cast("string").as("prev_cell")),
      version = 0L, idCol)
    (cells, cb)
  }

  private def nextFitDirName(dir: String): String =
    graft.sources.IndexMeta.nextVersionedDir(dir, "fit_r")

  /** The scheduled maintenance host ([[IvfAnn.maintain]] shape): one
    * manifest-line staleness check, the O(corpus) [[rebuild]] only when
    * it fires. Returns Some((cells, codebook)) when a rebuild ran —
    * callers holding the old fit must swap to these (or re-read them
    * from the store) — and None when the index is fresh. */
  def maintain(spark: SparkSession, dir: String, corpus: DataFrame,
               idCol: String, vecCol: String, nlist: Int, m: Int, ksub: Int,
               dim: Int, iters: Int = 3,
               maxAddedFraction: Double = 0.5): Option[(DataFrame, Codebook)] =
    if (needsRebuild(dir, maxAddedFraction))
      Some(rebuild(spark, dir, corpus, idCol, vecCol, nlist, m, ksub, dim, iters))
    else None

  /**
   * Shortlist search over the persisted codes: probe the nprobe nearest
   * cells, open ONLY their buckets' files, reconstruct
   * cell_centroid + codes·codebook INSIDE the scan projection (the ADC
   * value), bounded-heap top-k. Callers refine the shortlist against
   * float vectors (the x_ann_ivf_pq second stage).
   */
  def search(dir: String, queries: DataFrame, cells: DataFrame, cb: Codebook,
             idCol: String, vecCol: String, k: Int, nprobe: Int,
             excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    require(graft.sources.TableSink.tableExists(dir),
      s"no persisted PQ index at '$dir' (no table manifest) — " +
        "write one with PqStore.write first")
    require(graft.sources.TableSink.layoutColOf(dir).isDefined,
      s"table at '$dir' has no layout column — it was not written by " +
        "PqStore.write, so cell probes cannot address its buckets")
    val cents = IvfAnn.centroidMatrix(cells)
    requireCurrentFit(spark, dir, cents, cb)
    // Derive the stored id type from the table's own schema: a store
    // written with string ids must present string ids in the empty-read
    // fallback too — assuming long here mis-typed the probe for any
    // non-long idCol (TableSink.storedColType; footer memoized per file).
    val idType = graft.sources.TableSink.storedColType(spark, dir, idCol)
    val like = spark.range(0).select(lit(0L).as("cell"),
      lit(null).cast(idType).as(idCol),
      array().cast("array<tinyint>").as("codes"))
    // the read keeps only probed cells, each a key of this map
    val cellVec = typedLit(cents.ids.zip(cents.vecs.map(_.toSeq)).toMap)
    IvfAnn.probeTopK(queries, cents, idCol, vecCol, k, nprobe, excludeSelf,
      IvfAnn.readProbedCells(dir, like, queries, cents, vecCol, nprobe),
      PqOps.reconstructAdd(col("codes"), cellVec(col("cell")), cb))
  }

  /** Storage audit ([[graft.sources.StoreCheck]]): the coded table's
    * referential health plus the fit link. A REBUILT store's manifest
    * pins a `fit_rK/` whose cells and codebook the live codes were
    * encoded under — both must resolve, or every reconstruction (hence
    * every probe) is impossible. A never-rebuilt store's fit is
    * caller-held by contract ([[write]]'s scaladoc), so an absent
    * `_codebook` there is advisory, not a failure. */
  def fsck(spark: SparkSession, dir: String): DataFrame = {
    def exists(p: String) = graft.sources.StoreFs.get.exists(p)
    val fitRows = fitDir(spark, dir) match {
      case Some(f) =>
        graft.sources.StoreCheck.row(spark, dir, "fit_cells_resolve",
            exists(s"$f/cells"), s"cells -> $f/cells")
          .unionByName(graft.sources.StoreCheck.row(spark, dir,
            "fit_codebook_resolves", exists(s"$f/codebook"),
            s"codebook -> $f/codebook"))
      case None =>
        val cb = s"$dir/_codebook"
        graft.sources.StoreCheck.row(spark, dir, "codebook_resolves",
          ok = true,
          if (exists(cb)) s"persisted at $cb"
          else "caller-held fit (never rebuilt, no persisted codebook) — by contract")
    }
    // The collision sidecar is self-healing (append adopts a sidecar-less
    // store with one backfill scan), so absence is advisory, not a fail.
    val sidecarRow = graft.sources.StoreCheck.row(spark, dir,
      "id_sidecar", ok = true,
      if (graft.sources.IdLayoutSidecar.exists(dir))
        s"present at ${graft.sources.IdLayoutSidecar.dir(dir)}"
      else "absent — next append backfills (column-pruned adoption scan)")
    graft.sources.StoreCheck.tableSink(spark, dir)
      .unionByName(fitRows).unionByName(sidecarRow)
  }

  // ── Snapshot / restore ──────────────────────────────────────────────
  //
  // The coded table's manifest meta carries the fit pointer and fit
  // artifacts are write-once (a rebuild writes a FRESH `fit_rK/`, never
  // overwrites; the init-time `_codebook` is frozen by the snapshot
  // guard in [[writeCodebook]]) — so pinning the TableSink generation
  // pins the WHOLE store, and a restore resolves codebook and cells
  // through the restored generation's own pointer. The Hybrid.restore
  // idiom with zero extra copies.

  /** Pin the current store state (codes + its fit, via the manifest
    * pointer) under `tag`. Idempotent-or-refuse via
    * [[graft.sources.TableSink.snapshotNoRepoint]]: a re-taken tag over
    * an unchanged (content-identical) store is a no-op, a tag whose
    * store moved on refuses loudly — a bare `TableSink.snapshot` would
    * re-tag, and a crashed [[graft.pipelines.Release.freeze]] re-run
    * must not commit a mixed-instants release. */
  def snapshot(dir: String, tag: String): Unit =
    graft.sources.TableSink.snapshotNoRepoint(dir, tag, context = "snapshot")

  def dropSnapshot(dir: String, tag: String): Unit =
    graft.sources.TableSink.dropSnapshot(dir, tag)

  /** Is `tag` pinned? (fit artifacts are write-once, so the table pin
    * IS the composite pin — [[graft.pipelines.Release]] pre-check). */
  def snapshotPinned(dir: String, tag: String): Boolean =
    graft.sources.TableSink.listSnapshots(dir).contains(tag)

  /** Roll the store back to a tag: one generation republish; the
    * restored manifest's fit pointer resolves the codebook/cells it was
    * encoded under (old fit dirs are never deleted). The collision
    * sidecar tracks the LIVE generation, not the tag — it drops here
    * and the next [[append]] adopts the restored table with one
    * backfill scan. */
  def restore(dir: String, tag: String): Unit =
    graft.sources.WriterLease.withLease(dir, "pqstore-restore") {
      graft.sources.TableSink.restore(dir, tag)
      graft.sources.IdLayoutSidecar.drop(dir)
    }
}
