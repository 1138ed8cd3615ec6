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
 *    resolves its batch ids through the [[graft.sources.IdLayoutSidecar]]
 *    (O(batch) bucket-pruned) and REFUSES a collision. The other cell
 *    stores re-home a re-added id through that same sidecar; this one
 *    takes an update only as an explicit [[remove]] then append.
 *  - [[remove]]: bucket-pruned copy-on-write delete
 *    ([[graft.sources.CellStore.remove]]) — the sidecar locates the
 *    victims' cells, only their buckets rewrite.
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
 * model-store idiom) so a serving process needs only `dir`. The table
 * lifecycle (init, add, remove, rebuild, snapshot, restore, fsck) is
 * the [[graft.sources.CellStore]] kernel's; this store keeps the
 * codebook fit, the fit guard, the new-ids-only refusal and search.
 */
object PqStore extends graft.sources.CellStore.Lifecycle {

  /** Codes (cell, <id>, codes) laid out by `__cell_s` in `dir` itself;
    * refit dirs `fit_rK/` hold cells + codebook, and a never-rebuilt
    * store's fit is caller-held. */
  val kernel = graft.sources.CellStore("PQ index", "", "__cell_s",
    Seq("cell" -> "bigint", "codes" -> "array<tinyint>"), "fit_r", None, "pqstore")

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
    * [[IvfAnn.writeIndex]] layout + staleness meta) — run-once, like
    * every cell store's init. The coded frame is materialized ONCE
    * here: callers pass the lazy encode pipeline, which the base count
    * and the write would otherwise each re-run. */
  def write(spark: SparkSession, dir: String, coded: DataFrame,
            idCol: String, numBuckets: Int = 64): Unit =
    kernel.init(spark, dir, withLayout(coded).localCheckpoint(true), numBuckets,
      idCol)(_ => ())

  private def withLayout(coded: DataFrame): DataFrame =
    coded.withColumn("__cell_s", col("cell").cast("string"))

  /** Persist the codebook as one row per (sub, cid) — tiny, broadcast
    * on read; the model-store idiom. REFUSED once a [[rebuild]] has
    * run: readers resolve the codebook through the fit pointer, so a
    * write to the legacy `_codebook` path would be silently invisible —
    * a rebuilt store's fit is swapped only by the next [[rebuild]]
    * (codes and codebook must change together). */
  def writeCodebook(spark: SparkSession, dir: String, cb: Codebook): Unit = {
    require(kernel.fitDir(dir).isEmpty,
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
    val path = kernel.fitDir(dir).map(f => s"$f/codebook").getOrElse(s"$dir/_codebook")
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
    val f = kernel.fitDir(dir).getOrElse(throw new IllegalStateException(
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
    kernel.fitDir(dir).foreach { _ =>
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
    * store (see the class note) — the collision probe is the sidecar
    * resolve of [[graft.sources.CellStore.add]]. */
  def append(spark: SparkSession, dir: String, newVectors: DataFrame,
             cells: DataFrame, idCol: String, vecCol: String, cb: Codebook,
             dim: Int, version: Long): Unit =
    kernel.add(spark, dir, newVectors.select(col(idCol)), version, idCol,
      vet = prior => {
        val clash = prior.select(col(idCol)).limit(5).collect().map(_.get(0))
        require(clash.isEmpty,
          s"PQ store at '$dir' already holds batch ids ${clash.mkString(", ")}" +
            " (…) — append takes NEW ids only: a colliding id whose vector " +
            "moved cells would leave two live copies in different buckets " +
            "(silent corruption). PqStore.remove the old ids first, or " +
            "rebuild.")
      }) {
      requireCurrentFit(spark, dir, IvfAnn.centroidMatrix(cells), cb)
      withLayout(encodeResiduals(IvfAnn.assignCells(newVectors, idCol, vecCol, cells),
        cells, idCol, vecCol, cb, dim))
    }

  /** Bucket-pruned takedown ([[graft.sources.CellStore.remove]]);
    * removals advance `added` (a mutation away from the fitted
    * distribution) and a removed id is a legal future append. */
  def remove(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String): Unit =
    kernel.remove(spark, dir, ids, idCol)

  /**
   * The scheduled bulk rebuild [[needsRebuild]] cues — the PQ member of
   * the centroid-refit family ([[graft.sources.CellStore.rebuild]]):
   * refit the coarse cells AND the residual codebook over the CURRENT
   * float corpus (PQ codes are lossy — a refit needs the originals,
   * which the serving deployment keeps cold while this store is what
   * stays hot), re-encode, and swap atomically: the refit artifacts
   * write to a fresh `fit_rK/` dir first, then ONE generation flip
   * carries the re-encoded codes, the fit pointer, and the reset
   * accounting — at every crash point the live codes and the fit they
   * were encoded under resolve together ([[readCells]]/[[readCodebook]]). O(corpus)
   * by design; schedule it. Returns (cells, codebook) — also readable
   * back from the store, which is now self-contained.
   */
  def rebuild(spark: SparkSession, dir: String, corpus: DataFrame,
              idCol: String, vecCol: String, nlist: Int, m: Int, ksub: Int,
              dim: Int, iters: Int = 3): (DataFrame, Codebook) =
    kernel.rebuild(spark, dir, idCol) { fit =>
      val ed = corpus.select(col(idCol),
        col(vecCol).cast("array<double>").as(vecCol))
      val cells = IvfAnn.buildCells(ed, idCol, vecCol, nlist, iters)
      val withResid = IvfAnn.assignCells(ed, idCol, vecCol, cells)
        .join(broadcast(cells), col("cell") === col("cell_id"))
        .select(col(idCol), col("cell"),
          zip_with(col(vecCol), col("cell_vec"), (x, y) => x - y).as("__resid"))
        .localCheckpoint(true) // every codebook Lloyd pass scans it
      val cb = PqOps.trainCodebooks(withResid, idCol, "__resid", m, ksub, dim, iters)
      cells.write.parquet(s"$fit/cells")
      writeCodebookAt(spark, s"$fit/codebook", cb)
      // Encode straight off the checkpointed (id, cell, residual) frame —
      // re-running assignCells here would pay the O(corpus × nlist)
      // coarse assignment a second time for nothing.
      (withLayout(withResid.select(col("cell"), col(idCol),
        PqOps.encode(col("__resid"), cb, dim).as("codes"))), (cells, cb))
    }

  /** The scheduled maintenance host ([[IvfAnn.maintain]] shape): one
    * manifest-line staleness check, the O(corpus) [[rebuild]] only when
    * it fires. Returns Some((cells, codebook)) when a rebuild ran —
    * callers holding the old fit must swap to these (or re-read them
    * from the store) — and None when the index is fresh. */
  def maintain(spark: SparkSession, dir: String, corpus: DataFrame,
               idCol: String, vecCol: String, nlist: Int, m: Int, ksub: Int,
               dim: Int, iters: Int = 3,
               maxAddedFraction: Double = 0.5): Option[(DataFrame, Codebook)] =
    kernel.maintain(dir, maxAddedFraction)(
      rebuild(spark, dir, corpus, idCol, vecCol, nlist, m, ksub, dim, iters))

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
    kernel.requireExists(dir)
    val cents = IvfAnn.centroidMatrix(cells)
    requireCurrentFit(spark, dir, cents, cb)
    // the read keeps only probed cells, each a key of this map
    val cellVec = typedLit(cents.ids.zip(cents.vecs.map(_.toSeq)).toMap)
    IvfAnn.probeTopK(queries, cents, idCol, vecCol, k, nprobe, excludeSelf,
      IvfAnn.readProbedCells(dir, kernel.like(spark, dir, idCol), queries, cents,
        vecCol, nprobe),
      PqOps.reconstructAdd(col("codes"), cellVec(col("cell")), cb))
  }

  /** Storage audit ([[graft.sources.StoreCheck]]): the coded table's
    * referential health and fit link ([[graft.sources.CellStore.fsck]])
    * plus the codebook. A REBUILT store's manifest pins a `fit_rK/`
    * whose cells and codebook the live codes were encoded under — both
    * must resolve, or every reconstruction (hence every probe) is
    * impossible. A never-rebuilt store's fit is caller-held by contract
    * ([[write]]'s scaladoc), so an absent `_codebook` there is advisory,
    * not a failure. */
  def fsck(spark: SparkSession, dir: String): DataFrame = {
    def row(check: String, path: String) = graft.sources.StoreCheck.row(spark, dir,
      check, graft.sources.StoreFs.get.exists(path), s"$check -> $path")
    kernel.fsck(spark, dir).unionByName(kernel.fitDir(dir) match {
      case Some(f) => row("fit_cells_resolve", s"$f/cells")
        .unionByName(row("fit_codebook_resolves", s"$f/codebook"))
      case None => graft.sources.StoreCheck.row(spark, dir, "codebook_resolves",
        ok = true, "caller-held fit (never rebuilt) — by contract")
    })
  }

  /** Roll the store back to a tag: one generation republish; the
    * restored manifest's fit pointer resolves the codebook/cells it was
    * encoded under (old fit dirs are never deleted, and `_codebook` is
    * frozen once tagged — see [[writeCodebook]]). The collision sidecar
    * is dropped before the flip and rebuilt after
    * ([[graft.sources.CellStore.restore]]). */
  def restore(dir: String, tag: String): Unit =
    kernel.restore(SparkSession.active, dir, tag)
}
