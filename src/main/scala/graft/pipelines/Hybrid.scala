package graft.pipelines

import graft.operators.{Bm25, Bm25Store, IvfAnn, Rrf}
import graft.sources.TableSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted-store hybrid retrieval as ONE callable — the serving-side
 * sibling of [[Admission.run]]: `search(storeDir, queries, k)` fuses a
 * lexical run over the standing [[Bm25Store]] postings with a semantic
 * run over the standing cell-addressable ANN table, by reciprocal-rank
 * fusion ([[Rrf.fuse]]). The in-memory `x_hybrid_rrf` composition stays
 * the executable spec of the fusion semantics; this is the production
 * shape where neither index is rebuilt per query batch:
 *
 *  - the lexical side reads ONLY the row groups containing the query
 *    terms (`pruneTermScan` pushed in-list over term-clustered postings
 *    parts), with always-current BM25 statistics off the additive store;
 *  - the semantic side opens ONLY the probed cells' bucket FILES
 *    ([[TableSink.readBuckets]] under the cell layout — nprobe/nlist of
 *    the index's files, not just its rows).
 *
 * Store layout under `storeDir` (single-writer maintenance, same
 * contract as [[Admission]]):
 *
 *  - `bm25/` — a [[Bm25Store]] (postings/df/stats parts + one ledger);
 *  - `ann/`  — a value-addressable [[TableSink]] of (cell, id, vec) laid
 *    out by cell — FLOAT vectors, so a full probe (nprobe = nlist) is
 *    EXACT brute-force kNN and the spec can pin stored == in-memory
 *    fusion; swap in [[IvfAnn.writeIndex]]'s SQ8 store when the 4×
 *    memory/IO saving outweighs exactness;
 *  - `cells/` — the nlist cell centroids (parquet; tiny by contract).
 *
 * Refresh contract: `Bm25Store.append` + [[appendVectors]] per admitted
 * batch (both O(batch)); `Bm25Store.compact` and centroid re-fit
 * ([[IvfAnn.maintain]]-style) as scheduled maintenance.
 */
object Hybrid {

  private def bm25Dir(storeDir: String) = s"$storeDir/bm25"
  private def annDir(storeDir: String) = s"$storeDir/ann"
  private def cellsDir(storeDir: String) = s"$storeDir/cells"

  /** Build both standing indexes from the current corpus — O(corpus),
    * once ([[Bm25Store.init]] run-once contract included). `docs` and
    * `vecs` share an id domain (the reference's article id). */
  def init(spark: SparkSession, storeDir: String,
           docs: DataFrame, idCol: String, textCol: String,
           vecs: DataFrame, vecIdCol: String, vecCol: String,
           nlist: Int, iters: Int = 3, numBuckets: Int = 64): Unit = {
    Bm25Store.init(spark, bm25Dir(storeDir), docs, idCol, textCol)
    val cells = IvfAnn.buildCells(vecs, vecIdCol, vecCol, nlist, iters)
    cells.write.mode("overwrite").parquet(cellsDir(storeDir))
    TableSink.overwrite(spark, annDir(storeDir),
      annRows(vecs, vecIdCol, vecCol, cells).withColumn("__v", lit(0L)),
      Seq("id"), numBuckets, layoutCol = Some("__cell_s"),
      // Staleness accounting from day one ([[graft.sources.IndexMeta]]):
      // base = the rows this fit saw; [[needsRebuild]] cues the refit.
      meta = Some(graft.sources.IndexMeta.fresh(
        vecs.select(col(vecIdCol)).count())))
    // id→cell sidecar from day one: keeps every later [[appendVectors]]
    // re-home probe O(batch) instead of an O(corpus) projection scan.
    graft.sources.IdLayoutSidecar.backfill(spark, annDir(storeDir))
  }

  /** The stored ANN leg's id type — the store keeps the caller's id
    * verbatim, so every empty-read `like` frame must present THAT
    * type, not an assumed long ([[TableSink.storedColType]]; the
    * footer read behind it is memoized per data file, so the serving
    * path pays no per-query footer read). */
  private def storedIdType(spark: SparkSession,
                           storeDir: String): org.apache.spark.sql.types.DataType =
    TableSink.storedColType(spark, annDir(storeDir), "id")

  /** Canonical stored ANN rows (cell, id, vec, __cell_s): the serving
    * path's query frames carry arbitrary column names, so the store
    * normalizes its own once at write time instead of recording the
    * writer's names. ONE definition for init and appendVectors — the
    * write paths must not drift. */
  private def annRows(vecs: DataFrame, vecIdCol: String, vecCol: String,
                      cells: DataFrame): DataFrame =
    IvfAnn.assignCells(vecs, vecIdCol, vecCol, cells)
      .select(col("cell"), col(vecIdCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("__cell_s", col("cell").cast("string"))

  /** The persisted cell centroids (the serving side must probe with the
    * centroids the ANN table was assigned under). The live set resolves
    * through the ANN manifest's centroid pointer ([[graft.sources
    * .IndexMeta]].cellsPtr — a [[rebuild]] swaps table and centroids in
    * ONE manifest commit), falling back to `cells/` for never-rebuilt
    * stores. With `tag`, the centroids pinned by [[snapshot]] — a pinned
    * search must carry its own copy. */
  def readCells(spark: SparkSession, storeDir: String,
                tag: Option[String] = None): DataFrame =
    graft.sources.StoreRead.parquet(spark, Seq(tag.fold(
      graft.sources.IndexMeta.cellsPtr(annDir(storeDir))
        .fold(cellsDir(storeDir))(p => s"$storeDir/$p")
    )(t => cellsSnapDir(storeDir, t))))

  private def cellsSnapDir(storeDir: String, tag: String) =
    s"$storeDir/cells_snapshots/$tag"

  /**
   * Pin the ENTIRE retrieval state under one `tag` — "the exact indexes
   * run X retrieved against": the BM25 parts-list
   * ([[graft.sources.DeltaParts.snapshot]]), the ANN table generation
   * ([[TableSink.snapshot]]), and a copy of the (tiny, nlist-row) cell
   * centroids (a later centroid rebuild overwrites `cells/` in place).
   * [[search]] with the tag replays byte-identically; maintenance
   * (appends, compactions, GC) never deletes pinned state. Same
   * non-transactional caveat as [[Admission.snapshot]]: take it between
   * refresh batches (single-writer maintenance is the quiescent point).
   */
  def snapshot(spark: SparkSession, storeDir: String, tag: String): Unit =
      graft.sources.WriterLease.withLease(storeDir, "hybrid-snapshot") {
    // Replay-safe composition: every piece is pre-checked or
    // self-guarding BEFORE anything mutates, so a retried snapshot
    // (crash recovery, orchestration replay) either COMPLETES an
    // unchanged half-taken tag or REFUSES loudly — never silently
    // re-points a piece at post-tag state (TableSink.snapshot alone
    // would re-tag). A refusal after intervening maintenance means the
    // tag is burned: dropSnapshot and take a fresh one.
    val annD = annDir(storeDir)
    val existingAnn = TableSink.listSnapshots(annD).get(tag)
    existingAnn.foreach { pinned =>
      require(TableSink.currentSeq(annD).contains(pinned),
        s"snapshot tag '$tag' at '$annD' already pins generation $pinned but " +
          s"the live generation is ${TableSink.currentSeq(annD)} — the store " +
          "moved on since a half-taken snapshot; refusing to re-point. Drop " +
          "the tag and take a fresh one.")
    }
    Bm25Store.snapshot(bm25Dir(storeDir), tag)   // idempotent-or-refuse
    if (existingAnn.isEmpty) TableSink.snapshot(annD, tag)
    val cdir = cellsSnapDir(storeDir, tag)
    val sfs = graft.sources.StoreFs.get
    // A partial cells copy (no _SUCCESS) is a crash artifact: rewrite it;
    // a complete copy is kept (cells at tag time == cells now, or the
    // ANN pre-check above would have refused — a centroid rebuild
    // republishes the ANN generation).
    if (sfs.exists(cdir) && !sfs.exists(s"$cdir/_SUCCESS"))
      graft.sources.DeltaParts.rmDir(cdir)
    if (!sfs.exists(cdir))
      readCells(spark, storeDir).write.parquet(cdir)
  }

  /** Is `tag` fully pinned across all three pieces? The composite
    * pre-check [[restore]] and [[Release]] gate on. */
  def snapshotPinned(storeDir: String, tag: String): Boolean =
    graft.sources.DeltaParts.snapshots(bm25Dir(storeDir)).contains(tag) &&
      TableSink.listSnapshots(annDir(storeDir)).contains(tag) &&
      graft.sources.StoreFs.get.exists(
        s"${cellsSnapDir(storeDir, tag)}/_SUCCESS")

  /** Release a [[snapshot]] tag on all three pieces. */
  def dropSnapshot(spark: SparkSession, storeDir: String, tag: String): Unit =
      graft.sources.WriterLease.withLease(storeDir, "hybrid-drop-snapshot") {
    Bm25Store.dropSnapshot(bm25Dir(storeDir), tag)
    TableSink.dropSnapshot(annDir(storeDir), tag)
    graft.sources.DeltaParts.rmDir(cellsSnapDir(storeDir, tag))
  }

  /** Roll the LIVE retrieval state back to a [[snapshot]] tag — the
    * lexical parts-list ([[Bm25Store.restore]]), the ANN generation
    * ([[TableSink.restore]]), and, through the restored generation's
    * own manifest pointer, the centroids it was assigned under (old
    * centroid dirs are never deleted, so the pointer always resolves —
    * see [[rebuild]]). Composite pre-check before EITHER leg mutates
    * (the [[Admission.restore]] discipline): a half-restorable hybrid
    * must refuse up front, or it serves lexical hits from one era and
    * vectors from another. A crash mid-restore re-runs to completion —
    * both pre-checks still hold and each leg's restore is idempotent
    * (part names and generations stay write-once across restores). The
    * id→cell sidecar drops BEFORE the generation flip and backfills
    * after (the [[graft.operators.SemDedupStore.restore]] ordering: at
    * every crash point the surviving sidecar matches the live layout,
    * or is absent and the re-home path falls back to the full scan). */
  def restore(spark: SparkSession, storeDir: String, tag: String): Unit =
      graft.sources.WriterLease.withLease(storeDir, "hybrid-restore") {
    val annD = annDir(storeDir)
    require(snapshotPinned(storeDir, tag),
      s"snapshot tag '$tag' is not fully pinned across the hybrid store " +
        s"at '$storeDir' — refusing a half-restorable composite")
    Bm25Store.restore(bm25Dir(storeDir), tag)
    graft.sources.IdLayoutSidecar.drop(annD)
    TableSink.restore(annD, tag)
    graft.sources.IdLayoutSidecar.backfill(spark, annD)
  }

  /** O(batch) ANN-side refresh: assign new vectors to the EXISTING
    * cells and upsert — only the touched cells' buckets rewrite (the
    * [[IvfAnn.appendToIndex]] contract, float store). The BM25 twin is
    * [[Bm25Store.append]]; call both per admitted batch.
    *
    * Re-ADDED ids whose updated vector lands in a DIFFERENT cell are a
    * layout migration (the appendToIndex contract's second half): the
    * old cell's copy must be rewritten away in the same commit or a
    * probe of the old cell serves a stale vector and a wide probe
    * returns the id twice. The re-home probe is O(batch) through the
    * [[graft.sources.IdLayoutSidecar]]: the batch ids' sidecar buckets
    * resolve candidate cells, only those cells' bucket files open —
    * the standing table is never projection-scanned. (A pre-sidecar
    * store falls back to the correct full column-pruned scan; run
    * `IdLayoutSidecar.backfill` once to adopt it.) The sidecar intent
    * commits BEFORE the ANN upsert, so at every crash point a stored
    * row sits in its sidecar `cell` or `prev_cell` bucket. Callers
    * that KNOW every id is new skip the probe with
    * `assumeNewIds = true` — a promise, not a check. */
  def appendVectors(spark: SparkSession, storeDir: String, newVecs: DataFrame,
                    vecIdCol: String, vecCol: String, version: Long,
                    assumeNewIds: Boolean = false): Unit =
      graft.sources.WriterLease.withLease(storeDir, "hybrid-append") {

    val cells = readCells(spark, storeDir)
    val assigned = annRows(newVecs, vecIdCol, vecCol, cells)
    val sidecar = graft.sources.IdLayoutSidecar.exists(annDir(storeDir))
    // Materialized ONCE: the intent commit, the upsert, and the meta
    // count all consume this frame — without the checkpoint each would
    // re-run the assignment join and the re-home probe.
    val batch = (
      if (assumeNewIds) assigned.withColumn("__old_cell", lit(null).cast("string"))
      else {
        val old =
          if (sidecar)
            graft.sources.IdLayoutSidecar.resolve(spark, annDir(storeDir),
                newVecs.select(col(vecIdCol).as("id")))
              .select(col("id"), col("__cur").as("__prev"))
          else {
            val like = spark.range(0).select(
              lit(0L).cast(storedIdType(spark, storeDir)).as("id"),
              lit("").as("__cell_s"))
            TableSink.read(spark, annDir(storeDir), like)
              .select(col("id"), col("__cell_s").as("__prev"))
              .join(newVecs.select(col(vecIdCol).as("id")), Seq("id"), "left_semi")
          }
        assigned.join(broadcast(old), Seq("id"), "left")
          .withColumn("__old_cell",
            when(col("__prev").isNotNull && col("__prev") =!= col("__cell_s"),
              col("__prev")))
          .drop("__prev")
      }).localCheckpoint(true)
    if (sidecar)
      graft.sources.IdLayoutSidecar.recordIntent(spark, annDir(storeDir),
        batch.select(col("id"), col("__cell_s").as("cell"),
          col("__old_cell").as("prev_cell")), version)
    TableSink.upsert(spark, annDir(storeDir),
      batch.withColumn("__v", lit(version)),
      Seq("id"), "__v", rehomeFromCol = Some("__old_cell"),
      // Staleness: adds drift the corpus from the centroids' fit — the
      // bump rides the SAME commit as the rows it counts.
      meta = graft.sources.IndexMeta.bumped(annDir(storeDir), batch.count()))
  }

  /** Has the ANN leg drifted far enough from its centroid fit to warrant
    * a [[rebuild]]? One manifest-line read ([[graft.sources.IndexMeta]]
    * semantics: adds AND removals count; unknown provenance → true). */
  def needsRebuild(storeDir: String, maxAddedFraction: Double = 0.5): Boolean =
    graft.sources.IndexMeta.needsRebuild(annDir(storeDir), maxAddedFraction)

  /**
   * The scheduled centroid-refit rebuild for the ANN leg — what
   * [[needsRebuild]] cues once appends/removals have drifted the stored
   * corpus from the fixed centroids' fit (recall erosion, never
   * correctness): re-fit nlist centroids FROM THE STORED MEMBERS,
   * re-home every row, and swap atomically. O(corpus) by design —
   * schedule it like [[graft.operators.IvfAnn.rebuildIndex]], not per
   * batch. The BM25 leg is untouched (term postings have no centroid
   * fit; its maintenance is [[Bm25Store.compact]]).
   *
   * Atomicity at every crash point (single-writer maintenance):
   *  1. the new centroids write to a FRESH `cells_rK/` dir — the live
   *     manifest still points at the old set;
   *  2. the id→cell sidecar DROPS — callers fall back to the correct
   *     (unpruned) full-scan re-home path while it is absent;
   *  3. the members table overwrites in one [[TableSink]] generation
   *     flip whose manifest meta carries the `cells_rK` pointer — table
   *     and centroids swap TOGETHER ([[readCells]] resolves through the
   *     pointer), and the staleness accounting resets in the same
   *     commit;
   *  4. the sidecar backfills, restoring the O(batch) re-home path.
   * Snapshots taken before the rebuild still replay: [[snapshot]] pins
   * the ANN generation and its OWN copy of the centroids, and old
   * centroid dirs are never deleted (nlist rows each — negligible).
   * Returns the new centroids.
   */
  def rebuild(spark: SparkSession, storeDir: String, nlist: Int,
              iters: Int = 3): DataFrame =
      graft.sources.WriterLease.withLease(storeDir, "hybrid-rebuild") {

    val annD = annDir(storeDir)
    require(TableSink.tableExists(annD),
      s"no ANN leg at '$annD' — initialize the hybrid store first " +
        "(rebuilding a missing table would plant an empty pointer-bearing one)")
    val like = spark.range(0).select(lit(0L).as("cell"),
      lit(0L).cast(storedIdType(spark, storeDir)).as("id"),
      array().cast("array<double>").as("vec"), lit("").as("__cell_s"))
    val stored = TableSink.read(spark, annD, like).select(col("id"), col("vec"))
    val cells = IvfAnn.buildCells(stored, "id", "vec", nlist, iters)
    val next = nextCellsDirName(storeDir)
    cells.write.parquet(s"$storeDir/$next")
    graft.sources.IdLayoutSidecar.drop(annD)
    // materialized ONCE: the base count and the overwrite both consume
    // the re-assigned rows (the PqStore.rebuild discipline)
    val rows = annRows(stored, "id", "vec", cells)
      .withColumn("__v", lit(0L)).localCheckpoint(true)
    TableSink.overwrite(spark, annD, rows,
      Seq("id"), numBuckets = TableSink.numBucketsOf(annD).getOrElse(64),
      layoutCol = Some("__cell_s"),
      meta = Some(graft.sources.IndexMeta.fresh(rows.count(), Some(next))))
    graft.sources.IdLayoutSidecar.backfill(spark, annD)
    cells
  }

  private def nextCellsDirName(storeDir: String): String =
    graft.sources.IndexMeta.nextVersionedDir(storeDir, "cells_r")

  /** The scheduled maintenance host for the ANN leg ([[IvfAnn.maintain]]
    * shape): assess staleness from one manifest line and, only when the
    * trigger fires, pay the O(corpus) [[rebuild]]. Call once per ingest
    * cycle after the appends. Returns Some(new centroids) when a rebuild
    * ran (serving need not swap anything — [[search]] resolves centroids
    * through the manifest pointer), None when the index is fresh. */
  def maintain(spark: SparkSession, storeDir: String, nlist: Int,
               iters: Int = 3, maxAddedFraction: Double = 0.5): Option[DataFrame] =
    if (needsRebuild(storeDir, maxAddedFraction))
      Some(rebuild(spark, storeDir, nlist, iters))
    else None

  /** Remove documents from BOTH retrieval legs in one call — the
    * takedown counterpart of the `Bm25Store.append` + [[appendVectors]]
    * refresh pair: the lexical side tombstones via [[Bm25Store.delete]]
    * (O(batch) part append, df stale until the scheduled compact — the
    * Lucene contract), the semantic side drops the ids' rows from the
    * cell-laid-out table (one column-pruned (id, cell) scan + copy-on-
    * write of only the victims' cells' buckets). After this call a
    * removed document can never surface from [[search]] — neither run
    * serves it. Replay-idempotent per `name` on the lexical leg; the
    * semantic delete is key-idempotent by construction. */
  def removeDocuments(spark: SparkSession, storeDir: String, ids: DataFrame,
                      idCol: String, name: Option[String] = None): Unit =
      graft.sources.WriterLease.withLease(storeDir, "hybrid-remove") {

    Bm25Store.delete(spark, bm25Dir(storeDir), ids, idCol, name)
    TableSink.deleteByIds(spark, annDir(storeDir),
      ids.select(col(idCol).as("id")), "id",
      // Removals drift the corpus from the centroids' fit too — count
      // them into the rebuild cue (IvfAnn.removeFromIndex rationale).
      metaFor = victims =>
        graft.sources.IndexMeta.bumped(annDir(storeDir), victims.count()))
    // keep the id→cell sidecar garbage-free (a stale row is correct —
    // resolve finds no copy — but would inflate candidate sets forever)
    graft.sources.IdLayoutSidecar.removeIds(spark, annDir(storeDir),
      ids.select(col(idCol).as("id")))
    ()
  }

  /** The lexical run: BM25 top-`k` over the standing postings store,
    * query-term in-list pushed into every postings part's scan.
    * Returns (query_id, doc_id, score, rank). */
  def lexicalRun(spark: SparkSession, storeDir: String, queries: DataFrame,
                 qidCol: String, qtextCol: String, k: Int,
                 maxDfFrac: Double = 0.5, tag: Option[String] = None): DataFrame =
    Bm25.searchIndex(Bm25Store.readIndex(spark, bm25Dir(storeDir), tag),
      queries, qidCol, qtextCol, k, maxDfFrac = maxDfFrac,
      pruneTermScan = true)

  /** The semantic run: cosine top-`k` over the persisted cell-laid-out
    * float ANN table — resolve the nprobe nearest cells, open only
    * their buckets' files, drop hash-cohabitant cells with a residual
    * filter, probe. With nprobe = nlist this is EXACT brute force
    * (float vectors, every cell probed) computed off the pruned-read
    * plan shape. With `tag`, probes the [[snapshot]]-pinned generation
    * and centroids instead — a pinned generation is read by its
    * manifest's file list, so the bucket-level FILE pruning does not
    * apply under time travel (the residual cell filter still prunes
    * rows; a pinned replay is an audit path, not the hot path).
    * Returns (query_id, neighbor_id, sim, rank). */
  def semanticRun(spark: SparkSession, storeDir: String, queries: DataFrame,
                  qidCol: String, qvecCol: String, k: Int, nprobe: Int,
                  tag: Option[String] = None): DataFrame = {
    require(TableSink.tableExists(annDir(storeDir)) &&
        TableSink.layoutColOf(annDir(storeDir)).isDefined,
      s"no cell-laid-out ANN table at '${annDir(storeDir)}' — run Hybrid.init first")
    val cents = IvfAnn.centroidMatrix(readCells(spark, storeDir, tag))
    // Normalize to the store's canonical (id, vec) names — the probe
    // addresses both sides by one (idCol, vecCol) pair.
    val q = queries.select(col(qidCol).as("id"),
      col(qvecCol).cast("array<double>").as("vec"))
    val like = spark.range(0).select(lit(0L).as("cell"),
      lit(0L).cast(storedIdType(spark, storeDir)).as("id"),
      array().cast("array<double>").as("vec"))
    IvfAnn.probeTopK(q, cents, "id", "vec", k, nprobe, excludeSelf = false,
      IvfAnn.readProbedCells(annDir(storeDir), like, q, cents, "vec", nprobe, tag), col("vec"))
  }

  /**
   * Hybrid search over the standing stores: `queries` carries
   * (qidCol, qtextCol, qvecCol); the lexical and semantic runs each
   * retrieve `kPerRun`, and [[Rrf.fuse]] returns the top `k` fused per
   * query — (query_id, doc_id, score, rank). Equal to the in-memory
   * fusion (`x_hybrid_rrf`) on the same corpus when nprobe = nlist
   * (spec-pinned); smaller nprobe trades recall for probe cost exactly
   * like the ANN store alone. With `tag`, searches the ENTIRE
   * [[snapshot]]-pinned retrieval state (postings, ANN generation,
   * centroids) — the training-reproducibility replay.
   */
  def search(spark: SparkSession, storeDir: String, queries: DataFrame,
             qidCol: String, qtextCol: String, qvecCol: String,
             k: Int, kPerRun: Int = 20, nprobe: Int = 8,
             maxDfFrac: Double = 0.5, c: Int = 60,
             tag: Option[String] = None): DataFrame = {
    val lex = lexicalRun(spark, storeDir,
        queries.select(col(qidCol), col(qtextCol)), qidCol, qtextCol,
        kPerRun, maxDfFrac, tag)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = semanticRun(spark, storeDir,
        queries.select(col(qidCol), col(qvecCol)), qidCol, qvecCol,
        kPerRun, nprobe, tag)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Rrf.fuse(Seq(lex, sem), k, c)
  }

  /** Storage audit of the WHOLE retrieval state in one report
    * ([[graft.sources.StoreCheck]]): the BM25 ledger across its five
    * relation roots, the ANN table, and the composite link between
    * them — the ANN manifest's centroid pointer must resolve (a
    * vanished fit strands every probed-cell read). */
  def fsck(spark: SparkSession, storeDir: String): DataFrame = {
    val ptr = graft.sources.IndexMeta.cellsPtr(annDir(storeDir))
      .fold(cellsDir(storeDir))(p => s"$storeDir/$p")
    graft.operators.Bm25Store.fsck(spark, bm25Dir(storeDir))
      .unionByName(graft.sources.StoreCheck.tableSink(spark, annDir(storeDir)))
      .unionByName(graft.sources.StoreCheck.row(spark, storeDir,
        "centroids_resolve",
        graft.sources.StoreFs.get.exists(ptr),
        s"centroid pointer -> $ptr"))
  }
}
