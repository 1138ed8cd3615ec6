package graft.pipelines

import graft.operators.{Bm25, Bm25Store, IvfAnn, Rrf}
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
 *    ([[graft.sources.TableSink.readBuckets]] under the cell layout — nprobe/nlist of
 *    the index's files, not just its rows).
 *
 * Store layout under `storeDir` (single-writer maintenance, same
 * contract as [[Admission]]):
 *
 *  - `bm25/` — a [[Bm25Store]] (postings/df/stats parts + one ledger);
 *  - `ann/`  — a value-addressable [[graft.sources.TableSink]] of (cell, id, vec) laid
 *    out by cell — FLOAT vectors, so a full probe (nprobe = nlist) is
 *    EXACT brute-force kNN and the spec can pin stored == in-memory
 *    fusion; swap in the SQ8 [[IvfAnn.index]] (the same kernel) when the
 *    4× memory/IO saving outweighs exactness. Its lifecycle (centroid fit
 *    dirs `cells/` and `cells_rK/`, id→cell sidecar, accounting,
 *    snapshots) is the [[graft.sources.CellStore]] kernel's.
 *
 * Refresh contract: `Bm25Store.append` + [[appendVectors]] per admitted
 * batch (both O(batch)); `Bm25Store.compact` and [[maintain]] as
 * scheduled maintenance.
 */
object Hybrid {

  private def bm25Dir(storeDir: String) = s"$storeDir/bm25"

  /** The ANN leg's lifecycle: FLOAT rows (cell, id, vec) laid out by
    * `__cell_s` under `ann/`, fit dirs `cells/` then `cells_rK/`. */
  val ann = graft.sources.CellStore("hybrid ANN leg", "ann", "__cell_s",
    Seq("cell" -> "bigint", "vec" -> "array<double>"), "cells_r", Some("cells"), "hybrid")

  /** Build both standing indexes from the current corpus — O(corpus),
    * once (both legs refuse a used dir). `docs` and `vecs` share an id
    * domain (the reference's article id). */
  def init(spark: SparkSession, storeDir: String,
           docs: DataFrame, idCol: String, textCol: String,
           vecs: DataFrame, vecIdCol: String, vecCol: String,
           nlist: Int, iters: Int = 3, numBuckets: Int = 64): Unit = {
    Bm25Store.init(spark, bm25Dir(storeDir), docs, idCol, textCol)
    val cells = IvfAnn.buildCells(vecs, vecIdCol, vecCol, nlist, iters)
    ann.init(spark, storeDir, annRows(vecs, vecIdCol, vecCol, cells), numBuckets)(
      cells.write.parquet(_))
  }

  /** Canonical stored ANN rows (cell, id, vec, __cell_s): the serving
    * path's query frames carry arbitrary column names, so the store
    * normalizes its own once at write time instead of recording the
    * writer's names. ONE definition for init, appendVectors and
    * rebuild — the write paths must not drift. */
  private def annRows(vecs: DataFrame, vecIdCol: String, vecCol: String,
                      cells: DataFrame): DataFrame =
    IvfAnn.assignCells(vecs, vecIdCol, vecCol, cells)
      .select(col("cell"), col(vecIdCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("__cell_s", col("cell").cast("string"))

  /** The persisted cell centroids the ANN table was assigned under
    * (the serving side must probe with them), resolved through the live
    * generation's fit pointer — or, with `tag`, the [[snapshot]]-pinned
    * generation's: fit dirs are write-once, so a pinned search needs no
    * copy of its own. */
  def readCells(spark: SparkSession, storeDir: String,
                tag: Option[String] = None): DataFrame =
    graft.sources.StoreRead.parquet(spark, ann.fitDir(storeDir, tag).toSeq)

  /**
   * Pin the ENTIRE retrieval state under one `tag` — "the exact indexes
   * run X retrieved against": the BM25 parts-list
   * ([[graft.sources.DeltaParts.snapshot]]) and the ANN table generation,
   * whose fit pointer pins its centroids. [[search]] with the tag replays
   * byte-identically; maintenance (appends, compactions, rebuilds, GC)
   * never deletes pinned state. Same non-transactional caveat as
   * [[Admission.snapshot]]: take it between refresh batches
   * (single-writer maintenance is the quiescent point).
   */
  def snapshot(spark: SparkSession, storeDir: String, tag: String): Unit =
      graft.sources.WriterLease.withLease(storeDir, "hybrid-snapshot") {
    // Replay-safe composition: every piece is pre-checked or
    // self-guarding BEFORE anything mutates, so a retried snapshot
    // (crash recovery, orchestration replay) either COMPLETES an
    // unchanged half-taken tag or REFUSES loudly — never silently
    // re-points a piece at post-tag state. A refusal after intervening
    // maintenance means the tag is burned: dropSnapshot and take a
    // fresh one.
    ann.snapshotCheck(storeDir, tag)
    Bm25Store.snapshot(bm25Dir(storeDir), tag)   // idempotent-or-refuse
    ann.snapshot(storeDir, tag)
  }

  /** Is `tag` pinned on both legs? The composite pre-check [[restore]]
    * and [[Release]] gate on. */
  def snapshotPinned(storeDir: String, tag: String): Boolean =
    graft.sources.DeltaParts.snapshots(bm25Dir(storeDir)).contains(tag) &&
      ann.pinned(storeDir, tag)

  /** Release a [[snapshot]] tag on both legs. */
  def dropSnapshot(spark: SparkSession, storeDir: String, tag: String): Unit =
      graft.sources.WriterLease.withLease(storeDir, "hybrid-drop-snapshot") {
    Bm25Store.dropSnapshot(bm25Dir(storeDir), tag)
    ann.dropSnapshot(storeDir, tag)
  }

  /** Roll the LIVE retrieval state back to a [[snapshot]] tag — the
    * lexical parts-list ([[Bm25Store.restore]]) and the ANN generation
    * (with, through its own fit pointer, the centroids it was assigned
    * under). Composite pre-check before EITHER leg mutates (the
    * [[Admission.restore]] discipline): a half-restorable hybrid must
    * refuse up front, or it serves lexical hits from one era and
    * vectors from another. A crash mid-restore re-runs to completion —
    * both pre-checks still hold and each leg's restore is idempotent
    * (part names and generations stay write-once across restores). */
  def restore(spark: SparkSession, storeDir: String, tag: String): Unit =
      graft.sources.WriterLease.withLease(storeDir, "hybrid-restore") {
    require(snapshotPinned(storeDir, tag),
      s"snapshot tag '$tag' is not fully pinned across the hybrid store " +
        s"at '$storeDir' — refusing a half-restorable composite")
    Bm25Store.restore(bm25Dir(storeDir), tag)
    ann.restore(spark, storeDir, tag)
  }

  /** O(batch) ANN-side refresh: assign new vectors to the EXISTING
    * cells and upsert — only the touched cells' buckets rewrite (the
    * [[graft.sources.CellStore.add]] commit). A re-added id whose
    * updated vector lands in a DIFFERENT cell is re-homed in the same
    * commit, so no probe serves a stale vector or the id twice. The
    * BM25 twin is [[Bm25Store.append]]; call both per admitted batch. */
  def appendVectors(spark: SparkSession, storeDir: String, newVecs: DataFrame,
                    vecIdCol: String, vecCol: String, version: Long): Unit =
    ann.add(spark, storeDir, newVecs.select(col(vecIdCol).as("id")), version) {
      annRows(newVecs, vecIdCol, vecCol, readCells(spark, storeDir))
    }

  /** Has the ANN leg drifted far enough from its centroid fit to warrant
    * a [[rebuild]]? One manifest-line read ([[graft.sources.IndexMeta]]
    * semantics: adds AND removals count; unknown provenance → true). */
  def needsRebuild(storeDir: String, maxAddedFraction: Double = 0.5): Boolean =
    ann.needsRebuild(storeDir, maxAddedFraction)

  /**
   * The scheduled centroid-refit rebuild for the ANN leg — what
   * [[needsRebuild]] cues once appends/removals have drifted the stored
   * corpus from the fixed centroids' fit (recall erosion, never
   * correctness): re-fit nlist centroids FROM THE STORED MEMBERS into a
   * fresh `cells_rK/`, re-home every row, and swap atomically
   * ([[graft.sources.CellStore.rebuild]], the refit every cell store
   * shares). O(corpus) by design — schedule it, not per batch. The
   * BM25 leg is untouched (its maintenance is [[Bm25Store.compact]]).
   * Returns the new centroids.
   */
  def rebuild(spark: SparkSession, storeDir: String, nlist: Int,
              iters: Int = 3): DataFrame =
    ann.rebuild(spark, storeDir) { fit =>
      val stored = ann.read(spark, storeDir).select(col("id"), col("vec"))
      val cells = IvfAnn.buildCells(stored, "id", "vec", nlist, iters)
      cells.write.parquet(fit)
      (annRows(stored, "id", "vec", cells), cells)
    }

  /** The scheduled maintenance host for the ANN leg: the O(corpus)
    * [[rebuild]] only when [[needsRebuild]] fires. Call once per ingest
    * cycle after the appends. Returns Some(new centroids) when a rebuild
    * ran ([[search]] resolves centroids through the manifest pointer —
    * nothing to swap), None when the index is fresh. */
  def maintain(spark: SparkSession, storeDir: String, nlist: Int,
               iters: Int = 3, maxAddedFraction: Double = 0.5): Option[DataFrame] =
    ann.maintain(storeDir, maxAddedFraction)(rebuild(spark, storeDir, nlist, iters))

  /** Remove documents from BOTH retrieval legs in one call — the
    * takedown counterpart of the `Bm25Store.append` + [[appendVectors]]
    * refresh pair: the lexical side tombstones via [[Bm25Store.delete]]
    * (O(batch) part append, df stale until the scheduled compact — the
    * Lucene contract), the semantic side drops the ids' rows from the
    * cell-laid-out table ([[graft.sources.CellStore.remove]]: the id→cell
    * sidecar locates them, only their cells' buckets rewrite). After this call a
    * removed document can never surface from [[search]] — neither run
    * serves it. Replay-idempotent per `name` on the lexical leg; the
    * semantic delete is key-idempotent by construction. */
  def removeDocuments(spark: SparkSession, storeDir: String, ids: DataFrame,
                      idCol: String, name: Option[String] = None): Unit =
      graft.sources.WriterLease.withLease(storeDir, "hybrid-remove") {

    Bm25Store.delete(spark, bm25Dir(storeDir), ids, idCol, name)
    ann.remove(spark, storeDir, ids.select(col(idCol).as("id")))
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
    ann.requireExists(storeDir)
    val cents = IvfAnn.centroidMatrix(readCells(spark, storeDir, tag))
    // Normalize to the store's canonical (id, vec) names — the probe
    // addresses both sides by one (idCol, vecCol) pair.
    val q = queries.select(col(qidCol).as("id"),
      col(qvecCol).cast("array<double>").as("vec"))
    IvfAnn.probeTopK(q, cents, "id", "vec", k, nprobe, excludeSelf = false,
      IvfAnn.readProbedCells(ann.tableDir(storeDir), ann.like(spark, storeDir),
        q, cents, "vec", nprobe, tag), col("vec"))
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
    * relation roots and the ANN leg with its centroid-pointer link
    * ([[graft.sources.CellStore.fsck]]). */
  def fsck(spark: SparkSession, storeDir: String): DataFrame =
    Bm25Store.fsck(spark, bm25Dir(storeDir)).unionByName(ann.fsck(spark, storeDir))
}
