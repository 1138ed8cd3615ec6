package graft.operators

import graft.functions.vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * SemDeDup — semantic deduplication of an embedding corpus by
 * cluster-partitioned pairwise pruning (Abbas et al. 2023, "SemDeDup:
 * Data-efficient learning at web-scale through semantic deduplication").
 * Complements the EXACT embedding near-dup paths ([[SimilarityOps
 * .nearDupByCosine]]'s epsilon grid, the cosine-LSH sketch): those find
 * pairs above a tight threshold anywhere in the corpus; SemDeDup trades
 * global exactness for a clustering that BOUNDS the quadratic work, which
 * is what makes perceptual-duplicate pruning (eps well below near-dup
 * thresholds) feasible at corpus scale — the paper prunes half of LAION
 * at eps where the grid's cells would cover the whole sphere.
 *
 * Semantics (faithful to the paper's released formulation): assign every
 * vector to its nearest centroid (max cosine, lowest-id tie-break);
 * within each cluster order members by similarity-to-centroid ASCENDING
 * (rounded to 6 decimals for run-to-run reproducibility; id tie-break) —
 * the paper's keep-low-centroid-similarity policy, which
 * preferentially keeps the cluster's EDGE examples and prunes its dense
 * core; drop a member iff ANY earlier member (kept or not — the paper
 * thresholds the upper-triangular similarity matrix, not a greedy chain)
 * has cosine ≥ `eps` with it. No sequential dependency: the drop
 * predicate is a pure ∃-earlier-neighbor test, so the whole operator is
 * joins + aggregations — no iteration, no driver loop.
 *
 * Scale posture: centroids ride the plan as literals (they are few —
 * the paper uses O(10^4) for O(10^8) vectors — and the collect is as
 * bounded as broadcasting them would be), so assignment is one
 * codegen'd map-only projection with no exchange; the pairwise stage
 * shuffles members once on the cluster key and the per-cluster
 * quadratic is bounded by the caller's choice of centroid count (the
 * SemDeDup contract: pick k so n/k members fit a task — same knob as
 * the paper's cluster count).
 * A pathologically skewed cluster concentrates c² work on one task;
 * that is inherent to the algorithm's partitioning — re-fit with more
 * centroids, or use the epsilon grid for tight-threshold workloads.
 */
object SemDedup {

  /** Map-only nearest-centroid assignment over driver-collected centroid
    * literals (bounded by the few-centroids contract that would
    * otherwise broadcast them): an array_max over per-centroid
    * (cosine, -id) structs — zero exchanges, zero aggregation,
    * whole-stage codegen. Returns (id, cluster_id, centroid_sim, v). */
  private[operators] def assignMembers(vecs: DataFrame, centroids: DataFrame,
                            idCol: String, vecCol: String,
                            centIdCol: String, centVecCol: String): DataFrame = {
    val cl = centroids
      .select(col(centIdCol).cast("long"), col(centVecCol).cast("array<double>"))
      .collect()
    require(cl.nonEmpty, "centroids must be non-empty")
    val best = array_max(array(cl.map { r =>
      struct(
        vector.cosineSim(col("v"), lit(r.getSeq[Double](1).toArray)).as("csim"),
        lit(-r.getLong(0)).as("nid"))
    }.toIndexedSeq: _*))
    vecs
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("best", best)
      .select(col("id"), (-col("best.nid")).as("cluster_id"),
        col("best.csim").as("centroid_sim"), col("v"))
  }

  /**
   * @param vecs       corpus: (idCol, vecCol: array&lt;float|double&gt;)
   * @param centroids  cluster centers: (centIdCol, centVecCol) — tiny by
   *                    contract; driver-collected into plan literals
   * @param eps        drop threshold on pairwise cosine, in (0, 1]
   * @return one row per input vector: (id, cluster_id, centroid_sim,
   *         kept) — `kept = false` iff an earlier-ordered same-cluster
   *         member sits within eps.
   */
  def semDedup(vecs: DataFrame, centroids: DataFrame, idCol: String,
               vecCol: String, centIdCol: String, centVecCol: String,
               eps: Double): DataFrame = {
    require(eps > 0.0 && eps <= 1.0, s"eps must be in (0, 1]: $eps")
    // The member relation is consumed three times below (two self-join
    // sides + the verdict join); with a map-only definition each
    // consumption is a pruned corpus scan, per the don't-cache-O(corpus)
    // doctrine — a crossJoin+argmax formulation here would instead
    // re-run an exchange+sort-aggregate subtree per consumer.
    val members = assignMembers(vecs, centroids, idCol, vecCol, centIdCol, centVecCol)
    // Pairwise within cluster, restricted to (earlier a, later b): the
    // equi-join key is the cluster id, so the only cross product is the
    // per-cluster block the algorithm's clustering deliberately bounds.
    // The order key is centroid similarity ROUNDED to 6 decimals (id
    // tie-break), not the raw double: parallel FP summation makes the
    // raw value nondeterministic in its last ulps across evaluations —
    // an order keyed on it would make kept/dropped itself flap run to
    // run (and never match an independent replay). Rounding gives a
    // reproducible total order at resolution far above summation jitter.
    val a = members.select(col("cluster_id"), col("id").as("id_a"),
      col("v").as("va"), round(col("centroid_sim"), 6).as("ca"))
    val b = members.select(col("cluster_id"), col("id").as("id_b"),
      col("v").as("vb"), round(col("centroid_sim"), 6).as("cb"))
    val dropped = a.join(b, "cluster_id")
      .filter(col("ca") < col("cb") ||
        (col("ca") === col("cb") && col("id_a") < col("id_b")))
      .filter(vector.cosineSim(col("va"), col("vb")) >= eps)
      .select(col("id_b").as("id")).distinct()
    members
      .join(dropped.withColumn("__drop", lit(1)), Seq("id"), "left")
      .select(col("id"), col("cluster_id"), col("centroid_sim"),
        col("__drop").isNull.as("kept"))
  }

  /**
   * Incremental (per-batch) SemDeDup against a standing corpus — the
   * admission-funnel form of [[semDedup]], the semantic-dedup analog of
   * [[DedupOps.incrementalNewDocs]]: centroids stay FIXED (the IVF
   * fixed-cells contract; refit is a scheduled bulk job), the corpus is
   * never re-judged, and each batch costs O(batch) probes of the
   * touched clusters only.
   *
   * Semantics — the arrival-ordered batch fold: every `corpus` vector
   * counts as EARLIER than every batch vector (regardless of its own
   * kept verdict — the paper thresholds the full upper-triangular
   * matrix, droppers included), and within the batch the [[semDedup]]
   * order applies (centroid-sim ascending rounded to 6, id tie-break).
   * A batch member is dropped iff some same-cluster earlier member
   * (corpus, or paper-earlier batch member) has cosine ≥ eps. With an
   * EMPTY corpus this is exactly [[semDedup]] of the batch; applied
   * batch-by-batch with the corpus grown by each batch's members
   * (kept AND dropped — the paper's earlier-set), it reproduces the
   * arrival-ordered global fold (spec-pinned). An admission pipeline
   * that discards dropped docs instead passes the admitted-only corpus:
   * the earlier-set is the caller's corpus, explicitly.
   *
   * Scale shape: both sides assign map-only over centroid literals; the
   * corpus side is cluster-pruned BEFORE its shuffle by a broadcast
   * semi-join on the batch's (tiny, ≤ |batch|) cluster-id set, so
   * standing members of untouched clusters never leave their scan. The
   * per-cluster pairwise block is corpus_c × batch_c — linear in the
   * standing members of touched clusters, never corpus².
   */
  def incremental(batch: DataFrame, corpus: DataFrame, centroids: DataFrame,
                  idCol: String, vecCol: String, centIdCol: String,
                  centVecCol: String, eps: Double): DataFrame = {
    require(eps > 0.0 && eps <= 1.0, s"eps must be in (0, 1]: $eps")
    val bm = assignMembers(batch, centroids, idCol, vecCol, centIdCol, centVecCol)
    val cm = assignMembers(corpus, centroids, idCol, vecCol, centIdCol, centVecCol)
    val b = bm.select(col("cluster_id"), col("id").as("id_b"),
      col("v").as("vb"), round(col("centroid_sim"), 6).as("cb"))
    // Corpus probe: prune to the batch's clusters before any exchange.
    val batchClusters = bm.select(col("cluster_id")).distinct()
    val aCorpus = cm.join(broadcast(batchClusters), Seq("cluster_id"), "left_semi")
      .select(col("cluster_id"), col("v").as("va"))
    val droppedByCorpus = aCorpus.join(b, "cluster_id")
      .filter(vector.cosineSim(col("va"), col("vb")) >= eps)
      .select(col("id_b").as("id"))
    // Batch-internal pairs: the semDedup order, restricted to the batch.
    val aBatch = bm.select(col("cluster_id"), col("id").as("id_a"),
      col("v").as("va"), round(col("centroid_sim"), 6).as("ca"))
    val droppedInBatch = aBatch.join(b, "cluster_id")
      .filter(col("ca") < col("cb") ||
        (col("ca") === col("cb") && col("id_a") < col("id_b")))
      .filter(vector.cosineSim(col("va"), col("vb")) >= eps)
      .select(col("id_b").as("id"))
    val dropped = droppedByCorpus.unionByName(droppedInBatch).distinct()
    bm.join(dropped.withColumn("__drop", lit(1)), Seq("id"), "left")
      .select(col("id"), col("cluster_id"), col("centroid_sim"),
        col("__drop").isNull.as("kept"))
  }
}

/**
 * Standing-state semantic dedup — [[SemDedup.incremental]] with its
 * corpus side PERSISTED, the fourth member of the admission store
 * family (fingerprint table: exact dup; span inventory: substring dup;
 * LSH band index: lexical near-dup; this: semantic near-dup). Centroids
 * are fitted once at [[init]] (k-means via [[IvfAnn.buildCells]], the
 * fixed-cells contract — refit is a scheduled bulk rebuild); member
 * vectors live in a value-addressable [[graft.sources.TableSink]] laid
 * out BY CLUSTER, so a batch [[probe]] opens ONLY the batch's clusters'
 * bucket FILES — at corpus scale the per-batch read is
 * touched-clusters/nlist of the store's files, never a scan.
 * [[absorb]] upserts admitted vectors O(batch) (only touched clusters'
 * buckets rewrite, re-added ids re-homed atomically). Composes with
 * [[graft.pipelines.Admission]] exactly like the BM25/band-index
 * fan-out: probe before admitting, absorb the admitted originals.
 */
object SemDedupStore {
  import graft.sources.TableSink
  import org.apache.spark.sql.SparkSession

  private def cellsDir(dir: String) = s"$dir/cells"
  private def membersDir(dir: String) = s"$dir/members"

  /** Canonical stored member rows (cluster_id, id, v, __cl_s): one
    * definition for init and absorb — the write paths must not drift
    * (the [[graft.pipelines.Hybrid]] annRows lesson). */
  private def memberRows(vecs: DataFrame, cells: DataFrame,
                         idCol: String, vecCol: String): DataFrame =
    SemDedup.assignMembers(vecs, cells, idCol, vecCol, "cell_id", "cell_vec")
      .select(col("cluster_id"), col("id"), col("v"))
      .withColumn("__cl_s", col("cluster_id").cast("string"))

  /** The stored member table's id type — the store keeps the caller's
    * id verbatim, so every empty-read `like` frame must present THAT
    * type, not an assumed long ([[TableSink.storedColType]]). */
  private def storedIdType(spark: SparkSession,
                           dir: String): org.apache.spark.sql.types.DataType =
    TableSink.storedColType(spark, membersDir(dir), "id")

  /** Fit nlist cluster centroids over the corpus and persist centroids +
    * cluster-laid-out member vectors. O(corpus), run once; REFUSES a
    * previously-used dir (the [[graft.pipelines.Admission.init]]
    * run-once contract). */
  def init(spark: SparkSession, dir: String, corpus: DataFrame,
           idCol: String, vecCol: String, nlist: Int, iters: Int = 3,
           numBuckets: Int = 64): Unit =
    initWithCentroids(spark, dir, corpus,
      IvfAnn.buildCells(corpus, idCol, vecCol, nlist, iters),
      idCol, vecCol, "cell_id", "cell_vec", numBuckets)

  /** [[init]] with CALLER-supplied centroids (normalized to the stored
    * (cell_id, cell_vec) schema) — for deterministic centroid choices an
    * external replay can reproduce (per-label means, a prior fit), and
    * the seam the scheduled centroid-refit rebuild would use. Same
    * run-once contract. */
  def initWithCentroids(spark: SparkSession, dir: String, corpus: DataFrame,
                        centroids: DataFrame, idCol: String, vecCol: String,
                        centIdCol: String, centVecCol: String,
                        numBuckets: Int = 64): Unit = {
    if (TableSink.tableExists(membersDir(dir)) ||
        graft.sources.StoreFs.get.exists(cellsDir(dir)))
      throw new IllegalStateException(
        s"semantic store at '$dir' was already initialized — init is " +
          "run-once; delete the store dir (or point at a fresh one) to rebuild.")
    val cells = centroids.select(col(centIdCol).cast("long").as("cell_id"),
      col(centVecCol).cast("array<double>").as("cell_vec"))
    cells.write.parquet(cellsDir(dir))
    TableSink.overwrite(spark, membersDir(dir),
      memberRows(corpus, cells, idCol, vecCol).withColumn("__v", lit(0L)),
      Seq("id"), numBuckets, layoutCol = Some("__cl_s"),
      // Staleness accounting from day one ([[graft.sources.IndexMeta]]):
      // base = the rows this fit saw; [[needsRebuild]] cues the refit.
      meta = Some(graft.sources.IndexMeta.fresh(
        corpus.select(col(idCol)).count())))
    // id→cluster sidecar from day one: keeps every later [[absorb]]
    // re-home probe O(batch) instead of an O(corpus) projection scan.
    graft.sources.IdLayoutSidecar.backfill(spark, membersDir(dir))
  }

  /** The persisted centroids (probes must use the centroids the members
    * were assigned under) — resolved through the member manifest's
    * centroid pointer when a [[rebuild]] has run ([[graft.sources
    * .IndexMeta]].cellsPtr; table and centroids swap in ONE manifest
    * commit), falling back to `cells/` for never-rebuilt stores. */
  def readCentroids(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StoreRead.parquet(spark, Seq(
      graft.sources.IndexMeta.cellsPtr(membersDir(dir))
        .fold(cellsDir(dir))(p => s"$dir/$p")))

  /**
   * Batch verdicts against the standing members — exactly
   * [[SemDedup.incremental]] over the full stored corpus (spec-pinned),
   * computed off a bucket-pruned read: the batch's cluster-id set
   * (driver-bounded, ≤ |batch|) resolves to member bucket FILES, a
   * residual cluster filter drops hash-cohabitants, and the semi-join
   * prune inside `incremental` is a no-op on the already-pruned side.
   * One row per batch vector: (id, cluster_id, centroid_sim, kept).
   */
  def probe(spark: SparkSession, dir: String, batch: DataFrame,
            idCol: String, vecCol: String, eps: Double): DataFrame = {
    require(TableSink.tableExists(membersDir(dir)),
      s"no semantic store at '$dir' — run init first")
    val cells = readCentroids(spark, dir)
    val clusters = SemDedup
      .assignMembers(batch, cells, idCol, vecCol, "cell_id", "cell_vec")
      .select(col("cluster_id")).distinct().collect().map(_.getLong(0)).toSeq
    val like = spark.range(0).select(lit(0L).as("cluster_id"),
      lit(0L).cast(storedIdType(spark, dir)).as("id"),
      array().cast("array<double>").as("v"))
    val stored = TableSink.readBuckets(spark, membersDir(dir), like,
        TableSink.bucketIdsFor(spark, membersDir(dir), clusters.map(_.toString)))
      .filter(col("cluster_id").isin(clusters: _*))
      // incremental addresses both sides by the caller's (idCol, vecCol)
      .select(col("id").as(idCol), col("v").as(vecCol))
    SemDedup.incremental(batch, stored, cells, idCol, vecCol,
      "cell_id", "cell_vec", eps)
  }

  /** Absorb a batch of vectors (typically the admitted originals)
    * O(batch): assign under the FIXED centroids and upsert — only the
    * touched clusters' buckets rewrite. Re-added ids whose vector
    * changed cluster re-home atomically via an O(batch)
    * [[graft.sources.IdLayoutSidecar]] probe (batch ids' sidecar
    * buckets → candidate clusters' bucket files, never a projection
    * scan of the standing members; pre-sidecar stores fall back to the
    * correct full scan — `IdLayoutSidecar.backfill` once to adopt).
    * The sidecar intent commits BEFORE the members upsert (the
    * [[graft.pipelines.Hybrid.appendVectors]] crash contract); callers
    * that KNOW every id is new skip the probe with
    * `assumeNewIds = true`. */
  def absorb(spark: SparkSession, dir: String, newVecs: DataFrame,
             idCol: String, vecCol: String, version: Long,
             assumeNewIds: Boolean = false): Unit =
      graft.sources.WriterLease.withLease(dir, "semstore-absorb") {

    val cells = readCentroids(spark, dir)
    val assigned = memberRows(newVecs, cells, idCol, vecCol)
    val sidecar = graft.sources.IdLayoutSidecar.exists(membersDir(dir))
    // Materialized ONCE: the intent commit, the upsert, and the meta
    // count all consume this frame — without the checkpoint each would
    // re-run the assignment join and the re-home probe.
    val batch = (
      if (assumeNewIds) assigned.withColumn("__old_cl", lit(null).cast("string"))
      else {
        val old =
          if (sidecar)
            graft.sources.IdLayoutSidecar.resolve(spark, membersDir(dir),
                newVecs.select(col(idCol).as("id")))
              .select(col("id"), col("__cur").as("__prev"))
          else {
            val like = spark.range(0).select(
              lit(0L).cast(storedIdType(spark, dir)).as("id"),
              lit("").as("__cl_s"))
            TableSink.read(spark, membersDir(dir), like)
              .select(col("id"), col("__cl_s").as("__prev"))
              .join(newVecs.select(col(idCol).as("id")), Seq("id"), "left_semi")
          }
        assigned.join(broadcast(old), Seq("id"), "left")
          .withColumn("__old_cl",
            when(col("__prev").isNotNull && col("__prev") =!= col("__cl_s"),
              col("__prev")))
          .drop("__prev")
      }).localCheckpoint(true)
    if (sidecar)
      graft.sources.IdLayoutSidecar.recordIntent(spark, membersDir(dir),
        batch.select(col("id"), col("__cl_s").as("cell"),
          col("__old_cl").as("prev_cell")), version)
    TableSink.upsert(spark, membersDir(dir),
      batch.withColumn("__v", lit(version)),
      Seq("id"), "__v", rehomeFromCol = Some("__old_cl"),
      // Staleness: absorbs drift the members from the centroids' fit —
      // the bump rides the SAME commit as the rows it counts.
      meta = graft.sources.IndexMeta.bumped(membersDir(dir), batch.count()))
  }

  /** Has the member corpus drifted far enough from its centroid fit to
    * warrant a [[rebuild]]? One manifest-line read ([[graft.sources
    * .IndexMeta]] semantics: absorbs AND removals count; unknown
    * provenance → true). Drifted centroids make clusters under-tight —
    * near-duplicates straddling a cluster boundary stop being compared,
    * so dedup RECALL erodes (verdicts on what IS compared stay exact). */
  def needsRebuild(dir: String, maxAddedFraction: Double = 0.5): Boolean =
    graft.sources.IndexMeta.needsRebuild(membersDir(dir), maxAddedFraction)

  /**
   * The scheduled centroid-refit rebuild [[needsRebuild]] cues — the
   * semantic-store sibling of [[graft.pipelines.Hybrid.rebuild]], with
   * the identical crash contract: new centroids to a fresh `cells_rK/`
   * dir first; sidecar dropped (callers fall back to the correct
   * full-scan re-home while it is absent); members re-assigned and
   * swapped in ONE [[TableSink]] generation flip whose manifest meta
   * carries the centroid pointer + reset accounting; sidecar
   * backfilled. O(corpus) by design — schedule it, don't absorb-time
   * it. Returns the new centroids.
   */
  def rebuild(spark: SparkSession, dir: String, nlist: Int,
              iters: Int = 3): DataFrame =
      graft.sources.WriterLease.withLease(dir, "semstore-rebuild") {

    require(TableSink.tableExists(membersDir(dir)),
      s"no semantic store at '$dir' — run init first")
    val like = spark.range(0).select(lit(0L).as("cluster_id"),
      lit(0L).cast(storedIdType(spark, dir)).as("id"),
      array().cast("array<double>").as("v"),
      lit("").as("__cl_s"))
    val stored = TableSink.read(spark, membersDir(dir), like)
      .select(col("id"), col("v"))
    val cells = IvfAnn.buildCells(stored, "id", "v", nlist, iters)
      .select(col("cell_id"), col("cell_vec"))
    val next = nextCellsDirName(dir)
    cells.write.parquet(s"$dir/$next")
    graft.sources.IdLayoutSidecar.drop(membersDir(dir))
    // materialized ONCE: the base count and the overwrite both consume
    // the re-assigned rows (the PqStore.rebuild discipline)
    val rows = memberRows(stored, cells, "id", "v")
      .withColumn("__v", lit(0L)).localCheckpoint(true)
    TableSink.overwrite(spark, membersDir(dir), rows,
      Seq("id"),
      numBuckets = TableSink.numBucketsOf(membersDir(dir)).getOrElse(64),
      layoutCol = Some("__cl_s"),
      meta = Some(graft.sources.IndexMeta.fresh(rows.count(), Some(next))))
    graft.sources.IdLayoutSidecar.backfill(spark, membersDir(dir))
    cells
  }

  private def nextCellsDirName(dir: String): String =
    graft.sources.IndexMeta.nextVersionedDir(dir, "cells_r")

  /** The scheduled maintenance host ([[IvfAnn.maintain]] shape): one
    * manifest-line staleness check, the O(corpus) [[rebuild]] only when
    * it fires. Call once per ingest cycle after the absorbs. Returns
    * Some(new centroids) when a rebuild ran ([[probe]] resolves
    * centroids through the manifest pointer — nothing to swap), None
    * when the store is fresh. */
  def maintain(spark: SparkSession, dir: String, nlist: Int,
               iters: Int = 3, maxAddedFraction: Double = 0.5): Option[DataFrame] =
    if (needsRebuild(dir, maxAddedFraction))
      Some(rebuild(spark, dir, nlist, iters))
    else None

  /** Does a semantic store live at `dir`? (The composite-snapshot and
    * optional-stage callers' presence check.) */
  def exists(dir: String): Boolean = TableSink.tableExists(membersDir(dir))

  /**
   * Pin the store's current state under `tag` — the member-table
   * generation ([[TableSink.snapshot]]). The centroids pin THEMSELVES:
   * a generation's manifest meta carries the centroid-set pointer it
   * was assigned under ([[graft.sources.IndexMeta]]; absent = the
   * init-time `cells/`, which a [[rebuild]] never overwrites — old
   * centroid dirs are never deleted), so restoring the generation
   * restores its centroid resolution with it. Idempotent-or-refuse on
   * retry (the [[graft.pipelines.Hybrid.snapshot]] discipline).
   */
  def snapshot(dir: String, tag: String): Unit =
    graft.sources.WriterLease.withLease(dir, "semstore-snapshot") {
      // Root-scope lease: the pinned-vs-live pre-check and the tag
      // write must not interleave with an absorb's generation flip.
      if (!snapshotPinned(dir, tag)) { TableSink.snapshot(membersDir(dir), tag); () }
    }

  /** The pre-check half of [[snapshot]], exposed for composite snapshots
    * (check EVERY piece before mutating any — the Admission/Hybrid
    * discipline): true when `tag` already pins the LIVE generation (a
    * retry completing a half-taken tag), false when untagged; REFUSES
    * when it pins an older generation (the store moved on — re-pointing
    * would silently include post-tag state). */
  def snapshotPinned(dir: String, tag: String): Boolean = {
    val mD = membersDir(dir)
    TableSink.listSnapshots(mD).get(tag) match {
      case Some(pinned) =>
        require(TableSink.currentSeq(mD).contains(pinned),
          s"snapshot tag '$tag' at '$mD' already pins generation $pinned but " +
            s"the live generation is ${TableSink.currentSeq(mD)} — the store " +
            "moved on since a half-taken snapshot; refusing to re-point. Drop " +
            "the tag and take a fresh one.")
        true
      case None => false
    }
  }

  /** Release a [[snapshot]] tag. */
  def dropSnapshot(dir: String, tag: String): Unit =
    TableSink.dropSnapshot(membersDir(dir), tag)

  /** Roll the member table back to a [[snapshot]] tag (generation
    * republish, no data movement) — the restored generation's manifest
    * meta resolves the centroids it was assigned under (see
    * [[snapshot]]). The id→cluster sidecar is rebuilt from the restored
    * table: rows absorbed/re-homed since the tag make the current
    * sidecar violate its cell/prev_cell invariant against the restored
    * layout, and a stale sidecar silently breaks re-home — so the
    * restore pays one O(table) backfill, the honest price of time
    * travel on a layout-addressed store. Ordering (the [[rebuild]]
    * discipline): the sidecar drops BEFORE the generation flip — at
    * every crash point the surviving sidecar (if any) matches the live
    * layout, or is absent and callers fall back to the full scan; drop
    *-after-flip would leave a crash window where a stale sidecar
    * points into the pre-restore layout and a later absorb would land
    * a second live copy of a re-homed id. */
  def restore(spark: SparkSession, dir: String, tag: String): Unit =
      graft.sources.WriterLease.withLease(dir, "semstore-restore") {
    graft.sources.IdLayoutSidecar.drop(membersDir(dir))
    TableSink.restore(membersDir(dir), tag)
    graft.sources.IdLayoutSidecar.backfill(spark, membersDir(dir))
  }

  /** Remove stored vectors by id — the deletion leg of the semantic
    * store's lifecycle (the [[IvfAnn.removeFromIndex]] shape): one
    * column-pruned (id, cluster) scan locates the victims' clusters
    * (cluster addressing is by value), then only those clusters'
    * buckets rewrite. A removed vector stops anchoring dedup verdicts
    * immediately — a later [[probe]] of similar content reads the
    * surviving members only. Absent ids are no-ops. */
  def remove(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String): Unit =
      graft.sources.WriterLease.withLease(dir, "semstore-remove") {
    require(TableSink.tableExists(membersDir(dir)),
      s"no semantic store at '$dir' — run init first")
    TableSink.deleteByIds(spark, membersDir(dir),
      ids.select(col(idCol).as("id")), "id",
      // Removals drift the members from the centroids' fit too — count
      // them into the rebuild cue (IvfAnn.removeFromIndex rationale).
      metaFor = victims =>
        graft.sources.IndexMeta.bumped(membersDir(dir), victims.count()))
    graft.sources.IdLayoutSidecar.removeIds(spark, membersDir(dir),
      ids.select(col(idCol).as("id")))
    ()
  }

  /** Storage audit ([[graft.sources.StoreCheck]]): the members table's
    * referential health PLUS the composite link the generic audit
    * cannot know — the manifest-borne centroid pointer must resolve to
    * an existing cells dir (a vanished fit makes every probe
    * unanswerable). */
  def fsck(spark: SparkSession, dir: String): DataFrame = {
    val members = graft.sources.StoreCheck.tableSink(spark, membersDir(dir))
    val ptr = graft.sources.IndexMeta.cellsPtr(membersDir(dir))
      .fold(cellsDir(dir))(p => s"$dir/$p")
    members.unionByName(graft.sources.StoreCheck.row(spark, dir,
      "centroids_resolve", graft.sources.StoreFs.get.exists(ptr),
      s"centroid pointer -> $ptr"))
  }
}
