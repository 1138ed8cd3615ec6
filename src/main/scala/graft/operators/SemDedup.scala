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
 * fixed-cells contract — refit is the scheduled [[rebuild]]); member
 * vectors live in a value-addressable [[graft.sources.TableSink]] laid
 * out BY CLUSTER, so a batch [[probe]] opens ONLY the batch's clusters'
 * bucket FILES — at corpus scale the per-batch read is
 * touched-clusters/nlist of the store's files, never a scan.
 * [[absorb]] upserts admitted vectors O(batch) (only touched clusters'
 * buckets rewrite, re-added ids re-homed atomically). Composes with
 * [[graft.pipelines.Admission]] exactly like the BM25/band-index
 * fan-out: probe before admitting, absorb the admitted originals. The
 * lifecycle (init, absorb, remove, rebuild, snapshot, restore, fsck)
 * is the [[graft.sources.CellStore]] kernel's.
 */
object SemDedupStore extends graft.sources.CellStore.Lifecycle {
  import org.apache.spark.sql.SparkSession

  /** Member rows (cluster_id, id, v) laid out by `__cl_s` under
    * `members/`, fit dirs `cells/` then `cells_rK/`. */
  val kernel = graft.sources.CellStore("semantic store", "members", "__cl_s",
    Seq("cluster_id" -> "bigint", "v" -> "array<double>"), "cells_r", Some("cells"),
    "semstore")

  /** Canonical stored member rows (cluster_id, id, v, __cl_s): one
    * definition for init, absorb and rebuild — the write paths must not
    * drift (the [[graft.pipelines.Hybrid]] annRows lesson). */
  private def memberRows(vecs: DataFrame, cells: DataFrame,
                         idCol: String, vecCol: String): DataFrame =
    SemDedup.assignMembers(vecs, cells, idCol, vecCol, "cell_id", "cell_vec")
      .select(col("cluster_id"), col("id"), col("v"))
      .withColumn("__cl_s", col("cluster_id").cast("string"))

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
    * external replay can reproduce (per-label means, a prior fit). Same
    * run-once contract. */
  def initWithCentroids(spark: SparkSession, dir: String, corpus: DataFrame,
                        centroids: DataFrame, idCol: String, vecCol: String,
                        centIdCol: String, centVecCol: String,
                        numBuckets: Int = 64): Unit = {
    val cells = centroids.select(col(centIdCol).cast("long").as("cell_id"),
      col(centVecCol).cast("array<double>").as("cell_vec"))
    kernel.init(spark, dir, memberRows(corpus, cells, idCol, vecCol), numBuckets)(
      cells.write.parquet(_))
  }

  /** The persisted centroids (probes must use the centroids the members
    * were assigned under), resolved through the live generation's fit
    * pointer. */
  def readCentroids(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StoreRead.parquet(spark, kernel.fitDir(dir).toSeq)

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
    kernel.requireExists(dir)
    val cells = readCentroids(spark, dir)
    val clusters = SemDedup
      .assignMembers(batch, cells, idCol, vecCol, "cell_id", "cell_vec")
      .select(col("cluster_id")).distinct().collect().map(_.getLong(0)).toSeq
    val members = kernel.tableDir(dir)
    val stored = graft.sources.TableSink.readBuckets(spark, members,
        kernel.like(spark, dir),
        graft.sources.TableSink.bucketIdsFor(spark, members, clusters.map(_.toString)))
      .filter(col("cluster_id").isin(clusters: _*))
      // incremental addresses both sides by the caller's (idCol, vecCol)
      .select(col("id").as(idCol), col("v").as(vecCol))
    SemDedup.incremental(batch, stored, cells, idCol, vecCol,
      "cell_id", "cell_vec", eps)
  }

  /** Absorb a batch of vectors (typically the admitted originals)
    * O(batch): assign under the FIXED centroids and upsert — only the
    * touched clusters' buckets rewrite, and a re-added id whose vector
    * changed cluster re-homes atomically
    * ([[graft.sources.CellStore.add]]). */
  def absorb(spark: SparkSession, dir: String, newVecs: DataFrame,
             idCol: String, vecCol: String, version: Long): Unit =
    kernel.add(spark, dir, newVecs.select(col(idCol).as("id")), version) {
      memberRows(newVecs, readCentroids(spark, dir), idCol, vecCol)
    }

  /**
   * The scheduled centroid-refit rebuild [[needsRebuild]] cues (drifted
   * centroids make clusters under-tight — near-duplicates straddling a
   * cluster boundary stop being compared, so dedup RECALL erodes):
   * refit over the stored members into a fresh `cells_rK/`, re-assign
   * and swap in one generation flip ([[graft.sources.CellStore.rebuild]]).
   * O(corpus) by design — schedule it, don't absorb-time it. Returns the
   * new centroids.
   */
  def rebuild(spark: SparkSession, dir: String, nlist: Int,
              iters: Int = 3): DataFrame =
    kernel.rebuild(spark, dir) { fit =>
      val stored = kernel.read(spark, dir).select(col("id"), col("v"))
      val cells = IvfAnn.buildCells(stored, "id", "v", nlist, iters)
        .select(col("cell_id"), col("cell_vec"))
      cells.write.parquet(fit)
      (memberRows(stored, cells, "id", "v"), cells)
    }

  /** The scheduled maintenance host: the O(corpus) [[rebuild]] only
    * when [[needsRebuild]] fires. Call once per ingest cycle after the
    * absorbs. Returns Some(new centroids) when a rebuild ran ([[probe]]
    * resolves centroids through the manifest pointer — nothing to
    * swap), None when the store is fresh. */
  def maintain(spark: SparkSession, dir: String, nlist: Int,
               iters: Int = 3, maxAddedFraction: Double = 0.5): Option[DataFrame] =
    kernel.maintain(dir, maxAddedFraction)(rebuild(spark, dir, nlist, iters))

  /** Does a semantic store live at `dir`? (The composite-snapshot and
    * optional-stage callers' presence check.) */
  def exists(dir: String): Boolean = kernel.exists(dir)

  /** Roll the member table back to a [[snapshot]] tag (generation
    * republish; the centroids resolve through the restored pointer) and
    * rebuild the id→cluster sidecar from it
    * ([[graft.sources.CellStore.restore]]). */
  def restore(spark: SparkSession, dir: String, tag: String): Unit =
    kernel.restore(spark, dir, tag)

  /** Remove stored vectors by id: only the victims' clusters' buckets
    * rewrite. A removed vector stops anchoring dedup verdicts
    * immediately — a later [[probe]] of similar content reads the
    * surviving members only. Absent ids are no-ops. */
  def remove(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String): Unit =
    kernel.remove(spark, dir, ids.select(col(idCol).as("id")))

  /** Storage audit ([[graft.sources.StoreCheck]]): the members table's
    * referential health plus the centroid-pointer link. */
  def fsck(spark: SparkSession, dir: String): DataFrame = kernel.fsck(spark, dir)
}
