package graft.operators

import graft.functions.CentroidKernels.Cents
import graft.functions.VectorMeanFast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * IVF-style approximate nearest-neighbor search: the corpus is coarsely
 * partitioned into nlist cells (here: by KMeans over a sample, or any
 * precomputed cell id); a query probes only the nprobe nearest cells, so
 * the scan touches nprobe/nlist of the corpus instead of all of it —
 * the scale path next to [[SimilarityOps.knnJoinCosine]]'s exact
 * brute force. (Reference analogue: the FAISS flat index,
 * batch-cluster-service.py:81 — flat = exact; IVF is what that index
 * becomes at 100 TB.)
 */
object IvfAnn {

  /** The collected centroid matrix for the map-side kernels — nlist
    * rows by contract (tiny at any corpus scale). */
  private[graft] def centroidMatrix(centroids: DataFrame): Cents = {
    val rows = centroids
      .select(col("cell_id").cast("long"), col("cell_vec").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    new Cents(rows.map(_._1), rows.map(_._2))
  }

  /** Assign each corpus vector to its nearest of the given cell
    * centroids. Map-only (optimization round 20): the compiled
    * [[graft.functions.CentroidKernels]] argmax replays the former
    * all-pairs join → argmax-aggregation → join-back plan's cell ids
    * bit-identically (same cosine kernel, same ordering, lowest-id
    * ties) with ZERO exchanges instead of three-plus. `cell` is
    * appended as the last column.
    *
    * Edge semantics: a NULL vector gets a NULL cell. A vector holding a
    * NaN still gets a cell: its similarity is NaN against every
    * non-zero centroid, NaN orders greatest under Spark's double
    * ordering, so it lands in the lowest-id such cell (the old
    * thresholded aggregation form left both cases unassigned, -1). */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame): DataFrame = {
    val cents = centroidMatrix(centroids)
    if (cents.ids.isEmpty)
      // the old aggregation form assigned nothing when no centroids
      // existed (no pairs to join) — preserve the empty result
      corpus.filter(lit(false)).withColumn("cell", lit(0L))
    else corpus.withColumn("cell",
      graft.functions.centroid.nearestCell(col(vecCol), cents))
  }

  /** Build nlist cell centroids by k-means over the corpus (one pass via
    * our vector-mean aggregate after a seeded random init assignment). */
  def buildCells(corpus: DataFrame, idCol: String, vecCol: String,
                 nlist: Int, iters: Int = 3): DataFrame = {
    // Deterministic init: cell = xxhash64(id) mod nlist; then Lloyd steps
    // expressed as (assign → vector-mean) DataFrame passes. The corpus
    // projection is cached across iterations (each Lloyd step scans it);
    // per-step cell tables are tiny (nlist rows) and are collected for the
    // assignment kernel.
    val base = corpus.select(col(idCol).as("item_id"), col(vecCol).cast("array<double>").as("v"))
      .cache()
    var cells = base
      .withColumn("cell_id", pmod(xxhash64(col("item_id")), lit(nlist.toLong)))
      .groupBy("cell_id")
      .agg(VectorMeanFast(col("v")).as("cell_vec"))
    // Lloyd step: map-side kernel assignment (zero exchanges — see
    // [[assignCells]]) straight into the vector-mean aggregation, whose
    // partial fold bounds the one remaining shuffle at nlist rows per
    // partition. The former shape (all-pairs join → argmax exchange → join
    // back to base → means) paid three corpus-sized exchanges per pass
    // for the same cell ids; the kernel picks them bit-identically.
    // (Centroid COORDINATES still carry the usual last-ulp jitter of
    // parallel double summation — the partial means now fold in base's
    // partition order rather than the join output's — which is the
    // documented buildCells contract: downstream checks are threshold
    // invariants, never exact centroid replays.)
    (1 to iters).foreach { _ =>
      val cents = centroidMatrix(cells)
      // empty corpus → empty init aggregation: keep the empty cell
      // table (the old all-pairs form converged to the same)
      if (cents.ids.nonEmpty)
        cells = base
          .withColumn("cell_id", graft.functions.centroid.nearestCell(col("v"), cents))
          .groupBy("cell_id")
          .agg(VectorMeanFast(col("v")).as("cell_vec"))
    }
    // Materialize the finished cell table as a local relation — it is
    // nlist rows by construction (the caller sizes nlist; even at 100 TB
    // scale it is O(√n) centroids, MBs not GBs) — so the corpus cache can
    // be released here and nothing stays pinned in the block manager.
    val spark = corpus.sparkSession
    val rows = cells.collect()
    base.unpersist()
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1), cells.schema)
  }

  /**
   * ANN top-k: each query row probes its own nprobe nearest cells (the
   * kernel pick [[probedCellIds]] states, map-side, under centroids
   * collected when the frame is built), brute-force only inside those
   * cells. Output shape matches knnJoinCosine. With
   * nprobe = nlist this is EXACT — the same result as brute force,
   * computed as a shuffled cell-equi-join instead of a broadcast
   * (queries replicate nprobe ways; the corpus shuffles once by cell).
   *
   * @param excludeSelf drop query_id == neighbor_id matches — only
   *        meaningful for corpus-vs-itself searches; keep false when the
   *        two id domains differ (see knnJoinCosine).
   */
  def annSearch(queries: DataFrame, corpusWithCells: DataFrame, cells: DataFrame,
                idCol: String, vecCol: String, k: Int, nprobe: Int,
                excludeSelf: Boolean = true): DataFrame =
    probeTopK(queries, centroidMatrix(cells), idCol, vecCol, k, nprobe, excludeSelf,
      corpusWithCells, col(vecCol))

  /**
   * IVF-SQ8 storage: the cell-assigned corpus re-expressed as int8 codes
   * + one per-vector scale — what a 100 TB ANN deployment actually keeps
   * hot (4× less IO/memory than float32 per coordinate; the coarse cell
   * centroids STAY float, they are nlist rows). Map-only: quantization
   * is per-row column work ([[QuantizeOps]]), nothing shuffles. Codes
   * are `tinyint` (clamped to [−127, 127] by the quantizer) so the
   * storage claim is real, not an int pretending.
   */
  def quantizeCells(corpusWithCells: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpusWithCells
      .withColumn("__scale", QuantizeOps.int8Scale(col(vecCol)))
      .select(col("cell"), col(idCol), col("__scale").as("scale"),
        graft.functions.quant.quantizeTiny(col(vecCol), col("__scale")).as("codes"))

  /**
   * ANN top-k over the [[quantizeCells]] store: probe the nprobe nearest
   * cells (float centroids), dequantize `codes·scale` IN-CELL — only the
   * probed cells' codes are ever widened back to doubles, inside the
   * scan projection — and run the same bounded-heap top-k. Same plan
   * shape as [[annSearch]]; the corpus side reads ~4× fewer bytes.
   * (Cosine is scale-invariant, so per-vector dequantization cannot
   * even perturb ranking beyond the int8 rounding itself; the general
   * contract still dequantizes — inner-product/L2 metrics need the
   * scale.)
   */
  def annSearchQuantized(queries: DataFrame, quantizedCorpus: DataFrame, cells: DataFrame,
                         idCol: String, vecCol: String, k: Int, nprobe: Int,
                         excludeSelf: Boolean = true): DataFrame =
    probeTopK(queries, centroidMatrix(cells), idCol, vecCol, k, nprobe, excludeSelf,
      quantizedCorpus, graft.functions.quant.dequantize(col("codes"), col("scale")))

  /**
   * Persist a [[quantizeCells]] store as a value-addressable
   * [[graft.sources.TableSink]] laid out BY CELL (S9's index persistence
   * composed with the round's layout work): every row of a cell lands in
   * the bucket `hash(cell)` addresses, so a probe can open ONLY the
   * probed cells' parquet files — at 100 TB the serving path reads
   * nprobe/nlist of the index's FILES, not just its rows. Cell ids ride
   * as strings (`__cell_s`) because the layout hash is string-keyed.
   */
  def writeIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                 quantizedCorpus: DataFrame, idCol: String,
                 numBuckets: Int = 64): Unit =
    graft.sources.TableSink.upsert(spark, dir,
      quantizedCorpus.withColumn("__cell_s", col("cell").cast("string"))
        .withColumn("__v", lit(0L)),
      Seq(idCol), "__v", numBuckets, layoutCol = Some("__cell_s"),
      // Staleness accounting rides the manifest ([[graft.sources
      // .IndexMeta]]): base = rows the centroids were FITTED against,
      // added = rows mutated under those fixed centroids since. The
      // count collapses to a scan (no projection evaluates under it).
      meta = Some(graft.sources.IndexMeta.fresh(quantizedCorpus.count())))

  /**
   * Incremental ADD to a persisted index: assign the new vectors to the
   * EXISTING cells (centroids stay fixed — the standard IVF add path;
   * re-training centroids is a separate bulk rebuild), quantize, and
   * upsert. Only the buckets of the cells the new vectors land in (plus,
   * for UPDATED ids, the cells their old rows sat in) are rewritten —
   * index maintenance costs O(batch), not O(index), the same
   * copy-on-write contract as [[graft.operators.DedupOps.refreshBandIndexStored]].
   * Idempotent per `version`.
   *
   * Re-ADDING an id whose vector now lands in a DIFFERENT cell is a
   * layout migration: the old copy must be rewritten away or a probe of
   * the old cell would serve a stale vector. The default pays one
   * column-pruned (id, cell) scan of the index to find such ids and
   * re-homes them atomically in the same commit (`rehomeFromCol`);
   * callers that KNOW every id is new skip the scan with
   * `assumeNewIds = true` — the flag is a promise, not a check.
   *
   * Fixed centroids drift from the corpus distribution as adds
   * accumulate (recall erodes, never correctness of what IS probed) —
   * each add advances the manifest's staleness accounting, and
   * [[needsRebuild]] turns it into a scheduled [[rebuildIndex]] cue,
   * exactly like the basis StalenessGuard re-grid in
   * [[graft.streaming.StreamingJob]]. [[maintain]] is the scheduled
   * host that checks the cue and runs the rebuild — call it once per
   * ingest cycle after the appends.
   */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    newVectors: DataFrame, cells: DataFrame,
                    idCol: String, vecCol: String, version: Long,
                    assumeNewIds: Boolean = false): Unit = {
    require(graft.sources.TableSink.layoutColOf(dir).isDefined,
      s"no value-addressable index at '$dir' — write one with writeIndex first")
    val assigned = quantizeCells(
      assignCells(newVectors, idCol, vecCol, cells), idCol, vecCol)
      .withColumn("__cell_s", col("cell").cast("string"))
    val batch =
      if (assumeNewIds) assigned.withColumn("__old_cell", lit(null).cast("string"))
      else {
        val like = spark.range(0).select(lit(0L).as(idCol), lit("").as("__cell_s"))
        val old = graft.sources.TableSink.read(spark, dir, like)
          .select(col(idCol), col("__cell_s").as("__prev"))
        // Semi-join against the INPUT ids, not `assigned` — the batch's
        // id set is the same either way, and probing with the raw input
        // keeps the assignment pipeline (kernel assignment + quantize)
        // out of the broadcast subtree, so it evaluates once.
        assigned.join(broadcast(old
            .join(newVectors.select(col(idCol)), Seq(idCol), "left_semi")),
            Seq(idCol), "left")
          .withColumn("__old_cell",
            when(col("__prev").isNotNull && col("__prev") =!= col("__cell_s"),
              col("__prev")))
          .drop("__prev")
      }
    // Advance the staleness counter in the SAME commit as the rows it
    // counts (a sidecar counter could desync across a crash; the
    // manifest meta cannot). Re-adds inflate `added` slightly — the
    // trigger is a maintenance heuristic, erring toward rebuilding.
    val newMeta = graft.sources.IndexMeta.bumped(dir,
      newVectors.select(col(idCol)).count())
    graft.sources.TableSink.upsert(spark, dir,
      batch.withColumn("__v", lit(version)),
      Seq(idCol), "__v", rehomeFromCol = Some("__old_cell"), meta = newMeta)
  }

  /**
   * Incremental REMOVE from a persisted index — the deletion leg of the
   * index lifecycle (add = [[appendToIndex]], retrain = [[rebuildIndex]];
   * remove is what dedup verdicts and takedown requests propagate): drop
   * every stored row whose id is in `ids`. Cost: one COLUMN-PRUNED
   * (id, cell) scan locates the victims' cells (the same price
   * [[appendToIndex]] pays for re-home detection — cell addressing is by
   * VALUE, so an id's bucket is unknowable without the scan), then only
   * the buckets of those cells rewrite ([[graft.sources.TableSink.delete]]'s
   * copy-on-write contract). Ids not present are no-ops.
   *
   * Staleness accounting: removals count into `added` — a deletion is a
   * mutation AWAY from the distribution the centroids were fitted on,
   * exactly like an add (leaving `base` counting removed rows while
   * ignoring removals would DELAY the rebuild cue: delete 90% of the
   * fitted base and added/base barely moves while the live corpus no
   * longer resembles the fit). Counting them makes [[needsRebuild]]
   * fire earlier, the safe direction.
   */
  def removeFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      ids: DataFrame, idCol: String): Unit = {
    require(graft.sources.TableSink.layoutColOf(dir).isDefined,
      s"no value-addressable index at '$dir' — write one with writeIndex first")
    graft.sources.TableSink.deleteByIds(spark, dir, ids, idCol,
      metaFor = victims => graft.sources.IndexMeta.bumped(dir, victims.count()))
    ()
  }

  /**
   * The centroid-rebuild staleness trigger — the [[appendToIndex]]
   * analog of the ST4 basis StalenessGuard; the accounting semantics
   * (and the parser) live in [[graft.sources.IndexMeta]], shared with
   * every cell/cluster-laid-out store in the codebase.
   */
  def needsRebuild(dir: String, maxAddedFraction: Double = 0.5): Boolean =
    graft.sources.IndexMeta.needsRebuild(dir, maxAddedFraction)

  /**
   * The scheduled bulk rebuild [[needsRebuild]] cues: re-fit centroids
   * over the CURRENT corpus, re-assign + re-quantize every row, and
   * replace the index in one atomic overwrite that resets the
   * staleness accounting (`base` = this fit's rows, `added` = 0) in the
   * same manifest flip. O(corpus) by design — schedule it like the ST4
   * basis re-grid, not per batch. Returns the new cell centroids (the
   * serving side must probe with the centroids the index was built
   * under — stale centroids against a rebuilt index would probe wrong
   * cells).
   */
  def rebuildIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   corpus: DataFrame, idCol: String, vecCol: String,
                   nlist: Int, iters: Int = 3, numBuckets: Int = 64): DataFrame = {
    val cells = buildCells(corpus, idCol, vecCol, nlist, iters)
    val sq8 = quantizeCells(assignCells(corpus, idCol, vecCol, cells), idCol, vecCol)
      .withColumn("__cell_s", col("cell").cast("string"))
      .withColumn("__v", lit(0L))
    graft.sources.TableSink.overwrite(spark, dir, sq8, Seq(idCol),
      numBuckets = graft.sources.TableSink.numBucketsOf(dir).getOrElse(numBuckets),
      layoutCol = Some("__cell_s"),
      // Row-preserving pipeline: base = corpus rows (one cheap scan,
      // not a second pass of the assignment joins).
      meta = Some(graft.sources.IndexMeta.fresh(corpus.select(col(idCol)).count())))
    cells
  }

  /**
   * The scheduled maintenance host for [[needsRebuild]] — the entry
   * point a cron/batch pipeline calls after each ingest cycle, the IVF
   * analog of the basis `StalenessGuard` firing inside
   * [[graft.streaming.StreamingJob]]'s `processBatch`: assess staleness
   * from the manifest (one line read, no Spark job) and, ONLY when the
   * trigger fires, pay the O(corpus) [[rebuildIndex]]. Returns
   * Some(new centroids) when a rebuild ran — the caller MUST swap its
   * serving centroids to the returned ones (probing a rebuilt index
   * with stale centroids probes wrong cells) — and None when the index
   * is fresh, in which case the existing centroids remain valid. The
   * contract per cycle is thus: `appendToIndex(batch)` …
   * `maintain(corpus).foreach(newCells = _)` — appends stay O(batch),
   * the rebuild amortizes to the configured staleness fraction.
   */
  def maintain(spark: org.apache.spark.sql.SparkSession, dir: String,
               corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int, iters: Int = 3,
               maxAddedFraction: Double = 0.5): Option[DataFrame] =
    if (needsRebuild(dir, maxAddedFraction))
      Some(rebuildIndex(spark, dir, corpus, idCol, vecCol, nlist, iters))
    else None

  /** The nprobe-nearest cell ids across all queries — driver-side and
    * bounded (≤ |queries| × nprobe ids; queries are the small side of
    * this serving path by construction). Exposed so callers can turn
    * the probe set into file pruning ([[annSearchQuantizedStored]]) or
    * audit it.
    *
    * The nlist centroids come to the driver once (the one job: their
    * scan); each query row then picks its own top-nprobe cells map-side
    * ([[graft.functions.CentroidKernels.nearestN]], the pick every probe
    * makes) — descending cosine under Spark's double ordering (NaN
    * first), ties to the lower `cell_id` — so a local query frame adds
    * no job and no shuffle. A NULL query vector ties every cell at a
    * null similarity, which that order breaks to the nprobe lowest ids.
    * Rows are independent: each contributes its own nprobe cells. */
  def probedCellIds(queries: DataFrame, cells: DataFrame, idCol: String,
                    vecCol: String, nprobe: Int): Seq[Long] =
    probedCells(queries, centroidMatrix(cells), vecCol, nprobe)

  private def probedCells(queries: DataFrame, cents: Cents, vecCol: String,
                          nprobe: Int): Seq[Long] =
    if (cents.ids.isEmpty || nprobe <= 0) Nil
    else queries.select(graft.functions.centroid.nearestCells(col(vecCol), cents, nprobe))
      .collect().iterator.flatMap(_.getSeq[Long](0)).distinct.toSeq

  /** The persisted searches' one stored-cell read: the rows of the cells
    * `queries` probe in the cell-laid-out table at `dir` — only their
    * buckets' files, or snapshot `tag`'s whole generation — minus
    * hash-cohabitant cells. Callers first refuse a `dir` that is no such
    * table: it would read as zero rows. */
  private[graft] def readProbedCells(dir: String, like: DataFrame, queries: DataFrame,
                                     cents: Cents, vecCol: String, nprobe: Int,
                                     tag: Option[String] = None): DataFrame = {
    val spark = queries.sparkSession
    val probed = probedCells(queries, cents, vecCol, nprobe)
    (tag match {
      case Some(t) => graft.sources.TableSink.readSnapshot(spark, dir, t)
      case None => graft.sources.TableSink.readBuckets(spark, dir, like,
        graft.sources.TableSink.bucketIdsFor(spark, dir, probed.map(_.toString)))
    }).filter(col("cell").isin(probed: _*))
  }

  /**
   * ANN over the PERSISTED index: resolve the probed cells, open only
   * their buckets' files ([[graft.sources.TableSink.readBuckets]] —
   * file-level pruning, the scan never lists the rest of the index),
   * drop hash-cohabitant cells with a residual filter, and run the
   * standard quantized probe. Results are identical to
   * [[annSearchQuantized]] over the full store (the probe's cell
   * equi-join restricts to probed cells either way — spec-pinned along
   * with the file-count evidence).
   */
  def annSearchQuantizedStored(dir: String, queries: DataFrame, cells: DataFrame,
                               idCol: String, vecCol: String, k: Int, nprobe: Int,
                               excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    // A wrong path or a table not written by [[writeIndex]] must fail
    // loudly: bucketIdsFor returns an empty set for BOTH "no table" and
    // "no layout column", and an empty probe would silently return zero
    // neighbors for every query.
    require(graft.sources.TableSink.tableExists(dir),
      s"no persisted ANN index at '$dir' (no table manifest) — " +
        "write one with IvfAnn.writeIndex first")
    require(graft.sources.TableSink.layoutColOf(dir).isDefined,
      s"table at '$dir' has no layout column — it was not written by " +
        "IvfAnn.writeIndex, so cell probes cannot address its buckets")
    val cents = centroidMatrix(cells)
    val like = spark.range(0).select(lit(0L).as("cell"), lit(0L).as(idCol),
      lit(0.0).as("scale"), array().cast("array<tinyint>").as("codes"))
    probeTopK(queries, cents, idCol, vecCol, k, nprobe, excludeSelf,
      readProbedCells(dir, like, queries, cents, vecCol, nprobe),
      graft.functions.quant.dequantize(col("codes"), col("scale")))
  }

  /** Shared probe under collected centroids: each query row → its nprobe
    * nearest cells (the centroid kernel, exploded map-side) → equi-join
    * the corpus on cell, its vectors read as `corpusVec` → bounded-heap
    * top-k (map-side partial), keyed by the corpus id type. */
  private[graft] def probeTopK(queries: DataFrame, cents: Cents, idCol: String,
                               vecCol: String, k: Int, nprobe: Int, excludeSelf: Boolean,
                               corpus: DataFrame, corpusVec: Column): DataFrame = {
    val corpusSide = corpus.select(col("cell"), col(idCol).as("neighbor_id"),
      corpusVec.cast("array<double>").as("cv"))
    val qCells = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("cell", explode(graft.functions.centroid.nearestCells(col("qv"), cents, nprobe)))
    val topk = corpusSide.schema("neighbor_id").dataType match {
      case org.apache.spark.sql.types.StringType => graft.functions.TopKStr(k)
      case _ => graft.functions.TopK(k)
    }
    qCells.join(corpusSide, "cell")
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.vector.cosineSim(col("qv"), col("cv")).as("sim"))
      .groupBy("query_id")
      .agg(topk(col("sim"), col("neighbor_id")).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rk", "n")))
      .select(col("query_id"), col("n.id").as("neighbor_id"),
        col("n.score").as("sim"), (col("rk") + 1).as("rank"))
  }
}
