package graft.operators

import graft.functions.TopK
import graft.sources.AdditiveStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * BM25 keyword retrieval — the lexical counterpart of the embedding
 * search family ([[SimilarityOps.knnJoinCosine]] / [[IvfAnn]]): exact
 * Okapi BM25 (Robertson & Zaragoza 2009) top-k over a document corpus,
 * plus the standing postings-index form a production pipeline persists
 * so query time never re-tokenizes the corpus. Together with the ANN
 * path this gives the engine both halves of hybrid retrieval.
 *
 * Scale posture: the postings build is two hash aggregations over the
 * exploded token stream (tf under the (doc, term) key, df under the
 * term key — both map-side partial); scoring joins QUERY terms against
 * postings, so the scan is proportional to the matched postings lists,
 * never the corpus. Queries are broadcast (a search batch is tiny by
 * contract — set `broadcastQueries = false` for a bulk scoring job and
 * the same plan runs as a shuffled term-keyed equi-join). Top-k uses
 * the bounded-heap [[TopK]] aggregate: at most k candidates per query
 * per partition reach the shuffle. Ubiquitous terms (stopwords) both
 * skew the term key and add ~zero BM25 mass (idf ≈ 0); `maxDfFrac`
 * prunes them at the standard cutoff, which is the skew escalation.
 *
 * Determinism: scores are rounded to 6 decimals BEFORE ranking (the
 * [[SemDedup]] lesson: raw parallel-summed doubles are not a
 * reproducible order key), doc-id ascending tie-break.
 */
object Bm25 {

  /** Tokenization shared with the other text kernels (SpanDedup, BPE):
    * lower, split on whitespace runs, drop empties. */
  private[operators] def toks(textCol: Column): Column =
    filter(split(lower(trim(textCol)), graft.functions.text.WhitespaceRun), t => t =!= "")

  /**
   * The standing BM25 index: one row per (term, doc) — `(term, doc_id,
   * tf, dl, df, n_docs, avgdl)`. Corpus stats ride every row (16 bytes)
   * so the index is ONE self-contained table: persist it partitioned/
   * sorted by term and the query path's term filter prunes row groups.
   * Rebuild-on-refresh like [[SpanDedup.spanDigestIndex]]'s compaction:
   * df/avgdl are corpus-global, so incremental row upserts would leave
   * stale statistics — the maintenance contract is a scheduled rebuild.
   */
  def index(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokd = docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("t"))
    val tf = tokd
      .select(col("doc_id"), size(col("t")).as("dl"), explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = tokd.agg(count(lit(1)).as("n_docs"), avg(size(col("t"))).as("avgdl"))
    tf.join(df, "term").crossJoin(broadcast(stats))
  }

  /**
   * Exact BM25 top-k of `queries` (qidCol, qtextCol) against a
   * [[index]] relation (in-memory or read back from storage). Query
   * terms are DISTINCT per query (standard bag-of-words query model);
   * when `pruneTermScan` is set the collected query-term set is also
   * pushed as an `isin` filter on the index scan — driver-bounded by
   * the tiny-query-batch contract — so a persisted index only decodes
   * the row groups containing matched terms.
   *
   * idf = ln(1 + (N − df + ½)/(df + ½)); score = Σ idf · tf(k1+1) /
   * (tf + k1(1 − b + b·dl/avgdl)). Terms with df/N > `maxDfFrac` are
   * dropped (idf ≈ 0 mass, maximal key skew).
   */
  def searchIndex(idx: DataFrame, queries: DataFrame, qidCol: String,
                  qtextCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
                  maxDfFrac: Double = 0.5, broadcastQueries: Boolean = true,
                  pruneTermScan: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0, s"maxDfFrac in (0,1]: $maxDfFrac")
    val qterms0 = queries.select(col(qidCol).as("query_id"),
      explode(array_distinct(toks(col(qtextCol)))).as("term"))
    val qterms = if (broadcastQueries) broadcast(qterms0) else qterms0
    val scan = if (pruneTermScan) {
      // Driver-bounded collect (query batches are tiny by contract);
      // the literal in-list reaches the parquet reader as a pushed
      // predicate → row-group pruning on a term-sorted index. Each
      // row's distinct terms come back as one array and de-duplicate
      // on the driver: no explode + distinct shuffle, and a local query
      // frame runs no job at all. (A null term never matches `isin`.)
      val terms = queries.select(array_distinct(toks(col(qtextCol)))).collect()
        .iterator.filterNot(_.isNullAt(0)).flatMap(_.getSeq[String](0))
        .filter(_ != null).distinct.toIndexedSeq
      idx.where(col("term").isin(terms: _*))
    } else idx
    val matched = scan
      .where(col("df").cast("double") / col("n_docs") <= maxDfFrac)
      .join(qterms, "term")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
    val scored = matched
      .select(col("query_id"), col("doc_id"),
        (idf * col("tf") * lit(k1 + 1.0) / norm).as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
    scored
      .groupBy(col("query_id"))
      .agg(TopK(k)(round(col("score"), 6), col("doc_id")).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank", "n")))
      .select(col("query_id"), col("n.id").as("doc_id"),
        col("n.score").as("score"), (col("rank") + 1).as("rank"))
  }

  /** One-shot convenience: build the index in-plan and search it. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, idCol: String,
               textCol: String, qidCol: String, qtextCol: String, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               maxDfFrac: Double = 0.5): DataFrame =
    searchIndex(index(docs, idCol, textCol), queries, qidCol, qtextCol,
      k, k1, b, maxDfFrac)
}

/**
 * Incrementally-maintainable persisted form of the [[Bm25]] index — the
 * O(batch) refresh the monolithic [[Bm25.index]] cannot have: its
 * per-row corpus stats (df, n_docs, avgdl) go stale the moment a doc is
 * added, which is why its maintenance contract is a scheduled rebuild.
 * This store DECOMPOSES the index into three additive relations over
 * disjoint document sets:
 *
 *  - `postings/` — (term, doc_id, tf, dl): new docs only APPEND rows,
 *    so parts concatenate with no merge at all; each part is written
 *    term-clustered (range partition + in-partition sort) so the query
 *    path's pushed term in-list prunes row groups in every part.
 *  - `df/` — (term, df): document frequencies, additive per term.
 *  - `stats/` — (n_docs, sum_dl): corpus totals, additive.
 *
 * [[readIndex]] assembles the exact [[Bm25.index]] relation (spec-pinned
 * equal over the unioned corpus), so [[Bm25.searchIndex]] runs unchanged
 * on top — current statistics always, no rebuild. Parts ride the
 * [[AdditiveStore]] kernel: ONE ledger at the store root
 * governs all five relations, so a part becomes visible in postings,
 * df, and stats in the SAME atomic publish — no window where new
 * postings score under old df. Batch-named appends are
 * replay-idempotent, and [[compact]] is the scheduled merge that
 * restores single-part reads (and re-clusters postings by term).
 *
 * Snapshot tags pin "the exact index run X retrieved against"
 * ([[readIndex]] with the tag replays it byte-identically). CONTRACT on
 * [[restore]]: part names are write-once across the store's WHOLE
 * history — a batch absorbed after the tag stays absorbed, so
 * re-appending it under its old name is (correctly) a no-op; re-admit
 * rolled-back content under a FRESH name. That monotonicity is what
 * keeps crash replay safe.
 */
object Bm25Store extends AdditiveStore.Lifecycle {

  val kernel: AdditiveStore = AdditiveStore(
    "BM25 store", Seq("postings", "df", "stats", "docs", "tombstones"))

  /** The additive relations of one document set. Stats carry BOTH row
    * count (`n_docs` — what idf's N uses) and non-null-token-array
    * count (`n_dl` — `avg(size(t))`'s denominator, which SKIPS null-text
    * docs whose `size` is null) so the assembled avgdl matches
    * [[Bm25.index]] exactly even on corpora with null text. Empty-STRING
    * docs have size 0 and count in both. The `docs` relation
    * (doc_id, dl) exists for [[delete]]: exact stat decrements need the
    * deleted ids' lengths, and the postings cannot answer that (they are
    * term-clustered and carry no row for a token-less doc). */
  private def parts(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tokd = docs.select(col(idCol).as("doc_id"), Bm25.toks(col(textCol)).as("t"))
    // Materialize the postings ONCE: three consumers otherwise re-run
    // the tokenize+explode+groupBy subtree — the range partitioner's
    // sampling job, the parquet write, and the df derivation. Unlike
    // the span-dedup window relation (deliberately recomputed — see
    // SpanDedup), postings ARE the artifact being persisted, so the
    // materialization is the write's own working set, not extra state.
    val postings = tokd
      .select(col("doc_id"), size(col("t")).as("dl"), explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
      .localCheckpoint(true)
    val df = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = tokd.agg(count(lit(1)).as("n_docs"),
      count(size(col("t"))).as("n_dl"),
      coalesce(sum(size(col("t"))), lit(0L)).as("sum_dl"))
    val docRows = tokd.select(col("doc_id"), size(col("t")).as("dl"))
    (postings, df, stats, docRows)
  }

  /** The additive merges of the live parts — ONE definition shared by
    * [[readIndex]] and [[compact]]: postings and doc rows concatenate
    * minus the tombstone union, df and stats sum. The returned df is
    * STALE while tombstones exist (the Lucene deleted-docs contract —
    * see [[delete]]); stats are exact (delete parts carry negative
    * decrements). */
  private def merged(spark: SparkSession, dir: String, names: Seq[String])
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tombs = kernel.read(spark, dir, "tombstones", names).distinct()
    def minusTombs(rel: DataFrame) =
      rel.join(tombs, Seq("doc_id"), "left_anti")
    val postings = minusTombs(kernel.read(spark, dir, "postings", names))
    val docRows = minusTombs(kernel.read(spark, dir, "docs", names))
    val dfParts = kernel.readEach(spark, dir, "df", names)
    val dfm =
      if (names.size == 1) dfParts
      else dfParts.groupBy(col("term")).agg(sum(col("df")).as("df"))
    val st = kernel.readEach(spark, dir, "stats", names)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_dl")).as("n_dl"),
        sum(col("sum_dl")).as("sum_dl"))
    (postings, dfm, st, docRows, tombs)
  }

  /** One part's files across all five relations (the kernel ledgers
    * it); postings are written term-clustered. */
  private def writePart(dir: String, name: String, postings: DataFrame,
                        df: DataFrame, stats: DataFrame, docRows: DataFrame,
                        tombs: DataFrame): Unit = {
    kernel.write(postings.repartitionByRange(col("term")).sortWithinPartitions("term"),
      dir, "postings", name)
    kernel.write(df, dir, "df", name)
    kernel.write(stats, dir, "stats", name)
    kernel.write(docRows, dir, "docs", name)
    kernel.write(tombs, dir, "tombstones", name)
  }

  /** Empty frames for the relations a part does not carry (delete parts
    * have no postings; append parts have no tombstones). Schemas DERIVE
    * from sibling relations of the same write — never a hardcoded id
    * type: the store carries whatever id type [[parts]] preserved
    * (string ids included), and a LongType tombstone part would poison
    * the multi-part parquet read of a string-id store. */
  private def emptyTombsLike(docRows: DataFrame): DataFrame =
    docRows.select(col("doc_id")).limit(0)

  /** Initialize from an existing corpus — O(corpus), once. REFUSES a
    * previously-used `dir` (same contract as
    * [[graft.pipelines.Admission.init]]): re-initializing in place would
    * reset the parts while the `_absorbed` ledger survives, so a later
    * named [[append]] reusing a batch id would silently skip real data. */
  def init(spark: SparkSession, dir: String, corpus: DataFrame,
           idCol: String, textCol: String): Unit =
    kernel.init(dir) { n =>
      val (p, d, s, dr) = parts(corpus, idCol, textCol)
      writePart(dir, n, p, d, s, dr, emptyTombsLike(dr))
    }

  /** Append a batch of NEW documents (disjoint doc ids from everything
    * already stored — re-appending double-counts, same contract as
    * [[SpanDedup.scrubAgainstIndex]]). O(batch): the standing parts are
    * never read. `name` the part by batch/epoch id for replay-idempotent
    * ingest (the [[graft.pipelines.Admission.runCommitted]] idiom) —
    * idempotent at EVERY crash point, including a replay after a
    * [[compact]] that folded the named part: the `_absorbed` ledger
    * records every name ever absorbed and compaction never touches it. */
  def append(spark: SparkSession, dir: String, newDocs: DataFrame,
             idCol: String, textCol: String, name: Option[String] = None): Unit =
    kernel.mutate(dir, name) { n =>
      val (p, d, s, dr) = parts(newDocs, idCol, textCol)
      writePart(dir, n, p, d, s, dr, emptyTombsLike(dr))
    }

  /**
   * Delete documents by id — the Lucene deleted-docs contract made
   * explicit: a delete is an O(batch + docs-relation) part append (a
   * TOMBSTONE id set plus an exact NEGATIVE stats decrement computed
   * from the live docs relation), never a postings rewrite. After a
   * delete: (a) a deleted doc is never scored or returned — postings
   * anti-join the tombstone union at assembly; (b) `n_docs`/`avgdl` are
   * immediately exact (the decrement is computed against LIVE docs, so
   * double-deleting an id or deleting an absent id decrements nothing);
   * (c) per-term `df` stays STALE until the next [[compact]] rebuilds
   * it from surviving postings — idf drifts slightly high for terms the
   * deleted docs carried, exactly as a Lucene segment scores between a
   * delete and its merge. Compaction physically removes the rows and
   * clears the tombstones.
   *
   * Replay-idempotent by `name` like [[append]]. CONTRACT: a deleted id
   * stays deleted until a compaction has folded the tombstone away;
   * re-admitting content under a tombstoned id before that compaction
   * would be silently masked — re-admit under a fresh id (ids are
   * write-once across the store's history, the [[restore]] contract).
   */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String, name: Option[String] = None): Unit =
    kernel.mutate(dir, name) { n =>
      val (postings, dfRel, _, docRows, _) = merged(spark, dir, kernel.names(dir))
      // No cast on the ids: the store's doc_id keeps the type parts()
      // preserved, and a lossy cast (string ids → null) would make the
      // semi-join find zero victims — a takedown that silently no-ops.
      val victims = docRows
        .join(ids.select(col(idCol).as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      val decrement = victims.agg(
        (-count(lit(1))).as("n_docs"),
        (-count(col("dl"))).as("n_dl"),
        (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl"))
      writePart(dir, n, postings.limit(0), dfRel.limit(0), decrement,
        docRows.limit(0), victims.select(col("doc_id")))
    }

  /** The assembled, searchable index — exactly [[Bm25.index]] over the
    * union of every stored document set. Postings parts concatenate
    * (multi-path parquet scan, pushdown intact in every part); df and
    * stats merge additively (tiny relative to postings); stats land as
    * one broadcast row. With `tag`, assembles the [[snapshot]]-pinned
    * parts instead of the live ledger — time travel over the index. */
  def readIndex(spark: SparkSession, dir: String,
                tag: Option[String] = None): DataFrame = {
    val (postings, dfm, st0, _, _) = merged(spark, dir, kernel.names(dir, tag))
    // avgdl over docs with a token ARRAY (n_dl): avg() skips null-text
    // docs; n_docs (all rows) stays idf's N — exactly Bm25.index.
    val st = st0.select(col("n_docs"),
      (col("sum_dl").cast("double") / col("n_dl")).as("avgdl"))
    postings.join(dfm, "term").crossJoin(broadcast(st))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"),
        col("df"), col("n_docs"), col("avgdl"))
  }

  /** Scheduled compaction: fold all parts into one (re-clustering the
    * postings by term so row-group pruning is corpus-wide again),
    * physically removing tombstoned rows and REBUILDING df from the
    * surviving postings — the merge that makes [[delete]]'s stale idf
    * exact again, same as a Lucene segment merge. O(index);
    * postings-sized, still far under the corpus text. */
  def compact(spark: SparkSession, dir: String): Unit =
    kernel.compact(dir) { (gen, old) =>
      // merge each additive relation from its own parts — exact integer
      // sums, no float round-trip through the assembled avgdl. Postings
      // and doc rows come back tombstone-filtered; df is rebuilt from
      // the survivors (one row per (term, doc), so count == document
      // frequency), not summed from the stale parts. The new gen
      // carries no tombstones — the rows are gone.
      val (postings, _, st, docRows, _) = merged(spark, dir, old)
      val postingsLive = postings.localCheckpoint(true)
      val dfLive = postingsLive.groupBy(col("term")).agg(count(lit(1)).as("df"))
      writePart(dir, gen, postingsLive, dfLive, st, docRows,
        emptyTombsLike(docRows))
    }
}

/**
 * Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009): merge any
 * number of ranked retrieval runs — e.g. [[Bm25]] lexical top-k and a
 * [[SimilarityOps.knnJoinCosine]] / [[IvfAnn]] semantic top-k — into one
 * hybrid ranking by score(d) = Σ_runs 1/(c + rank_run(d)). Rank-based,
 * so it needs no score calibration between runs (BM25 mass and cosine
 * live on incomparable scales), which is why RRF is the standard hybrid
 * baseline. Scale: each run is already k-bounded per query, so fusion
 * aggregates O(runs·k) rows per query — the corpus is never touched.
 */
object Rrf {
  /** Each run needs columns (query_id, doc_id, rank); ranks are
    * 1-based. Output: (query_id, doc_id, score, rank) — top `k` fused
    * per query, 6-decimal-rounded score key, doc-id tie-break. */
  def fuse(runs: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(runs.nonEmpty, "at least one run")
    require(k >= 1 && c >= 0, s"k >= 1 and c >= 0: $k, $c")
    val u = runs.map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
    u.select(col("query_id"), col("doc_id"),
        (lit(1.0) / (lit(c) + col("rank"))).as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
      .groupBy(col("query_id"))
      .agg(TopK(k)(round(col("score"), 6), col("doc_id")).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank", "n")))
      .select(col("query_id"), col("n.id").as("doc_id"),
        col("n.score").as("score"), (col("rank") + 1).as("rank"))
  }
}

object Rerank {
  /**
   * Retrieve-then-rerank — the standard two-stage serving shape: a
   * cheap first-stage run (BM25, ANN) narrows the corpus to ≤ kPerQuery
   * candidates per query, then ONLY those candidates are re-scored by
   * exact cosine against the query vector and the top `k` kept.
   *
   * `run` carries (query_id, doc_id); `vectors` is the corpus-sized
   * vector table keyed by `idCol`; `queryVecs` maps `qidCol` →
   * `qvecCol`. Scale shape: the run is queries×kPerQuery rows — it (and
   * the query vectors) BROADCAST into one map-side pass over the vector
   * table, so the expensive side is scanned once with no shuffle; the
   * per-query top-k is the bounded-heap [[graft.functions.TopK]]
   * aggregate on 6-decimal-rounded scores (doc-id tie-break), never a
   * corpus-wide sort. Rank is 1-based like [[Rrf.fuse]].
   */
  def rerankCosine(run: DataFrame, vectors: DataFrame, idCol: String,
                   vecCol: String, queryVecs: DataFrame, qidCol: String,
                   qvecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k >= 1: $k")
    val cand = run.select(col("query_id"), col("doc_id"))
    val cv = vectors.select(col(idCol).as("doc_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val qv = queryVecs.select(col(qidCol).as("query_id"),
      col(qvecCol).cast("array<double>").as("__qv"))
    cv.join(broadcast(cand), "doc_id")
      .join(broadcast(qv), "query_id")
      .groupBy(col("query_id"))
      .agg(TopK(k)(round(graft.functions.vector.cosineSim(col("__qv"), col("__cv")), 6),
        col("doc_id")).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank", "n")))
      .select(col("query_id"), col("n.id").as("doc_id"),
        col("n.score").as("score"), (col("rank") + 1).as("rank"))
  }
}
