package graft

import graft.functions.{sig, text, vector, VectorMeanFast}
import graft.operators.{Bm25, Bm25Store, ClusterRefine, CurationOps, DedupOps, DomainModel, IvfAnn, LayoutOps, MultimodalOps, PqOps, QualityModel, QuantizeOps, Recommend, RecommendML, Rerank, Rrf, SampleOps, SemDedup, SemDedupStore, SimilarityOps, SkewOps, SpanDedup, StoryOps, TemporalOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QShared._
import OracleDefs._

/** Embedding-space queries: ANN (IVF / SQ8 / PQ), semantic dedup, BM25 + hybrid retrieval, rerank, and the multimodal family.
 *
 * One `queries` entry per operator with its DuckDB oracle in
 * `oracles` side by side (rows-only queries omit the oracle);
 * aggregated into the driver contract by [[SparkEntry]] /
 * [[OracleSql]]. Shared plan helpers live in [[QShared]], shared
 * SQL fragments in [[OracleDefs]].
 */
private[graft] object QVector {

  // ── Stored-family phased forms (QShared.Phased): init builds the
  // standing store, serve probes it; the `queries` entries are `fused`
  // over the SAME definitions, and Bench times the phases separately
  // (the store build dominated these queries' in-suite totals, drowning
  // the serve-path trend in host noise every round). All corpus-side
  // work is bound lazily so construction costs nothing — eager steps
  // (localCheckpoint, store writes, k-means fits) run inside `init`.

  /** Standing SemDeDup store: cluster-laid-out member table + fixed
    * centroids; probe opens only the touched clusters' bucket files. */
  private val semdedupStorePhased: Phased = (s, d) => {
    lazy val e = T(s, d, "embeddings")
    lazy val corpus = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    lazy val dir = tmpStore("semdedup_store")
    val init = () => {
      val cents = corpus.groupBy("label")
        .agg(VectorMeanFast(col("embedding").cast("array<double>")).as("cent"))
      SemDedupStore.initWithCentroids(s, dir, corpus, cents,
        "vec_id", "embedding", "label", "cent"); ()
    }
    val serve = () => {
      val batch = e.filter(pmod(col("vec_id"), lit(5)) === 0)
      SemDedupStore.probe(s, dir, batch, "vec_id", "embedding", eps = 0.3)
        .select(col("id").as("vec_id"), col("cluster_id"),
          round(col("centroid_sim"), 6).as("centroid_sim"), col("kept"))
        .orderBy("vec_id")
    }
    (init, serve)
  }

  /** Incremental BM25: additive postings ledger init + O(batch) append,
    * then the term-pruned search. */
  private val bm25IncrementalPhased: Phased = (s, d) => {
    lazy val docs = T(s, d, "documents")
    lazy val dir = tmpStore("bm25_inc")
    val init = () => {
      Bm25Store.init(s, dir,
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")
      Bm25Store.append(s, dir,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text"); ()
    }
    val serve = () => {
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          text.firstKTokens(col("text"), 5).as("qtext"))
      Bm25.searchIndex(Bm25Store.readIndex(s, dir), queries, "qid", "qtext",
          k = 10, maxDfFrac = 1.0)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
        .orderBy("query_id", "rank")
    }
    (init, serve)
  }

  /** Persisted hybrid retrieval store. nprobe = nlist makes the semantic
    * run EXACT regardless of centroid quality, so the in-query build
    * keeps Lloyd to one iteration — the store build is the honest price
    * of an oracle-checkable store query (the x_bm25_incremental
    * pattern), not the serving path, which amortizes init across
    * batches. */
  private val hybridStoredPhased: Phased = (s, d) => {
    lazy val docs = T(s, d, "documents")
    lazy val emb = T(s, d, "embeddings")
    lazy val dir = tmpStore("hybrid_store")
    val init = () => {
      graft.pipelines.Hybrid.init(s, dir, docs, "doc_id", "text",
        emb, "vec_id", "embedding", nlist = 8, iters = 1); ()
    }
    val serve = () => {
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          text.firstKTokens(col("text"), 5).as("qtext"))
        .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
      graft.pipelines.Hybrid.search(s, dir, queries, "qid", "qtext", "qvec",
          k = 10, kPerRun = 20, nprobe = 8, maxDfFrac = 1.0)
        .orderBy("query_id", "rank")
    }
    (init, serve)
  }

  /** Standing media admission (image lane). Corpus split chosen so
    * every verdict branch probes the STANDING store (see
    * OracleDefs.mmAdmitSql): batch docs exact-hit stored shas,
    * perceptual-hit stored patterns at a new shift, and fold
    * batch-internally for the store-missing patterns. Serve =
    * MediaStore.run — the per-batch probe+absorb production repeats. */
  private val mmAdmitPhased: Phased = (s, d) => {
    lazy val all = {
      import s.implicits._
      T(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val g = ((id / 3) % 40).toInt
            val sh = (id % 3).toInt
            val inC = g < 30 && sh < 2 && (id / 120) % 2 == 0
            (id, MultimodalOps.fixturePng(g, sh * 5), inC)
          }
        }.toDF("id", "payload", "in_c")
    }
    lazy val dir = tmpStore("media_store")
    val init = () => {
      graft.operators.MediaStore.init(s, dir,
        all.filter(col("in_c")).drop("in_c")); ()
    }
    val serve = () =>
      graft.operators.MediaStore.run(s, dir,
          all.filter(!col("in_c")).drop("in_c"), version = 1L)
        .select(col("id").as("doc_id"), col("verdict"), col("rep_id"))
        .orderBy("doc_id")
    (init, serve)
  }

  /** The mixed-modality MediaStore admission (see the `queries` comment
    * at the registration): image / PCM / GVF1 payloads under the
    * modality-sniffed perceptual key, same oracle as
    * x_mm_admit_incremental. */
  private val mmMixedAdmitPhased: Phased = (s, d) => {
    lazy val all = {
      import s.implicits._
      T(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val g = ((id / 3) % 40).toInt
            val sh = (id % 3).toInt
            val inC = g < 30 && sh < 2 && (id / 120) % 2 == 0
            val payload = g % 3 match {
              case 0 => MultimodalOps.fixturePng(g, sh * 5)
              case 1 =>
                val base = Array.tabulate(130 + (g % 5) * 13)(i =>
                  (java.lang.Long.remainderUnsigned(
                    MultimodalOps.fmix64(g * 1009L + i * 101L), 1601L)
                    - 800L).toShort)
                val samp = if (sh == 2) base.map(x => (x * 2).toShort) else base
                MultimodalOps.synthesizeWav(8000f, samp, aiff = sh == 1)
              case _ =>
                MultimodalOps.synthesizeVideo((0 until 6).map(fr =>
                  MultimodalOps.fixturePng(g * 50 + fr, sh * 5)))
            }
            (id, payload, inC)
          }
        }.toDF("id", "payload", "in_c")
    }
    lazy val dir = tmpStore("media_store_mixed")
    val init = () => {
      graft.operators.MediaStore.init(s, dir,
        all.filter(col("in_c")).drop("in_c")); ()
    }
    val serve = () =>
      graft.operators.MediaStore.run(s, dir,
          all.filter(!col("in_c")).drop("in_c"), version = 1L)
        .select(col("id").as("doc_id"), col("verdict"), col("rep_id"))
        .orderBy("doc_id")
    (init, serve)
  }

  /** PQ at rest: cells + residual codebook fit + store write/append in
    * init; the stored probe, the stored≡memory equality leg, and the
    * refine/recall gate in serve. */
  private val annPqStoredPhased: Phased = (s, d) => {
    lazy val ed = T(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .localCheckpoint(true)
    lazy val cells = IvfAnn.buildCells(ed, "vec_id", "embedding", nlist = 16)
    lazy val cb = {
      val withCells = IvfAnn.assignCells(ed, "vec_id", "embedding", cells)
        .join(broadcast(cells), col("cell") === col("cell_id"))
        .select(col("vec_id"), col("cell"), col("cell_vec"), col("embedding"),
          zip_with(col("embedding"), col("cell_vec"), (x, y) => x - y).as("resid"))
        .localCheckpoint(true)
      PqOps.trainCodebooks(withCells, "vec_id", "resid", m = 16, ksub = 16, dim = 64)
    }
    // inside the temp dir, so its `_idmap` sidecar is emptied with it
    lazy val dir = tmpStore("pq_store") + "/ix"
    lazy val codedOf = (df: org.apache.spark.sql.DataFrame) =>
      graft.operators.PqStore.encodeResiduals(
        IvfAnn.assignCells(df, "vec_id", "embedding", cells),
        cells, "vec_id", "embedding", cb, 64)
    val init = () => {
      graft.operators.PqStore.write(s, dir,
        codedOf(ed.filter(col("vec_id") % 5 =!= 0)), "vec_id")
      graft.operators.PqStore.append(s, dir, ed.filter(col("vec_id") % 5 === 0),
        cells, "vec_id", "embedding", cb, 64, version = 1L); ()
    }
    val serve = () => {
      val q = ed.filter(col("vec_id") < 20)
      val stored = graft.operators.PqStore.search(dir, q, cells, cb,
          "vec_id", "embedding", k = 50, nprobe = 8)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
      val recon = codedOf(ed)
        .join(broadcast(cells), col("cell") === col("cell_id"))
        .select(col("cell"), col("vec_id"),
          PqOps.reconstructAdd(col("codes"), col("cell_vec"), cb).as("embedding"))
      val mem = IvfAnn.annSearch(q, recon, cells, "vec_id", "embedding",
          k = 50, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"))
      val storedEq = stored.unionByName(mem).distinct().count() == stored.count() &&
        stored.count() == mem.count()
      val approx = refineShortlist(stored, ed, q)
      annGate(approx, q, ed, recallMin = 0.7)
        .select(col("n_queries"), lit(5).as("k"), col("rows_ok"),
          lit(storedEq).as("stored_eq_memory"), col("recall_ok"))
    }
    (init, serve)
  }

  /** BM25 deletion gate: the full-corpus index build in init; the
    * tombstone delete + compaction + survivor search — the maintenance
    * operation under test — in serve. */
  private val bm25DeletePhased: Phased = (s, d) => {
    lazy val docs = T(s, d, "documents")
    lazy val dir = tmpStore("bm25_del")
    val init = () => { Bm25Store.init(s, dir, docs, "doc_id", "text"); () }
    val serve = () => {
      Bm25Store.delete(s, dir,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0).select(col("doc_id")),
        "doc_id", name = Some("del_0"))
      Bm25Store.compact(s, dir)
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          text.firstKTokens(col("text"), 5).as("qtext"))
      Bm25.searchIndex(Bm25Store.readIndex(s, dir), queries, "qid", "qtext",
          k = 10, maxDfFrac = 1.0)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
        .orderBy("query_id", "rank")
    }
    (init, serve)
  }

  /** IVF-SQ8 deletion gate: cells + quantize + index write in init;
    * the bucket-pruned copy-on-write delete + full-probe search + the
    * no-removed-served/recall gates in serve. */
  private val annDeletePhased: Phased = (s, d) => {
    lazy val e = T(s, d, "embeddings")
    lazy val dir = tmpStore("ann_del") + "/ix" // sidecar inside, as pq_store
    lazy val cells = IvfAnn.buildCells(e, "vec_id", "embedding", nlist = 16)
    val init = () => {
      val sq8 = IvfAnn.quantizeCells(
        IvfAnn.assignCells(e, "vec_id", "embedding", cells), "vec_id", "embedding")
      IvfAnn.writeIndex(s, dir, sq8, "vec_id", numBuckets = 16); ()
    }
    val serve = () => {
      IvfAnn.removeFromIndex(s, dir,
        e.filter(pmod(col("vec_id"), lit(5)) === 0).select("vec_id"), "vec_id")
      val q = e.filter(col("vec_id") < 20)
      val ann = IvfAnn.annSearchQuantizedStored(dir, q, cells,
        "vec_id", "embedding", k = 5, nprobe = 16)
      val survivors = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val exact = SimilarityOps.knnJoinCosine(q, survivors, "vec_id", "embedding",
        k = 5, excludeSelf = true)
      val hits = ann.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
      val shape = ann.groupBy("query_id").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_queries"), expr("bool_and(n = 5)").as("rows_ok"))
      val clean = ann.agg(
        expr("bool_and(neighbor_id % 5 != 0)").as("no_removed_served"))
      val recall = hits.agg(count(lit(1)).as("hit"))
        .crossJoin(exact.agg(count(lit(1)).as("tot")))
        .select((col("hit").cast("double") / col("tot") >= 0.8).as("recall_ok"))
      shape.crossJoin(clean).crossJoin(recall)
        .select(col("n_queries"), lit(5).as("k"), col("rows_ok"),
          col("no_removed_served"), col("recall_ok"))
    }
    (init, serve)
  }

  /** The stored-family phased registry this group contributes —
    * aggregated by [[SparkEntry.phasedQueries]] for Bench's split
    * timings. Every name here is also a plain `queries` entry via
    * [[QShared.fused]]. */
  private[graft] val phased: Map[String, Phased] = Map(
    "x_semdedup_store" -> semdedupStorePhased,
    "x_bm25_incremental" -> bm25IncrementalPhased,
    "x_bm25_delete" -> bm25DeletePhased,
    "x_hybrid_stored" -> hybridStoredPhased,
    "x_mm_admit_incremental" -> mmAdmitPhased,
    "x_mm_mixed_admit" -> mmMixedAdmitPhased,
    "x_ann_pq_stored" -> annPqStoredPhased,
    "x_ann_delete" -> annDeletePhased)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Product quantization (Jégou et al. 2011) + exact refine — the
    // FAISS IndexRefineFlat serving shape: the corpus re-expressed as
    // m=16 tinyint codes per vector (16× less than float32 at dim 64 —
    // what makes a 100 TB embedding corpus servable at all); the coded
    // scan nominates a 50-candidate shortlist per query (reconstruct-in-
    // scan + cosine, value-identical to the classical ADC table lookup),
    // and ONLY the shortlist hydrates back to float vectors for the
    // exact top-5 — at scale an id-keyed point lookup of queries×50
    // rows, never a second corpus pass. Codebooks train as map-only
    // Lloyd passes over centroid literals — one job per iteration, the
    // only exchange m·ksub-bounded. Invariants: exact top-5 shape,
    // codes in [0, ksub), refined recall ≥ 0.8 vs the exact kNN
    // (measured 0.93 here; the unrefined coded scan alone sits ~0.3 on
    // these synthetic no-subspace-correlation vectors — the refine
    // stage is load-bearing, as deployed PQ always is).
    "x_ann_pq" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val ed = e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        .localCheckpoint(true) // consumed by training, encode, and the exact arm
      val cb = PqOps.trainCodebooks(ed, "vec_id", "embedding", m = 16, ksub = 16, dim = 64)
      val coded = ed.select(col("vec_id"),
        PqOps.encode(col("embedding"), cb, dim = 64).as("codes"))
      val recon = coded.select(col("vec_id"),
        PqOps.reconstruct(col("codes"), cb).as("embedding"))
      val q = ed.filter(col("vec_id") < 20)
      val shortlist = SimilarityOps.knnJoinCosine(q, recon, "vec_id", "embedding", k = 50)
      val approx = refineShortlist(shortlist, ed, q)
      val codesOk = coded.agg(expr(
        "bool_and(forall(codes, c -> c >= 0 and c < 16))").as("codes_ok"))
      annGate(approx, q, ed, recallMin = 0.8).crossJoin(codesOk)
        .select(col("n_queries"), lit(5).as("k"), col("rows_ok"),
          col("codes_ok"), col("recall_ok"))
    }),
    // kNN over the QUANTIZED corpus: search runs against int8-dequantized
    // vectors (the 4×-smaller table a 100 TB deployment actually scans),
    // with the float-exact top-k as the recall reference — the measured
    // invariant is recall ≥ 0.8 at k=5 plus exact result shape.
    "x_ann_quant" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val qcorpus = e
        .select(col("vec_id"), QuantizeOps.int8Scale(col("embedding")).as("scale"),
          col("embedding"))
        .withColumn("__q", QuantizeOps.quantizeInt8(col("embedding"), col("scale")))
        .select(col("vec_id"),
          transform(col("__q"), c => c.cast("double") * col("scale")).as("embedding"))
      // Both arms run in double so the float query side never mixes
      // element types with the (double) dequantized corpus.
      val ed = e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val q = ed.filter(col("vec_id") < 20)
      val approx = SimilarityOps.knnJoinCosine(q, qcorpus, "vec_id", "embedding", k = 5)
      val exact = SimilarityOps.knnJoinCosine(q, ed, "vec_id", "embedding", k = 5)
      val hits = approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
      val shape = approx.groupBy("query_id").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_queries"), expr("bool_and(n = 5)").as("rows_ok"))
      val recall = hits.agg(count(lit(1)).as("hit"))
        .crossJoin(exact.agg(count(lit(1)).as("tot")))
        .select((col("hit").cast("double") / col("tot") >= 0.8).as("recall_ok"))
      shape.crossJoin(recall)
        .select(col("n_queries"), lit(5).as("k"), col("rows_ok"), col("recall_ok"))
    }),
    // Symmetric int8 embedding quantization: scale, codes, and the
    // reconstruction-error contract — every value replayed exactly by
    // the oracle (floor-based rounding is engine-unambiguous).
    "x_embed_quant" -> ((s, d) => {
      val scale = QuantizeOps.int8Scale(col("embedding"))
      T(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), scale.as("scale"))
        .withColumn("__q", QuantizeOps.quantizeInt8(col("embedding"), col("scale")))
        .select(col("vec_id"), col("scale"),
          array_join(transform(col("__q"), c => c.cast("string")), ",").as("q"),
          QuantizeOps.errOk(col("embedding"), col("__q"), col("scale")).as("err_ok"))
        .orderBy("vec_id")
    }),
    // Cosine-LSH candidate generation (signed random projections; md5-
    // derived hyperplanes, reproducible by the SQL oracle).
    "x_cosine_lsh_pairs" -> ((s, d) => {
      SimilarityOps.sketchCandidatePairs(T(s, d, "embeddings"), "vec_id", "embedding", nbits = 8)
        .orderBy("id_a", "id_b")
    }),
    // Exact epsilon-grid join (candidates-then-verify); output identical
    // to the all-pairs form, plan free of any nested-loop join.
    "x_neardup_cosine" -> ((s, d) => {
      SimilarityOps.nearDupByCosine(T(s, d, "embeddings"), "vec_id", "embedding", 0.3)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy("id_a", "id_b")
    }),
    // SemDeDup (Abbas et al. 2023): cluster-partitioned semantic dedup.
    // Centroids = per-label vector means (deterministic, so the oracle
    // replays the whole pipeline: assign → order by centroid-sim →
    // ∃-earlier-neighbor drop test). eps sits at the corpus' 99th
    // within-cluster percentile so the drop set is small but non-empty.
    "x_semdedup" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val cents = e.groupBy("label")
        .agg(VectorMeanFast(col("embedding").cast("array<double>")).as("cent"))
      SemDedup.semDedup(e, cents, "vec_id", "embedding", "label", "cent", eps = 0.3)
        .select(col("id").as("vec_id"), col("cluster_id"),
          round(col("centroid_sim"), 6).as("centroid_sim"), col("kept"))
        .orderBy("vec_id")
    }),
    // Incremental SemDeDup: the admission-funnel form — fixed centroids
    // (fitted on the standing corpus), every corpus vector earlier than
    // every batch vector, paper order within the batch. Corpus probes are
    // cluster-pruned before any exchange; per-batch cost is O(batch)
    // against the touched clusters only. One verdict row per BATCH doc.
    "x_semdedup_incremental" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val corpus = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = e.filter(pmod(col("vec_id"), lit(5)) === 0)
      val cents = corpus.groupBy("label")
        .agg(VectorMeanFast(col("embedding").cast("array<double>")).as("cent"))
      SemDedup.incremental(batch, corpus, cents,
          "vec_id", "embedding", "label", "cent", eps = 0.3)
        .select(col("id").as("vec_id"), col("cluster_id"),
          round(col("centroid_sim"), 6).as("centroid_sim"), col("kept"))
        .orderBy("vec_id")
    }),
    // The STANDING-STATE twin of x_semdedup_incremental: the corpus's
    // member vectors persisted cluster-laid-out, the batch probed off a
    // bucket-pruned read — same deterministic per-label centroids, so
    // the SAME oracle replays both (probe ≡ incremental is additionally
    // spec-pinned on the store's own k-means path).
    "x_semdedup_store" -> fused(semdedupStorePhased),
    // Embedding-dedup cascade end-to-end — the vector analog of
    // pipe_dedup_e2e: exact epsilon-grid cosine pairs → connected
    // components → min-id representative; one verdict row per vector.
    // Same scale shape as the text cascade: candidates from the grid
    // equi-join (never all-pairs), (id, label) rounds, free
    // representative off the min label.
    "pipe_embed_dedup_e2e" -> ((s, d) => {
      val e = T(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val pairs = SimilarityOps.nearDupByCosine(e, "vec_id", "embedding", 0.3)
        .select("id_a", "id_b")
      val comp = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      e.select(col("vec_id"))
        .join(comp.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("component"), col("vec_id")).as("component"))
        .withColumn("kept", col("vec_id") === col("component"))
        .orderBy("vec_id")
    }),
    // The RAG retrieval serving pipe in ONE plan: sliding-window token
    // chunks (the x_chunk_tokens kernel) become the retrieval unit, a
    // chunk-level BM25 index nominates top-20 chunks per query, and
    // chunk hits attribute back to documents (best-chunk score per doc,
    // top-3 docs) — the standard chunk-index/doc-answer shape a RAG
    // stack runs. Scale: chunking is map-only; the only corpus-sized
    // exchanges are the BM25 postings aggregations; attribution joins
    // the queries×20 hit set as a BROADCAST against the chunk→doc map
    // and tops out via a WindowGroupLimit-pruned rank window.
    "pipe_rag_e2e" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val chunks = CurationOps.chunkTokens(docs, "doc_id", "text",
          size = 16, stride = 12)
        .select((col("doc_id") * 1000 + col("chunk_id")).as("cid"),
          col("doc_id").as("src_doc"), col("chunk_text"))
        .localCheckpoint(true) // consumed by the index and the attribution map
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          text.firstKTokens(col("text"), 5).as("qtext"))
      val hits = Bm25.bm25TopK(chunks, queries, "cid", "chunk_text",
          "qid", "qtext", k = 20, maxDfFrac = 1.0)
        .select(col("query_id"), col("doc_id").as("cid"), col("score"))
      val attr = chunks.select(col("cid"), col("src_doc"))
        .join(broadcast(hits), "cid")
        .groupBy(col("query_id"), col("src_doc"))
        .agg(max(col("score")).as("doc_score"))
      val w = Window.partitionBy("query_id")
        .orderBy(desc("doc_score"), col("src_doc"))
      attr.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("src_doc").as("doc_id"),
          col("doc_score"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    "x_bm25_topk" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          text.firstKTokens(col("text"), 5).as("qtext"))
      Bm25.bm25TopK(docs, queries, "doc_id", "text", "qid", "qtext",
          k = 10, maxDfFrac = 1.0)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // Incremental BM25 maintenance: the standing postings/df/stats store
    // refreshed by an O(batch) APPEND (the monolithic index's per-row
    // corpus stats force a rebuild; the decomposed store's relations are
    // additive over disjoint doc sets). Init on 4/5 of the corpus, append
    // the last 1/5, search the assembled relation — must equal the
    // monolithic BM25 oracle over the FULL corpus, proving the appended
    // statistics are current, not stale.
    "x_bm25_incremental" -> fused(bm25IncrementalPhased),
    // Deletion on the standing BM25 store: init over the full corpus,
    // tombstone-delete the %5 slice, compact (physical removal + df
    // rebuild — the Lucene segment-merge point where stale idf becomes
    // exact again), search. Must equal the monolithic BM25 oracle over
    // the SURVIVORS — proving the negative stats decrements, the
    // tombstone anti-join, and the rebuilt df are all current.
    "x_bm25_delete" -> fused(bm25DeletePhased),
    // Hybrid retrieval: RRF fusion of the BM25 lexical run and the
    // embedding-cosine semantic run (query embedding = the query doc's
    // own vector; self-hit legitimately ranks first). Rank-based fusion
    // needs no score calibration between the two runs.
    "x_hybrid_rrf" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val emb = T(s, d, "embeddings")
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          text.firstKTokens(col("text"), 5).as("qtext"))
      val lex = Bm25.bm25TopK(docs, queries, "doc_id", "text", "qid", "qtext",
          k = 20, maxDfFrac = 1.0)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val sem = SimilarityOps.knnJoinCosine(
          emb.filter(col("vec_id") % 97 === 0), emb, "vec_id", "embedding",
          k = 20, excludeSelf = false)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Rrf.fuse(Seq(lex, sem), k = 10)
        .orderBy("query_id", "rank")
    }),
    // Retrieve-then-rerank: BM25 narrows the corpus to 20 candidates per
    // query, exact cosine against the query doc's own vector re-scores
    // ONLY those candidates, top-5 kept. The candidate run broadcasts
    // into one map-side pass over the vector table — the second stage
    // never scans vectors the first stage didn't nominate.
    "x_rerank" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val emb = T(s, d, "embeddings")
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          text.firstKTokens(col("text"), 5).as("qtext"))
      val lex = Bm25.bm25TopK(docs, queries, "doc_id", "text", "qid", "qtext",
        k = 20, maxDfFrac = 1.0)
      Rerank.rerankCosine(lex, emb, "vec_id", "embedding",
          emb.filter(col("vec_id") % 97 === 0), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),
    // MMR diversified rerank (Carbonell & Goldstein 1998) — the
    // diversity stage of the serving stack: stage 1 nominates top-20
    // cosine candidates per query (bounded-heap kNN, the j8 path);
    // stage 2 greedily selects 5 maximizing λ·rel − (1−λ)·max-sim-to-
    // selected, so the answer set is relevant but not five copies of
    // the same page. The greedy is sequential only WITHIN a query's 20
    // candidates (one mmr_select call per query row, zero shuffle past
    // the collect_list); every comparison runs in exact integer
    // micro-units (mmr_select's parity contract) so the DuckDB
    // recursive-CTE replay reproduces the selection exactly.
    "x_mmr_rerank" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val queries = e.filter(pmod(col("vec_id"), lit(25)) === 0)
      val cand = SimilarityOps.knnJoinCosine(queries, e, "vec_id", "embedding", 20)
        .select(col("query_id"), col("neighbor_id"), col("sim").as("rel"))
      // vectors re-attach by broadcasting the CANDIDATE run (queries×20
      // rows by contract) into one map-side pass over the vector table —
      // never the other way around; without the hint the toy fixture's
      // stats would build on the corpus side.
      val withVec = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
        .join(broadcast(cand), "neighbor_id")
      withVec.groupBy("query_id")
        .agg(collect_list(struct(col("neighbor_id"), col("rel"),
          col("embedding"))).as("cands"))
        .select(col("query_id"),
          explode(graft.functions.Mmr.mmrSelect(col("cands"), k = 5, lambdaTenths = 7)).as("m"))
        .select(col("query_id"), col("m.neighbor_id").as("neighbor_id"),
          col("m.rank").as("rank"), col("m.mmr_score").as("mmr_score"))
        .orderBy("query_id", "rank")
    }),
    // Hard-negative mining (contrastive training data): for each anchor
    // (the %83 slice — a training batch), the 5 most cosine-similar
    // vectors with a DIFFERENT label. Anchors broadcast with vectors +
    // labels into one map-side corpus pass; bounded-heap top-k.
    "x_hard_negatives" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      SimilarityOps.hardNegatives(emb.filter(col("vec_id") % 83 === 0), emb,
          "vec_id", "embedding", "label", k = 5)
        .orderBy("anchor_id", "rank")
    }),
    // The full contrastive-training pair export (anchor, 1 positive,
    // 5 hard negatives): positives = nearest same-label (self
    // excluded), negatives = the x_hard_negatives mining — both legs
    // the same broadcast map-side pass over the corpus, unioned into
    // one dataloader-ready relation.
    "x_contrastive_pairs" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val anchors = emb.filter(col("vec_id") % 83 === 0)
      val pos = SimilarityOps.positivePairs(anchors, emb,
          "vec_id", "embedding", "label", k = 1)
        .select(col("anchor_id"), lit("pos").as("role"),
          col("positive_id").as("pair_id"), col("sim"), col("rank"))
      val neg = SimilarityOps.hardNegatives(anchors, emb,
          "vec_id", "embedding", "label", k = 5)
        .select(col("anchor_id"), lit("neg").as("role"),
          col("negative_id").as("pair_id"), col("sim"), col("rank"))
      pos.unionByName(neg).orderBy("anchor_id", "role", "rank")
    }),
    // Persisted-store hybrid retrieval (Hybrid.search): both standing
    // indexes built once, then ONE callable fuses a term-in-list-pruned
    // BM25 postings read with a probed-cell file-pruned ANN read. At
    // nprobe = nlist the semantic run is exact, so the result equals the
    // in-memory x_hybrid_rrf fusion — same oracle replays both.
    "x_hybrid_stored" -> fused(hybridStoredPhased),
    "x_mm_meta" -> ((s, d) => {
      MultimodalOps.withPayloadMeta(
          T(s, d, "documents").select(col("doc_id"), col("text").cast("binary").as("payload")),
          col("payload"))
        .select(col("doc_id"), col("payload_bytes"), col("payload_sha256"))
        .orderBy("doc_id")
    }),
    // Exact media dedup — the first multimodal curation stage (two
    // crawls of one image are byte-identical far more often than text
    // is): keep-first per payload sha256 with the copy count kept for
    // loss weighting. The payload BYTES never shuffle — only the
    // 32-byte hash rides the exchange (map-side partial min/count).
    // (Near-dup of compressed media is a codec-level problem — pHash
    // needs the decode seam — and is honestly out of scope for the
    // stubbed codec.)
    "x_mm_exact_dedup" -> ((s, d) => {
      // Every 9th payload is the same shared asset (a site banner two
      // crawls both fetched) — byte-identical duplication, the case
      // this stage exists for.
      val payload = when(col("doc_id") % 9 === 0, lit("shared banner asset"))
        .otherwise(col("text")).cast("binary")
      MultimodalOps.withPayloadMeta(
          T(s, d, "documents").select(col("doc_id"), payload.as("payload")),
          col("payload"))
        .groupBy(col("payload_sha256"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("payload_sha256"), col("n_copies"),
          (col("n_copies") > 1).as("had_dups"))
        .orderBy("doc_id")
    }),
    // Deterministic fake decode over binary payloads (stub dims derived
    // from md5 lower-64 — oracle-checked via md5_number_lower).
    "x_mm_decode" -> ((s, d) => {
      T(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"), MultimodalOps.decodeStub(col("payload")).as("m"),
          MultimodalOps.sampleOffsets(col("payload"), 4).as("offsets"))
        .select(col("doc_id"), col("m.width"), col("m.height"), col("m.channels"),
          array_join(transform(col("offsets"), _.cast("string")), ",").as("offsets"))
        .orderBy("doc_id")
    }),
    // Aspect-preserving resize geometry over the decoded stub dims
    // (multimodal resize stage; oracle mirrors the md5-derived math).
    "x_mm_resize" -> ((s, d) => {
      T(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"),
          MultimodalOps.resizeStub(MultimodalOps.decodeStub(col("payload")), 224, 224).as("r"))
        .select(col("doc_id"), col("r.out_w").as("out_w"), col("r.out_h").as("out_h"),
          col("r.scale").as("scale"))
        .orderBy("doc_id")
    }),
    // Partition-batched media decode (mapPartitions path — one codec
    // instance per partition, iterator-in/iterator-out); stub dims share
    // decodeStub's md5_number_lower convention so the whole stage is
    // oracle-checked, mean byte computed from the payload itself.
    "x_mm_batch_decode" -> ((s, d) => {
      MultimodalOps.decodeBatches(
          T(s, d, "documents").select(col("doc_id").as("id"),
            col("text").cast("binary").as("payload")))
        .toDF()
        .select(col("id"), col("width"), col("height"), col("channels"),
          round(col("meanByte"), 6).as("mean_byte"))
        .orderBy("id")
    }),
    // REAL image decode through javax.imageio: solid-colour RGB PNGs
    // with doc_id-derived dims/colour are ENCODED with the JDK PNG
    // writer per partition, then decoded back by decodeImages — true
    // width/height/channels plus the exact integer pixel sum, so the
    // oracle is pure doc_id arithmetic (PNG is lossless). Payload bytes
    // are born and die inside one partition; only feature rows move.
    "x_mm_real_decode" -> ((s, d) => {
      import s.implicits._
      val png = T(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val w = (id % 29).toInt + 8; val h = (id % 13).toInt + 8
            val r = ((id * 7) % 251).toInt; val g = ((id * 13) % 251).toInt
            val b = ((id * 31) % 251).toInt
            (id, MultimodalOps.synthesizePng(w, h, (_, _) => (r << 16) | (g << 8) | b))
          }
        }.toDF("id", "payload")
      MultimodalOps.decodeImages(png).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("channels"), col("lumaSum3").as("luma3_sum"), col("ok"))
        .orderBy("doc_id")
    }),
    // Perceptual near-dup over REAL decoded pixels: 40 source images
    // (fmix64 pixel pattern keyed by doc_id % 40), each re-published as
    // brightness-shifted re-encodes (+0/+5/+10 — byte-DIFFERENT
    // payloads, pixel-DIFFERENT images). dHash's difference structure
    // is invariant under the shift, so every group collapses to one
    // cluster — the re-encoded-copy case x_mm_exact_dedup's byte hash
    // can never catch. Oracle predicts the clusters from the group
    // arithmetic; n_byte_variants pins that members really were
    // byte-distinct per shift (sha256 computed map-side, id-keyed
    // feature join — payloads still never shuffle).
    "x_mm_phash_dedup" -> ((s, d) => {
      import s.implicits._
      val png = T(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            (id, MultimodalOps.fixturePng((id % 40).toInt,
              ((id / 40) % 3).toInt * 5))
          }
        }.toDF("id", "payload")
      val sha = png.select(col("id"), sha2(col("payload"), 256).as("sha"))
      MultimodalOps.decodeImages(png).toDF()
        .join(sha, "id")
        .groupBy(col("dhash"))
        .agg(min(col("id")).as("rep_id"), count(lit(1)).as("n_members"),
          countDistinct(col("sha")).as("n_byte_variants"))
        .select(col("rep_id"), col("n_members"), col("n_byte_variants"))
        .orderBy("rep_id")
    }),
    // REAL audio decode through javax.sound.sampled (JDK PCM codecs):
    // per-doc PCM16 mono clips — a doc_id-keyed sawtooth, length
    // doc_id-derived — are ENCODED with the JDK WAV writer per
    // partition, decoded back by decodeAudio streaming frames through a
    // fixed buffer: declared format + exact frame count + exact integer
    // |sample| sum and peak, so the oracle is pure doc_id arithmetic
    // (PCM is lossless). Every third doc ships the SAME samples as
    // big-endian AIFF instead — byte-different container, identical
    // stats (the container-invariance the feature row promises).
    // Payload bytes are born and die inside one partition.
    "x_mm_audio_stats" -> ((s, d) => {
      import s.implicits._
      val wav = T(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (id % 7).toInt * 50 + 100
          val samples = Array.tabulate(n)(i =>
            (((id * 31 + i.toLong * 97) % 4001) - 2000).toShort)
          (id, MultimodalOps.synthesizeWav(8000f, samples, aiff = id % 3 == 0))
        }).toDF("id", "payload")
      MultimodalOps.decodeAudio(wav).toDF()
        .select(col("id").as("doc_id"), col("sampleRate").as("sample_rate"),
          col("channels"), col("bits"), col("nFrames").as("n_frames"),
          col("absSum").as("abs_sum"), col("peak"), col("ok"))
        .orderBy("doc_id")
    }),
    // Video frame-sampling over a REAL container parse + REAL per-frame
    // decode: per-doc keyframe "videos" (the GVF1 length-indexed
    // container of solid-colour PNG frames, doc_id/frame-keyed) are
    // synthesized per partition; sampleVideoFrames seeks via the index
    // to every 2nd frame ONLY (unsampled frames' bytes never touched),
    // decodes each through javax.imageio, and emits one fixed-size
    // feature row — frame count, sampled count, dims, exact pixel sum
    // over the sampled frames. The inter-frame codec (H.264) is the
    // one documented non-JDK piece; the container/seek/decode plumbing
    // is the real stage shape. Oracle: pure doc_id arithmetic.
    "x_mm_frame_sample" -> ((s, d) => {
      import s.implicits._
      val vids = T(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val nf = (id % 5).toInt + 4
            val w = (id % 13).toInt + 8; val h = (id % 11).toInt + 8
            val frames = (0 until nf).map { f =>
              val r = ((id * 7 + f * 11) % 251).toInt
              val g = ((id * 13 + f * 17) % 251).toInt
              val b = ((id * 31 + f * 23) % 251).toInt
              MultimodalOps.synthesizePng(w, h, (_, _) => (r << 16) | (g << 8) | b)
            }
            (id, MultimodalOps.synthesizeVideo(frames))
          }
        }.toDF("id", "payload")
      MultimodalOps.sampleVideoFrames(vids, stride = 2).toDF()
        .select(col("id").as("doc_id"), col("nFrames").as("n_frames"),
          col("nSampled").as("n_sampled"), col("width"), col("height"),
          col("lumaSum3").as("luma3_sum"), col("ok"))
        .orderBy("doc_id")
    }),
    // Audio perceptual near-dup over REAL decoded PCM: 40 source
    // recordings (fmix64 sample pattern keyed by doc_id % 40), each
    // re-published as WAV, as big-endian AIFF (byte-different
    // container), and at exactly 2× gain (byte- AND sample-different).
    // The time-segment energy fingerprint is invariant under both —
    // container by decode, volume because a constant gain scales every
    // segment energy uniformly — so each group collapses to ONE
    // cluster: the re-levelled re-publish case the payload sha can
    // never catch. Oracle predicts the clusters from the group
    // arithmetic, never a fingerprint value.
    "x_mm_audio_fp_dedup" -> ((s, d) => {
      import s.implicits._
      val wav = T(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val g = (id % 40).toInt
          val v = ((id / 40) % 3).toInt
          val n = (g % 5) * 13 + 130
          val base = Array.tabulate(n)(i =>
            (java.lang.Long.remainderUnsigned(
              MultimodalOps.fmix64(g * 1009L + i * 101L), 1601L) - 800L).toShort)
          val samples = if (v == 2) base.map(x => (x * 2).toShort) else base
          (id, MultimodalOps.synthesizeWav(8000f, samples, aiff = v == 1))
        }).toDF("id", "payload")
      val sha = wav.select(col("id"), sha2(col("payload"), 256).as("sha"))
      MultimodalOps.audioFingerprints(wav).toDF()
        .join(sha, "id")
        .groupBy(col("fp"))
        .agg(min(col("id")).as("rep_id"), count(lit(1)).as("n_members"),
          countDistinct(col("sha")).as("n_byte_variants"))
        .select(col("rep_id"), col("n_members"), col("n_byte_variants"))
        .orderBy("rep_id")
    }),
    // Video perceptual near-dup over the REAL container parse + REAL
    // per-frame decode: 40 source videos (per-frame fmix64 patterns
    // keyed by doc_id % 40), re-published at 3 brightness shifts —
    // byte-different payloads, pixel-different frames. The signature
    // (dHash of k=3 index-seeked frames; unsampled bytes never
    // touched) inherits dHash's shift invariance per frame, so each
    // group collapses to one cluster. Exact-equality grouping here;
    // Hamming tolerance bands the signature as (position, hash) keys —
    // the SimHash banding idiom.
    "x_mm_video_sig_dedup" -> ((s, d) => {
      import s.implicits._
      val vids = T(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val g = (id % 40).toInt
            val off = ((id / 40) % 3).toInt * 5
            val nf = (g % 4) + 6
            val frames = (0 until nf).map { fr =>
              MultimodalOps.synthesizePng(9, 8, (x, y) => {
                val v = (java.lang.Long.remainderUnsigned(
                  MultimodalOps.fmix64(
                    g * 1000003L + fr * 8087L + x * 1009L + y * 9176L),
                  200L).toInt + off) & 0xff
                (v << 16) | (v << 8) | v
              })
            }
            (id, MultimodalOps.synthesizeVideo(frames))
          }
        }.toDF("id", "payload")
      val sha = vids.select(col("id"), sha2(col("payload"), 256).as("sha"))
      MultimodalOps.videoSignatures(vids, k = 3).toDF()
        .join(sha, "id")
        .groupBy(col("sig"))
        .agg(min(col("id")).as("rep_id"), count(lit(1)).as("n_members"),
          countDistinct(col("sha")).as("n_byte_variants"))
        .select(col("rep_id"), col("n_members"), col("n_byte_variants"))
        .orderBy("rep_id")
    }),
    // The media-ingest funnel composed end-to-end in ONE plan — the
    // multimodal sibling of pipe_admission_e2e, every stage real:
    // (1) payload envelope (sha256 computed map-side — bytes never
    // shuffle, only 32-byte hashes + ids move); (2) exact keep-first
    // per sha (byte-identical re-publishes collapse); (3) the exact
    // survivors ALONE decode, and perceptual keep-first per dHash
    // collapses the brightness-shifted re-encodes exact hashing can
    // never catch; (4) only the perceptual representatives resize
    // (decode → bilinear → re-encode → verify re-decode). The funnel
    // order is the cost order: each stage decodes/resizes strictly
    // fewer payloads than the one before. Oracle: group arithmetic —
    // 40 fmix64 patterns × 3 shifts, 16×14 aspect-fit of 9×8.
    "pipe_multimodal_e2e" -> ((s, d) => {
      import s.implicits._
      val png = T(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            (id, MultimodalOps.fixturePng((id % 40).toInt,
              ((id / 40) % 3).toInt * 5))
          }
        }.toDF("id", "payload")
      val exact = png.select(col("id"), sha2(col("payload"), 256).as("sha"))
        .groupBy("sha")
        .agg(min(col("id")).as("id"), count(lit(1)).as("n_copies"))
      val feats = MultimodalOps.decodeImages(
          png.join(exact.select("id"), "id")).toDF()
        .select(col("id"), col("dhash"))
      val clusters = feats.join(exact, "id")
        .groupBy(col("dhash"))
        .agg(min(col("id")).as("rep_id"), sum(col("n_copies")).as("n_docs"),
          count(lit(1)).as("n_byte_variants"))
      val resized = MultimodalOps.resizeImages(
          png.join(clusters.select(col("rep_id").as("id")), "id"), 16, 16).toDF()
        .select(col("id").as("rep_id"), col("outW").as("out_w"),
          col("outH").as("out_h"), col("ok").as("resized_ok"))
      clusters.join(resized, "rep_id")
        .select(col("rep_id"), col("n_docs"), col("n_byte_variants"),
          col("out_w"), col("out_h"), col("resized_ok"))
        .orderBy("rep_id")
    }),
    // Incremental media admission against the STANDING MediaStore —
    // the multimodal twin of x_admit_incremental: the corpus slice
    // initializes the sha + dhash key-hash relations once; the batch
    // probes them bucket-pruned (payload bytes never shuffle; only
    // sha-novel payloads decode, one per distinct sha) and the novel
    // documents absorb in the same call. Verdict precedence duplicate
    // (sha) > near_duplicate (dhash) > novel; batch-internal fold is
    // keep-first in id order, and DROPPED documents never anchor (the
    // oracle encodes that: a doc whose (pattern, shift) matches only a
    // dropped earlier batch doc is a near-duplicate of the pattern's
    // FIRST doc, not an exact duplicate of the dropped one).
    "x_mm_admit_incremental" -> fused(mmAdmitPhased),
    // The SAME standing-store admission over a MIXED-modality corpus:
    // pattern g's payload is an image (g%3=0), a PCM recording (g%3=1:
    // shift 0 = WAV, 1 = the byte-different AIFF container, 2 = exactly
    // 2× gain), or a GVF1 keyframe video (g%3=2, brightness-shifted
    // frames) — the modality-sniffed perceptual key makes all three
    // re-publish classes cluster in ONE phash relation while the kind
    // salts keep modalities from aliasing. Same oracle as
    // x_mm_admit_incremental: both fixtures keep payload ≡ (g, sh) and
    // perceptual key ≡ g, so the group arithmetic is identical.
    "x_mm_mixed_admit" -> fused(mmMixedAdmitPhased),
    // REAL image resize: decode → aspect-fit bilinear Graphics2D scale
    // into 16×16 → PNG re-encode → verification re-decode, all inside
    // one partition (x_mm_resize pins the same geometry as column
    // algebra; this runs it on pixels). Solid-colour inputs stay solid
    // under bilinear scaling and PNG is lossless, so the OUTPUT pixel
    // sum is exact doc_id arithmetic: (r+g+b) · out_w · out_h.
    "x_mm_real_resize" -> ((s, d) => {
      import s.implicits._
      val png = T(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val w = (id % 29).toInt + 8; val h = (id % 13).toInt + 8
            val r = ((id * 7) % 251).toInt; val g = ((id * 13) % 251).toInt
            val b = ((id * 31) % 251).toInt
            (id, MultimodalOps.synthesizePng(w, h, (_, _) => (r << 16) | (g << 8) | b))
          }
        }.toDF("id", "payload")
      MultimodalOps.resizeImages(png, boxW = 16, boxH = 16).toDF()
        .select(col("id").as("doc_id"), col("inW").as("in_w"),
          col("inH").as("in_h"), col("outW").as("out_w"),
          col("outH").as("out_h"), col("lumaSum3").as("luma3_sum"), col("ok"))
        .orderBy("doc_id")
    }),
    // Invariant oracle: IVF ANN is inherently approximate, so the
    // driver-checkable contract is (a) every query returns exactly k
    // neighbors and (b) recall vs the EXACT brute-force top-k (computed
    // in the same plan) clears a threshold with wide margin — measured
    // recall at nprobe=8/nlist=16 is 0.82-0.85 across SFs vs the 0.6
    // gate (nprobe=4 sat at 0.57-0.61, straddling it). The oracle
    // states the contract; the hash matches iff it holds.
    // IVF-PQ with residual encoding + exact refine — the composed FAISS
    // IVFPQ(+refine) deployment shape, and the 100 TB endgame of the ANN
    // family: coarse cells bound the scan (nprobe/nlist of the corpus),
    // PQ codes over the RESIDUAL vec − cell_centroid (residuals have
    // far less variance than raw vectors, so the same codebook budget
    // quantizes tighter — the reason FAISS encodes residuals) cut the
    // probed bytes 16×, and only the 50-candidate shortlist hydrates
    // float vectors for the exact top-5. Invariants: exact shape, codes
    // in [0, ksub), refined recall ≥ 0.7 vs the float-exact kNN
    // (nprobe 8/16 caps attainable recall below the full-scan PQ's).
    "x_ann_ivf_pq" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val ed = e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        .localCheckpoint(true)
      val cells = IvfAnn.buildCells(ed, "vec_id", "embedding", nlist = 16)
      val withCells = IvfAnn.assignCells(ed, "vec_id", "embedding", cells)
        .join(broadcast(cells), col("cell") === col("cell_id"))
        .select(col("vec_id"), col("cell"), col("cell_vec"),
          zip_with(col("embedding"), col("cell_vec"), (x, y) => x - y).as("resid"))
        .localCheckpoint(true) // codebook training + encode both scan it
      val cb = PqOps.trainCodebooks(withCells, "vec_id", "resid", m = 16, ksub = 16, dim = 64)
      val coded = withCells.select(col("vec_id"), col("cell"), col("cell_vec"),
        PqOps.encode(col("resid"), cb, dim = 64).as("codes"))
      val recon = coded.select(col("cell"), col("vec_id"),
        PqOps.reconstructAdd(col("codes"), col("cell_vec"), cb).as("embedding"))
      val q = ed.filter(col("vec_id") < 20)
      val shortlist = IvfAnn.annSearch(q, recon, cells, "vec_id", "embedding",
          k = 50, nprobe = 8)
      val approx = refineShortlist(shortlist, ed, q)
      val codesOk = coded.agg(expr(
        "bool_and(forall(codes, c -> c >= 0 and c < 16))").as("codes_ok"))
      annGate(approx, q, ed, recallMin = 0.7).crossJoin(codesOk)
        .select(col("n_queries"), lit(5).as("k"), col("rows_ok"),
          col("codes_ok"), col("recall_ok"))
    }),
    // PQ at rest — the x_ann_ivf_pq shape served from the persisted
    // store: residual codes live in a cell-laid-out TableSink (probe
    // opens ONLY the probed cells' FILES, each row m code bytes — the
    // two compressions multiply), built from an 80% slice + an O(batch)
    // append of the rest under the fixed (cells, codebook). Gates: the
    // stored shortlist must EQUAL the in-memory search over the same
    // reconstruction (the store adds no approximation), and refined
    // recall holds the x_ann_ivf_pq band.
    "x_ann_pq_stored" -> fused(annPqStoredPhased),
    "x_ann_ivf" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val cells = IvfAnn.buildCells(e, "vec_id", "embedding", nlist = 16)
      val corpus = IvfAnn.assignCells(e, "vec_id", "embedding", cells)
      val q = e.filter(col("vec_id") < 20)
      val ann = IvfAnn.annSearch(q, corpus, cells, "vec_id", "embedding", k = 5, nprobe = 8)
      val exact = SimilarityOps.knnJoinCosine(q, e, "vec_id", "embedding", k = 5)
      val hits = ann.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
      val shape = ann.groupBy("query_id").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_queries"), expr("bool_and(n = 5)").as("rows_ok"))
      val recall = hits.agg(count(lit(1)).as("hit"))
        .crossJoin(exact.agg(count(lit(1)).as("tot")))
        .select((col("hit").cast("double") / col("tot") >= 0.6).as("recall_ok"))
      shape.crossJoin(recall)
        .select(col("n_queries"), lit(5).as("k"), col("rows_ok"), col("recall_ok"))
    }),
    // IVF-SQ8 — the composed shape a 100 TB ANN deployment actually runs:
    // cells store int8 codes + per-vector scale (4× less hot IO than
    // float32; coarse centroids stay float), the probe dequantizes
    // IN-CELL, and the invariant is the same in-plan contract as
    // x_ann_ivf — exactly k rows per query and recall vs the float-EXACT
    // brute-force top-k ≥ 0.6 (measured 0.82-0.85: int8 rounding does
    // not cost recall here because cosine is scale-invariant and the
    // quantization error is ≤ scale/2 per coordinate). `codes_ok`
    // additionally pins in-plan that every stored code fits int8 — the
    // tinyint schema itself is spec-asserted in AnnSpec.
    "x_ann_ivf_quant" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val cells = IvfAnn.buildCells(e, "vec_id", "embedding", nlist = 16)
      val corpus = IvfAnn.assignCells(e, "vec_id", "embedding", cells)
      val sq8 = IvfAnn.quantizeCells(corpus, "vec_id", "embedding")
      val q = e.filter(col("vec_id") < 20)
      val ann = IvfAnn.annSearchQuantized(q, sq8, cells, "vec_id", "embedding",
        k = 5, nprobe = 8)
      val exact = SimilarityOps.knnJoinCosine(q, e, "vec_id", "embedding", k = 5)
      val hits = ann.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
      val shape = ann.groupBy("query_id").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_queries"), expr("bool_and(n = 5)").as("rows_ok"))
      val recall = hits.agg(count(lit(1)).as("hit"))
        .crossJoin(exact.agg(count(lit(1)).as("tot")))
        .select((col("hit").cast("double") / col("tot") >= 0.6).as("recall_ok"))
      val codes = sq8.agg(coalesce(expr(
        "bool_and(forall(codes, c -> c >= -127 AND c <= 127))"), lit(true)).as("codes_ok"))
      shape.crossJoin(recall).crossJoin(codes)
        .select(col("n_queries"), lit(5).as("k"), col("rows_ok"),
          col("recall_ok"), col("codes_ok"))
    }),
    // Deletion on the standing ANN index (the x_bm25_delete counterpart
    // for the vector store): build the IVF-SQ8 index, remove the %5
    // slice, probe ALL cells. Contract (the x_ann_ivf_quant idiom): a
    // removed vector NEVER serves, every query still gets exactly k
    // rows, and full-probe recall vs the exact kNN over the SURVIVORS
    // clears the quantized bound — proving the delete rewrote the
    // victims' buckets and nothing else.
    "x_ann_delete" -> fused(annDeletePhased),
  )

  def oracles: Map[String, String] = Map(
    "x_mm_decode" ->
      """SELECT doc_id,
        |  CAST(md5_number_lower(text) % 1920 + 1 AS INTEGER) AS width,
        |  CAST(md5_number_lower(md5(text)) % 1080 + 1 AS INTEGER) AS height,
        |  3 AS channels,
        |  array_to_string(list_transform(generate_series(0, 3),
        |    i -> CAST(floor(i * octet_length(encode(text)) / 4.0) AS BIGINT)), ',') AS offsets
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Batch-decode parity: dims re-derive decodeStub's md5_number_lower
    // math; the mean byte folds the payload's hex dump two nibbles at a
    // time (DuckDB has no direct blob-byte accessor).
    "x_mm_batch_decode" ->
      """WITH h AS (SELECT doc_id AS id, lower(hex(CAST(text AS BLOB))) hx,
        |    octet_length(encode(text)) n, text FROM documents)
        |SELECT id,
        |  CAST(md5_number_lower(text) % 1920 + 1 AS INTEGER) AS width,
        |  CAST(md5_number_lower(md5(text)) % 1080 + 1 AS INTEGER) AS height,
        |  3 AS channels,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE
        |    list_sum(list_transform(generate_series(1, n), i ->
        |      (strpos('0123456789abcdef', substr(hx, 2*i-1, 1)) - 1) * 16 +
        |      strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1)) / n END, 6) AS mean_byte
        |FROM h ORDER BY id""".stripMargin,
    "x_mm_resize" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(md5_number_lower(text) % 1920 + 1 AS INTEGER) w,
        |    CAST(md5_number_lower(md5(text)) % 1080 + 1 AS INTEGER) h
        |  FROM documents),
        |s AS (SELECT doc_id, w, h, least(224.0 / w, 224.0 / h) sc FROM m)
        |SELECT doc_id,
        |  CAST(greatest(1, floor(w * sc)) AS INTEGER) AS out_w,
        |  CAST(greatest(1, floor(h * sc)) AS INTEGER) AS out_h,
        |  round(sc, 6) AS scale
        |FROM s ORDER BY doc_id""".stripMargin,
    // RAG pipe replay: the x_chunk_tokens windows (16/12) carry their
    // token slices straight into the x_bm25_topk scoring chain keyed by
    // cid, then best-chunk-per-doc attribution and the top-3 rank.
    "pipe_rag_e2e" ->
      s"""WITH w AS (SELECT doc_id, $words t FROM documents),
        |cd AS (SELECT doc_id * 1000 + CAST((s - 1) / 12 AS INTEGER) cid,
        |         doc_id src_doc, t[s:s+15] ct
        |       FROM (SELECT doc_id, t,
        |               unnest(generate_series(1, greatest(1, len(t) - 16 + 12), 12)) s
        |             FROM w WHERE len(t) > 0)),
        |tf AS (SELECT cid, dl, term, count(*) tf FROM
        |         (SELECT cid, len(ct) dl, unnest(ct) term FROM cd)
        |       GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) n_docs, avg(len(ct)) avgdl FROM cd),
        |qt AS (SELECT DISTINCT qid, term FROM
        |         (SELECT doc_id qid, unnest(t[1:5]) term FROM w
        |          WHERE doc_id % 97 = 0)),
        |sc AS (SELECT qt.qid query_id, tf.cid,
        |         sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |             * tf.tf * 2.2
        |             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) score
        |       FROM qt JOIN tf ON tf.term = qt.term
        |         JOIN df ON df.term = qt.term CROSS JOIN st
        |       WHERE df.df::DOUBLE / st.n_docs <= 1.0
        |       GROUP BY 1, 2),
        |r AS (SELECT query_id, cid, round(score, 6) score,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY round(score, 6) DESC, cid) rn FROM sc),
        |h AS (SELECT query_id, cid, score FROM r WHERE rn <= 20),
        |a AS (SELECT h.query_id, cd.src_doc doc_id, max(h.score) doc_score
        |      FROM h JOIN cd USING (cid) GROUP BY 1, 2),
        |r2 AS (SELECT query_id, doc_id, doc_score,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY doc_score DESC, doc_id) rk FROM a)
        |SELECT query_id, doc_id, doc_score, CAST(rk AS INTEGER) AS rank
        |FROM r2 WHERE rk <= 3 ORDER BY query_id, rank""".stripMargin,
    "x_bm25_topk" ->
      s"""WITH tokd AS (SELECT doc_id, $words AS t FROM documents),
        |tf AS (SELECT doc_id, dl, term, count(*) tf FROM
        |         (SELECT doc_id, len(t) dl, unnest(t) term FROM tokd)
        |       GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) n_docs, avg(len(t)) avgdl FROM tokd),
        |qt AS (SELECT DISTINCT qid, term FROM
        |         (SELECT doc_id qid, unnest(t[1:5]) term FROM tokd
        |          WHERE doc_id % 97 = 0)),
        |sc AS (SELECT qt.qid query_id, tf.doc_id,
        |         sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |             * tf.tf * 2.2
        |             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) score
        |       FROM qt JOIN tf ON tf.term = qt.term
        |         JOIN df ON df.term = qt.term CROSS JOIN st
        |       WHERE df.df::DOUBLE / st.n_docs <= 1.0
        |       GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, round(score, 6) score,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY round(score, 6) DESC, doc_id) rn FROM sc)
        |SELECT query_id, doc_id, score, CAST(rn AS INTEGER) AS rank
        |FROM r WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin,
    // The incremental store assembles the exact monolithic index over
    // the union corpus, so its oracle IS the x_bm25_topk replay: equal
    // answers prove the appended df/n_docs/avgdl statistics are current.
    "x_bm25_incremental" ->
      s"""WITH tokd AS (SELECT doc_id, $words AS t FROM documents),
        |tf AS (SELECT doc_id, dl, term, count(*) tf FROM
        |         (SELECT doc_id, len(t) dl, unnest(t) term FROM tokd)
        |       GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) n_docs, avg(len(t)) avgdl FROM tokd),
        |qt AS (SELECT DISTINCT qid, term FROM
        |         (SELECT doc_id qid, unnest(t[1:5]) term FROM tokd
        |          WHERE doc_id % 97 = 0)),
        |sc AS (SELECT qt.qid query_id, tf.doc_id,
        |         sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |             * tf.tf * 2.2
        |             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) score
        |       FROM qt JOIN tf ON tf.term = qt.term
        |         JOIN df ON df.term = qt.term CROSS JOIN st
        |       WHERE df.df::DOUBLE / st.n_docs <= 1.0
        |       GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, round(score, 6) score,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY round(score, 6) DESC, doc_id) rn FROM sc)
        |SELECT query_id, doc_id, score, CAST(rn AS INTEGER) AS rank
        |FROM r WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin,
    // BM25-after-delete replay: the index CTEs run over the SURVIVORS
    // only (the %5 slice is tombstoned and compacted away); queries
    // still come from the full corpus — a deleted doc's query text is
    // still a query. Equality proves decremented stats + rebuilt df.
    "x_bm25_delete" ->
      s"""WITH tokd AS (SELECT doc_id, $words AS t FROM documents
        |               WHERE doc_id % 5 <> 0),
        |tf AS (SELECT doc_id, dl, term, count(*) tf FROM
        |         (SELECT doc_id, len(t) dl, unnest(t) term FROM tokd)
        |       GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) n_docs, avg(len(t)) avgdl FROM tokd),
        |qt AS (SELECT DISTINCT qid, term FROM
        |         (SELECT doc_id qid, unnest(($words)[1:5]) term FROM documents
        |          WHERE doc_id % 97 = 0)),
        |sc AS (SELECT qt.qid query_id, tf.doc_id,
        |         sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |             * tf.tf * 2.2
        |             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) score
        |       FROM qt JOIN tf ON tf.term = qt.term
        |         JOIN df ON df.term = qt.term CROSS JOIN st
        |       WHERE df.df::DOUBLE / st.n_docs <= 1.0
        |       GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, round(score, 6) score,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY round(score, 6) DESC, doc_id) rn FROM sc)
        |SELECT query_id, doc_id, score, CAST(rn AS INTEGER) AS rank
        |FROM r WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin,
    // RRF hybrid replay: the x_bm25_topk chain at k=20 plus the j8-style
    // cosine kNN chain (same query ids, no self-exclusion), fused by
    // score = Σ 1/(60 + rank) and re-ranked on the rounded fused score.
    // The SAME SQL also oracles x_hybrid_stored (below): the persisted
    // Hybrid.search at nprobe = nlist is spec-pinned equal to this
    // in-memory fusion, so one replay covers both plans.
    "x_hybrid_rrf" -> hybridRrfSql,
    // Retrieve-then-rerank: the x_bm25_topk chain at k=20 nominates the
    // candidates, exact cosine against the query doc's vector re-ranks
    // ONLY those, top-5 on the rounded score with doc-id tie-break.
    "x_rerank" ->
      s"""WITH tokd AS (SELECT doc_id, $words AS t FROM documents),
        |tf AS (SELECT doc_id, dl, term, count(*) tf FROM
        |         (SELECT doc_id, len(t) dl, unnest(t) term FROM tokd)
        |       GROUP BY 1, 2, 3),
        |dfr AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) n_docs, avg(len(t)) avgdl FROM tokd),
        |qt AS (SELECT DISTINCT qid, term FROM
        |         (SELECT doc_id qid, unnest(t[1:5]) term FROM tokd
        |          WHERE doc_id % 97 = 0)),
        |sc AS (SELECT qt.qid query_id, tf.doc_id,
        |         sum(ln(1 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
        |             * tf.tf * 2.2
        |             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) score
        |       FROM qt JOIN tf ON tf.term = qt.term
        |         JOIN dfr ON dfr.term = qt.term CROSS JOIN st
        |       GROUP BY 1, 2),
        |bm AS (SELECT query_id, doc_id FROM
        |         (SELECT query_id, doc_id,
        |            row_number() OVER (PARTITION BY query_id
        |              ORDER BY round(score, 6) DESC, doc_id) rn FROM sc)
        |       WHERE rn <= 20),
        |q AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id % 97 = 0),
        |cd AS (SELECT bm.query_id, bm.doc_id, q.qe, e.embedding ce
        |       FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id
        |         JOIN q ON q.qid = bm.query_id),
        |u AS (SELECT query_id, doc_id, unnest(qe)::DOUBLE x,
        |        unnest(ce)::DOUBLE y FROM cd),
        |s2 AS (SELECT query_id, doc_id,
        |         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) sim
        |       FROM u GROUP BY 1, 2),
        |fr AS (SELECT query_id, doc_id, sim,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY sim DESC, doc_id) rn FROM s2)
        |SELECT query_id, doc_id, sim AS score, CAST(rn AS INTEGER) AS rank
        |FROM fr WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,
    // Hard-negative mining: per-anchor top-5 cosine among
    // DIFFERENT-label vectors, rounded score, id tie-break.
    // MMR replay: the greedy is re-run as a recursive CTE — base case
    // argmax relevance, each recursive step carries the selected ids AND
    // vectors, scores every remaining candidate, and keeps the winner
    // via the no-better-candidate NOT EXISTS (argmax without aggregates
    // — the recursive term allows neither grouping nor a second
    // recursive reference). Parity contract: every comparison is in
    // exact INTEGER millionths (7·relµ − 3·maxSimµ; a double-rounded
    // score would straddle decimal-half boundaries where the engines'
    // round() implementations disagree — mmr_select's Scaladoc); the
    // max-then-round order is equivalent to the engine's round-then-max
    // because rounding is monotone. Cosine is dot/(sqrt·sqrt) like the
    // engine kernel.
    "x_mmr_rerank" -> {
      def cosd(a: String, b: String) =
        s"list_dot_product($a, $b)/(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b)))"
      def score(relu: String, vecs: String, cv: String) =
        s"(7 * $relu - 3 * CAST(round(list_max(list_transform($vecs, " +
          s"pv -> ${cosd(cv, "pv")})) * 1000000.0) AS BIGINT))"
      s"""WITH RECURSIVE
        |q AS (SELECT vec_id qid, list_transform(embedding, x -> x::DOUBLE) qv
        |      FROM embeddings WHERE vec_id % 25 = 0),
        |p AS (SELECT qid, c.vec_id nid, qv, list_transform(c.embedding, x -> x::DOUBLE) cv
        |      FROM q CROSS JOIN embeddings c WHERE c.vec_id <> qid),
        |s AS (SELECT qid, nid, cv, ${cosd("qv", "cv")} sim FROM p),
        |cand AS (SELECT qid, nid, CAST(round(sim * 1000000.0) AS BIGINT) relu, cv FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) rn FROM s)
        |  WHERE rn <= 20),
        |sel AS (
        |  SELECT c.qid, 1 step, [c.nid] picked, [c.cv] pvecs, c.nid out_nid,
        |         10 * c.relu score_u
        |  FROM cand c WHERE NOT EXISTS (SELECT 1 FROM cand c2 WHERE c2.qid = c.qid
        |    AND (c2.relu > c.relu OR (c2.relu = c.relu AND c2.nid < c.nid)))
        |  UNION ALL
        |  SELECT x.qid, x.step, x.picked, x.pvecs, x.nid, x.score_u FROM (
        |    SELECT s.qid, s.step + 1 step, list_append(s.picked, c.nid) picked,
        |           list_append(s.pvecs, c.cv) pvecs, c.nid,
        |           ${score("c.relu", "s.pvecs", "c.cv")} score_u,
        |           s.picked opicked, s.pvecs opvecs
        |    FROM sel s JOIN cand c ON c.qid = s.qid AND NOT list_contains(s.picked, c.nid)
        |    WHERE s.step < 5
        |  ) x
        |  WHERE NOT EXISTS (SELECT 1 FROM cand c2 WHERE c2.qid = x.qid
        |    AND NOT list_contains(x.opicked, c2.nid) AND c2.nid <> x.nid
        |    AND ((${score("c2.relu", "x.opvecs", "c2.cv")} > x.score_u)
        |      OR (${score("c2.relu", "x.opvecs", "c2.cv")} = x.score_u AND c2.nid < x.nid))))
        |SELECT qid AS query_id, out_nid AS neighbor_id, CAST(step AS INTEGER) AS rank,
        |  score_u / 10000000.0 AS mmr_score
        |FROM sel ORDER BY 1, 3""".stripMargin
    },
    "x_hard_negatives" ->
      """WITH a AS (SELECT vec_id aid, embedding av, label al
        |       FROM embeddings WHERE vec_id % 83 = 0),
        |p AS (SELECT aid, c.vec_id nid, av, c.embedding cv
        |      FROM a JOIN embeddings c ON c.label <> a.al),
        |u AS (SELECT aid, nid, unnest(av)::DOUBLE x, unnest(cv)::DOUBLE y FROM p),
        |s AS (SELECT aid, nid,
        |        round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) sim
        |      FROM u GROUP BY 1, 2),
        |r AS (SELECT aid, nid, sim, row_number() OVER (PARTITION BY aid
        |        ORDER BY sim DESC, nid) rn FROM s)
        |SELECT aid AS anchor_id, nid AS negative_id, sim,
        |  CAST(rn AS INTEGER) AS rank
        |FROM r WHERE rn <= 5 ORDER BY anchor_id, rank""".stripMargin,
    // Contrastive export replay: the x_hard_negatives chain for both
    // legs — same-label (self excluded) top-1 as 'pos', diff-label
    // top-5 as 'neg'.
    "x_contrastive_pairs" ->
      """WITH a AS (SELECT vec_id aid, embedding av, label al
        |       FROM embeddings WHERE vec_id % 83 = 0),
        |p AS (SELECT aid, c.vec_id nid, av, c.embedding cv, 'neg' rl
        |      FROM a JOIN embeddings c ON c.label <> a.al
        |      UNION ALL
        |      SELECT aid, c.vec_id nid, av, c.embedding cv, 'pos' rl
        |      FROM a JOIN embeddings c ON c.label = a.al AND c.vec_id <> a.aid),
        |u AS (SELECT aid, nid, rl, unnest(av)::DOUBLE x, unnest(cv)::DOUBLE y FROM p),
        |s AS (SELECT aid, nid, rl,
        |        round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) sim
        |      FROM u GROUP BY 1, 2, 3),
        |r AS (SELECT aid, nid, rl, sim, row_number() OVER (PARTITION BY aid, rl
        |        ORDER BY sim DESC, nid) rn FROM s)
        |SELECT aid AS anchor_id, rl AS "role", nid AS pair_id, sim,
        |  CAST(rn AS INTEGER) AS rank
        |FROM r WHERE (rl = 'neg' AND rn <= 5) OR (rl = 'pos' AND rn <= 1)
        |ORDER BY anchor_id, rl, rank""".stripMargin,
    "x_hybrid_stored" -> hybridRrfSql,
    // Cosine LSH: hyperplane component (j,i) = ±1 from bit 0 of
    // md5_number_lower('j|i') — identical to the kernel's sign table.
    "x_cosine_lsh_pairs" ->
      """WITH u AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 i, unnest(embedding)::DOUBLE x
        |      FROM embeddings),
        |hp AS (SELECT j, i,
        |    CASE WHEN md5_number_lower(j || '|' || i) & 1 = 0 THEN 1.0 ELSE -1.0 END h
        |  FROM range(8) a(j) CROSS JOIN (SELECT DISTINCT i FROM u) b),
        |d AS (SELECT vec_id, j, sum(x * h ORDER BY i) dot FROM u JOIN hp USING (i) GROUP BY vec_id, j),
        |sk AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0 THEN (1 << j) ELSE 0 END) AS INTEGER) sk
        |       FROM d GROUP BY vec_id)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM sk a JOIN sk b ON a.sk = b.sk AND a.vec_id < b.vec_id
        |ORDER BY id_a, id_b""".stripMargin,
    "x_neardup_cosine" ->
      """WITH p AS (SELECT a.vec_id ia, b.vec_id ib, a.embedding ea, b.embedding eb
        |             FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |u AS (SELECT ia, ib, unnest(ea)::DOUBLE x, unnest(eb)::DOUBLE y FROM p),
        |s AS (SELECT ia, ib, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) sim FROM u GROUP BY ia, ib)
        |SELECT ia AS id_a, ib AS id_b, round(sim, 6) AS sim
        |FROM s WHERE sim >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    // SemDeDup replay: per-label mean centroids, argmax-cosine assignment
    // (lowest-label tie-break = the engine's max(struct(sim, -cid))),
    // then the paper's upper-triangular drop test — b is dropped iff some
    // same-cluster a ordered earlier (centroid-sim ASC, id ASC) has
    // cosine(a, b) >= eps. Pure joins, no recursion: the drop predicate
    // is ∃-earlier-neighbor, not a greedy chain. The order key rounds to
    // 6 decimals on BOTH sides: raw parallel-summed doubles differ in
    // their last ulps between evaluations (DuckDB re-evaluates the
    // inlined CTE per reference — a raw-keyed strict < even self-pairs
    // half the corpus), so a reproducible order needs a rounded key.
    "x_semdedup" ->
      """WITH u AS (SELECT label, generate_subscripts(embedding, 1) pos, unnest(embedding)::DOUBLE x
        |             FROM embeddings),
        |cent AS (SELECT label clabel, pos, avg(x) m FROM u GROUP BY 1, 2),
        |ev AS (SELECT vec_id, generate_subscripts(embedding, 1) pos, unnest(embedding)::DOUBLE x
        |         FROM embeddings),
        |s AS (SELECT vec_id, clabel,
        |        sum(ev.x * cent.m) / (sqrt(sum(ev.x * ev.x)) * sqrt(sum(cent.m * cent.m))) sim
        |      FROM ev JOIN cent ON ev.pos = cent.pos GROUP BY vec_id, clabel),
        |r AS (SELECT vec_id, clabel, sim,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, clabel) rn FROM s),
        |asg AS (SELECT vec_id, clabel cl, sim csim, round(sim, 6) ord FROM r WHERE rn = 1),
        |p AS (SELECT xa.vec_id ia, xb.vec_id ib, ea.embedding va, eb.embedding vb
        |        FROM asg xa JOIN asg xb ON xa.cl = xb.cl
        |         AND (xa.ord < xb.ord OR (xa.ord = xb.ord AND xa.vec_id < xb.vec_id))
        |        JOIN embeddings ea ON ea.vec_id = xa.vec_id
        |        JOIN embeddings eb ON eb.vec_id = xb.vec_id),
        |pu AS (SELECT ia, ib, unnest(va)::DOUBLE x, unnest(vb)::DOUBLE y FROM p),
        |ps AS (SELECT ia, ib, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) sim
        |         FROM pu GROUP BY ia, ib),
        |drp AS (SELECT DISTINCT ib vec_id FROM ps WHERE sim >= 0.3)
        |SELECT a.vec_id, CAST(a.cl AS BIGINT) AS cluster_id,
        |  round(a.csim, 6) AS centroid_sim, (d.vec_id IS NULL) AS kept
        |FROM asg a LEFT JOIN drp d USING (vec_id)
        |ORDER BY a.vec_id""".stripMargin,
    // Incremental SemDeDup replay: centroids fitted on the CORPUS split
    // (vec_id % 5 <> 0) only; everything assigns to those fixed
    // centroids; pairs (a earlier, b in batch) where earlier = any
    // corpus member, or a batch member under the paper order. Verdicts
    // for the batch split only.
    "x_semdedup_incremental" -> semDedupIncSql,
    "x_semdedup_store" -> semDedupIncSql,
    // Embedding-dedup cascade: the x_neardup_cosine pair set closed
    // under connectivity by the same recursive-CTE fixpoint as
    // x_dup_components, min reachable id as the representative.
    "pipe_embed_dedup_e2e" ->
      """WITH RECURSIVE p0 AS (SELECT a.vec_id ia, b.vec_id ib, a.embedding ea, b.embedding eb
        |             FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |u AS (SELECT ia, ib, unnest(ea)::DOUBLE x, unnest(eb)::DOUBLE y FROM p0),
        |sp AS (SELECT ia, ib FROM (
        |    SELECT ia, ib, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) sim
        |    FROM u GROUP BY ia, ib) WHERE sim >= 0.3),
        |e AS (SELECT ia s, ib d FROM sp UNION SELECT ib, ia FROM sp),
        |r AS (SELECT s AS id, s AS lbl FROM e
        |      UNION
        |      SELECT e.d, r.lbl FROM r JOIN e ON e.s = r.id),
        |c AS (SELECT id, min(lbl) component FROM r GROUP BY id)
        |SELECT em.vec_id, coalesce(c.component, em.vec_id) AS component,
        |  (coalesce(c.component, em.vec_id) = em.vec_id) AS kept
        |FROM embeddings em LEFT JOIN c ON c.id = em.vec_id
        |ORDER BY em.vec_id""".stripMargin,
    "x_mm_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes,
        |  sha256(text) AS payload_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Exact media dedup replay: same shared-asset synthesis, same
    // sha256 grouping, min-id survivor.
    "x_mm_exact_dedup" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 'shared banner asset' ELSE text END pl
        |  FROM documents)
        |SELECT min(doc_id) AS doc_id, sha256(pl) AS payload_sha256,
        |  count(*) AS n_copies, count(*) > 1 AS had_dups
        |FROM p GROUP BY 2 ORDER BY doc_id""".stripMargin,
    // Real codec round-trip: PNG is lossless and the fixture images are
    // solid-colour with doc_id-derived dims, so the decoded dims and
    // exact integer pixel sum are pure arithmetic — (r+g+b) · w · h.
    "x_mm_real_decode" ->
      """SELECT doc_id,
        |  CAST(doc_id % 29 + 8 AS INTEGER) AS width,
        |  CAST(doc_id % 13 + 8 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS channels,
        |  ((doc_id*7) % 251 + (doc_id*13) % 251 + (doc_id*31) % 251)
        |    * (doc_id % 29 + 8) * (doc_id % 13 + 8) AS luma3_sum,
        |  true AS ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Perceptual-hash contract: the oracle predicts the CLUSTERS (one
    // per doc_id % 40 source image — dHash is invariant under the
    // brightness shifts, distinct across patterns) and the byte-variant
    // count (one distinct payload per shift), never the hash value.
    "x_mm_phash_dedup" ->
      """SELECT min(doc_id) AS rep_id, count(*) AS n_members,
        |  count(DISTINCT (doc_id // 40) % 3) AS n_byte_variants
        |FROM documents GROUP BY doc_id % 40 ORDER BY rep_id""".stripMargin,
    // Audio decode: PCM is lossless and the sawtooth is doc_id
    // arithmetic, so the oracle replays every stat exactly — including
    // for the docs shipped as AIFF (container invariance: same
    // samples, same stats).
    "x_mm_audio_stats" ->
      """WITH n AS (SELECT doc_id, doc_id % 7 * 50 + 100 AS nf FROM documents),
        |s AS (SELECT doc_id, unnest(generate_series(0, nf - 1)) i FROM n),
        |a AS (SELECT doc_id,
        |        sum(abs((doc_id*31 + i*97) % 4001 - 2000)) abs_sum,
        |        max(abs((doc_id*31 + i*97) % 4001 - 2000)) peak
        |      FROM s GROUP BY 1)
        |SELECT n.doc_id, CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels, CAST(16 AS INTEGER) AS bits,
        |  CAST(n.nf AS BIGINT) AS n_frames,
        |  CAST(a.abs_sum AS BIGINT) AS abs_sum,
        |  CAST(a.peak AS INTEGER) AS peak, true AS ok
        |FROM n JOIN a USING (doc_id) ORDER BY n.doc_id""".stripMargin,
    // Audio-fingerprint contract (the x_mm_phash_dedup idiom on the
    // time axis): the oracle predicts the CLUSTERS — one per
    // doc_id % 40 recording, the fingerprint invariant under the
    // container swap and the 2× gain, distinct across recordings — and
    // the byte-variant count, never a fingerprint value.
    "x_mm_audio_fp_dedup" ->
      """SELECT min(doc_id) AS rep_id, count(*) AS n_members,
        |  count(DISTINCT (doc_id // 40) % 3) AS n_byte_variants
        |FROM documents GROUP BY doc_id % 40 ORDER BY rep_id""".stripMargin,
    // Video-signature contract: one cluster per doc_id % 40 video, the
    // per-frame dHashes invariant under the brightness shifts.
    "x_mm_video_sig_dedup" ->
      """SELECT min(doc_id) AS rep_id, count(*) AS n_members,
        |  count(DISTINCT (doc_id // 40) % 3) AS n_byte_variants
        |FROM documents GROUP BY doc_id % 40 ORDER BY rep_id""".stripMargin,
    // Frame sampling: PNG frames are lossless and solid-coloured, so
    // the sampled pixel sum is pure doc_id/frame arithmetic over the
    // every-2nd-frame index set.
    "x_mm_frame_sample" ->
      """WITH v AS (SELECT doc_id, doc_id % 5 + 4 AS nf,
        |             CAST(doc_id % 13 + 8 AS INTEGER) w,
        |             CAST(doc_id % 11 + 8 AS INTEGER) h FROM documents),
        |f AS (SELECT doc_id, w, h, unnest(generate_series(0, nf - 1, 2)) fr FROM v),
        |a AS (SELECT doc_id, count(*) ns,
        |        sum(((doc_id*7 + fr*11) % 251 + (doc_id*13 + fr*17) % 251
        |             + (doc_id*31 + fr*23) % 251) * w * h) luma
        |      FROM f GROUP BY 1)
        |SELECT v.doc_id, CAST(v.nf AS INTEGER) AS n_frames,
        |  CAST(a.ns AS INTEGER) AS n_sampled, v.w AS width, v.h AS height,
        |  CAST(a.luma AS BIGINT) AS luma3_sum, true AS ok
        |FROM v JOIN a USING (doc_id) ORDER BY v.doc_id""".stripMargin,
    // Media funnel: the oracle predicts the 40 perceptual clusters (one
    // per fmix64 pattern), their member counts, the 3 byte-variants per
    // cluster, and the constant 9×8 → 16×14 aspect-fit geometry — never
    // a hash value or a resized pixel.
    "pipe_multimodal_e2e" ->
      """SELECT min(doc_id) AS rep_id, count(*) AS n_docs,
        |  count(DISTINCT (doc_id // 40) % 3) AS n_byte_variants,
        |  CAST(16 AS INTEGER) AS out_w, CAST(14 AS INTEGER) AS out_h,
        |  true AS resized_ok
        |FROM documents GROUP BY doc_id % 40 ORDER BY rep_id""".stripMargin,
    // Media admission replay: sha ≡ (pattern, shift) and the perceptual
    // key ≡ pattern by the fixture construction, so the whole fold is
    // group arithmetic (OracleDefs.mmAdmitSql) — corpus anchors first
    // (exact then perceptual, BOTH live against the standing store),
    // then the batch-internal keep-first where only the pattern's FIRST
    // batch doc anchors (dropped docs never register their sha).
    "x_mm_admit_incremental" -> mmAdmitSql,
    // Identical arithmetic over the mixed image/audio/video fixture —
    // the modality dispatch changes payload bytes, never the (g, sh)
    // group structure the oracle predicts from.
    "x_mm_mixed_admit" -> mmAdmitSql,
    // Real resize: the aspect-fit geometry is the x_mm_resize algebra;
    // bilinear scaling of a solid image stays solid and PNG is
    // lossless, so the output pixel sum is exact arithmetic.
    "x_mm_real_resize" ->
      """WITH g AS (SELECT doc_id,
        |    CAST(doc_id % 29 + 8 AS INTEGER) w, CAST(doc_id % 13 + 8 AS INTEGER) h,
        |    (doc_id*7) % 251 + (doc_id*13) % 251 + (doc_id*31) % 251 AS s3
        |  FROM documents),
        |r AS (SELECT doc_id, w, h, s3,
        |    greatest(1, CAST(floor(w * least(16.0 / w, 16.0 / h)) AS INTEGER)) ow,
        |    greatest(1, CAST(floor(h * least(16.0 / w, 16.0 / h)) AS INTEGER)) oh
        |  FROM g)
        |SELECT doc_id, w AS in_w, h AS in_h, ow AS out_w, oh AS out_h,
        |  CAST(s3 * ow * oh AS BIGINT) AS luma3_sum, true AS ok
        |FROM r ORDER BY doc_id""".stripMargin,
    // Quantized-kNN invariant: shape + recall vs the float-exact top-k
    // are computed in-plan on the Spark side; the oracle states the
    // query count from the raw table and the contract as truths.
    "x_ann_quant" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS INTEGER) AS k,
        |  true AS rows_ok, true AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // Stored-PQ invariants (stored ≡ memory, recall band, shape) are
    // computed Spark-side — the oracle pins the query count and the
    // expected all-true verdicts.
    "x_ann_pq_stored" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS INTEGER) AS k,
        |  true AS rows_ok, true AS stored_eq_memory, true AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // IVF-PQ invariants (recall band, code range, exact shape) are
    // computed Spark-side — the oracle pins the query count and the
    // expected all-true verdicts.
    "x_ann_ivf_pq" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS INTEGER) AS k,
        |  true AS rows_ok, true AS codes_ok, true AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // PQ invariants (recall band, code range, exact shape) are computed
    // Spark-side — the oracle pins the query count and the expected
    // all-true verdicts.
    "x_ann_pq" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS INTEGER) AS k,
        |  true AS rows_ok, true AS codes_ok, true AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // Int8 quantization replay: same scale formula, same floor-based
    // rounding, same clamp — codes compare as exact integers, the scale
    // as the identical double, the error contract as the same boolean.
    "x_embed_quant" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) / 127.0 scale FROM e),
        |q AS (SELECT vec_id, scale, v,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v, x ->
        |           CAST(greatest(-127.0, least(127.0, floor(x / scale + 0.5))) AS INTEGER)) END qs
        |  FROM s)
        |SELECT vec_id, scale, array_to_string(qs, ',') AS q,
        |  coalesce(list_max(list_transform(generate_series(1, len(v)),
        |    i -> abs(v[i] - qs[i] * scale))), 0.0) <= scale / 2 * 1.000000001 AS err_ok
        |FROM q ORDER BY vec_id""".stripMargin,
    // ANN: 20 fixed queries, exactly k rows each, recall ≥ 0.6 vs the
    // exact top-k computed in the same Spark plan.
    "x_ann_ivf" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS INTEGER) AS k,
        |  true AS rows_ok, true AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // IVF-SQ8: same ANN contract over the int8-quantized cell store,
    // plus the in-plan code-range invariant.
    "x_ann_ivf_quant" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS INTEGER) AS k,
        |  true AS rows_ok, true AS recall_ok, true AS codes_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // ANN deletion contract (the x_ann_ivf_quant idiom): query count
    // from the raw table, the no-removed / shape / recall booleans
    // checked in-plan.
    "x_ann_delete" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS INTEGER) AS k,
        |  true AS rows_ok, true AS no_removed_served, true AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
  )
}
