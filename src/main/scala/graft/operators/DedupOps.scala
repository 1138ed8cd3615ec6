package graft.operators

import graft.functions.text
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for a training-data pipeline: exact-hash,
 * deterministic keep-first, MinHash/LSH near-dup, and n-gram Jaccard.
 * (Reference analogue: the URL-dedup seen-set, ingestion_service.py:74-77,
 * and `dropDuplicates` on ratings, recommendation-trainer.py:216 —
 * generalized here to content-level dedup at scale.)
 *
 * Algorithms per the published literature: MinHash resemblance sketching
 * (Broder, 1997), banded LSH candidate generation (Leskovec/Rajaraman/
 * Ullman, Mining of Massive Datasets ch. 3), SimHash fingerprints
 * (Charikar, 2002) as deployed for web-scale near-dup detection
 * (Manku et al., WWW 2007).
 */
object DedupOps {

  /**
   * Exact-content duplicate groups: md5 fingerprint → groupBy. At 100 TB
   * the shuffle key is the 32-char digest, never the document body; group
   * sizes are tiny so no skew handling is needed.
   */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), text.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(col("n") > 1)

  /**
   * Incremental dedup against a large corpus WITHOUT a full anti-join:
   * build a Bloom filter over the corpus fingerprints (one aggregation
   * pass, a few MB broadcast), keep every incoming row the filter has
   * definitely never seen, and run the exact anti-join ONLY for the
   * might-contain suspects (true dups + the fpp false positives).
   *
   * The corpus is never shuffled: it is scanned once to build the
   * filter and once more in a broadcast SEMI join probed by the (small)
   * suspect fingerprint set — only the confirmed-duplicate fingerprints
   * (tiny) leave that scan, and the final anti-join broadcasts them.
   * The fingerprinted batch is `localCheckpoint`ed (batch-sized) so its
   * three consumers share one scan and one digest pass. Output is
   * EXACT: identical to `incoming ANTI JOIN corpus ON fingerprint`
   * including null-text rows (a null never equi-matches, so the
   * anti-join keeps it — and so do we).
   */
  def incrementalNewDocs(incoming: DataFrame, corpus: DataFrame, textCol: String,
                         expectedItems: Long = 1L << 22,
                         fpp: Double = 0.01): DataFrame = {
    // null corpus fingerprints can never match; drop them before the
    // sketch build (which rejects nulls) and the semi probe
    val corpusFp = corpus.select(text.fingerprint(col(textCol)).as("__fp"))
      .filter(col("__fp").isNotNull)
    val bf = corpusFp.stat.bloomFilter("__fp", expectedItems, fpp)
    val bc = incoming.sparkSession.sparkContext.broadcast(bf)
    val inFp = incoming.withColumn("__fp", text.fingerprint(col(textCol)))
      .localCheckpoint()
    // null fp → probe null → treated as definitely-new, matching the
    // anti-join's null semantics
    val probe = coalesce(graft.functions.bloom.mightContain(col("__fp"), bc), lit(false))
    val suspects = inFp.filter(probe)
    val confirmedDupFps = corpusFp
      .join(broadcast(suspects.select("__fp").distinct()), Seq("__fp"), "left_semi")
    val verifiedNew = suspects.join(broadcast(confirmedDupFps), Seq("__fp"), "left_anti")
    inFp.filter(!probe).unionByName(verifiedNew).drop("__fp")
  }

  /**
   * Chunk-level duplicate groups over content-defined chunks: CDC
   * boundaries (Rabin-Karp rolling hash — [[graft.functions.sig.cdcBoundaries]])
   * cut each document at content-determined positions, so a paragraph
   * shared by two documents hashes to the same chunks even when its byte
   * offset differs. Output: one row per chunk fingerprint seen in more
   * than one place, with the (doc, chunk-position) occurrences.
   *
   * Scale shape: boundaries + substrings are map-only; the only shuffle
   * carries 32-char chunk digests and (id, pos) pairs — never text.
   */
  def cdcChunkDups(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 8, mask: Long = 31L): DataFrame = {
    // posexplode_OUTER + post-explode null filter, not plain posexplode:
    // InferFiltersFromGenerate would otherwise push size(cdc(..))>0 and
    // isnotnull(cdc(..)) into the scan and evaluate the O(n) boundary
    // kernel three times per document (outer generators infer nothing)
    val chunks = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        graft.functions.sig.cdcBoundaries(col(textCol), window, mask).as("__ends"))
      .select(col("doc_id"), col("__text"), col("__ends"),
        posexplode_outer(col("__ends")).as(Seq("__i", "__e")))
      .filter(col("__e").isNotNull)
      .select(col("doc_id"), (col("__i") + 1).as("pos"),
        expr("substring(__text, CASE WHEN __i = 0 THEN 1 ELSE __ends[__i - 1] + 1 END," +
          " __e - CASE WHEN __i = 0 THEN 0 ELSE __ends[__i - 1] END)").as("chunk"))
    chunks
      .select(col("doc_id"), col("pos"), md5(col("chunk").cast("binary")).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"),
        array_join(transform(array_sort(collect_list(struct(col("doc_id"), col("pos")))),
          x => concat(x.getField("doc_id").cast("string"), lit(":"),
            x.getField("pos").cast("string"))), ",").as("ids"))
      .filter(col("n") > 1)
  }

  /**
   * Deterministic keep-first dedup (D2 made reproducible): keep the row
   * with the smallest tie-break key per dedup key — unlike the reference's
   * arbitrary-row `dropDuplicates`, results are stable across runs.
   */
  def keepFirst(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame =
    df.withColumn("rn",
        row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)))
      .filter(col("rn") === 1)
      .drop("rn")

  /**
   * MinHash signatures per document: k salted-md5 min-hashes over word
   * n-gram shingles. Map-only stage (no shuffle); the signature (k × 32
   * chars) is the only thing downstream stages ever shuffle.
   */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.sig.minhash(col(textCol), shingleN, k).as("sig"))

  /**
   * MinHash-LSH candidate pairs: signatures split into bands; documents
   * sharing any band value become candidates (bucket on the band hash —
   * the classic LSH trick that avoids the O(n²) cross product entirely).
   *
   * Scale design: (1) a `repartition` barrier after signature computation
   * materializes the (tiny) signatures so the expensive text scan runs
   * exactly once — downstream stages shuffle 4×32-char digests, never
   * document bodies; (2) buckets come from ONE groupBy (no self-join, so
   * no second evaluation of the corpus), and pairs are enumerated inside
   * each bucket; (3) `bucketCap` bounds the quadratic enumeration on
   * pathological buckets (boilerplate shingles): buckets are ranked and
   * truncated BEFORE the list aggregation — bounded memory per bucket,
   * not a post-collect slice — and pairs from truncated buckets carry
   * `capped = true` so downstream knows the candidate set is incomplete
   * there. The default (unbounded) path matches the exact-semantics
   * oracle and skips the ranking window entirely.
   */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, k: Int, bands: Int,
                        bucketCap: Int = Int.MaxValue): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, shingleN, k)
      .repartition(col("doc_id"))
    val e = sigs.select(col("doc_id"),
      posexplode(text.minhashBands(col("sig"), k, bands)).as(Seq("band", "bv")))
    val pairsOf = (buckets: DataFrame) => buckets
      .filter(size(col("ids")) > 1)
      .select(col("capped"), explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(max(col("capped")).as("capped"))
    if (bucketCap == Int.MaxValue) {
      pairsOf(e.groupBy("band", "bv")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .withColumn("capped", lit(false)))
    } else {
      // Rank-then-truncate: the window and the groupBy share the
      // (band, bv) partitioning, so capping costs no extra exchange.
      val w = Window.partitionBy("band", "bv")
      pairsOf(e
        .withColumn("rn", row_number().over(w.orderBy("doc_id")))
        .withColumn("bsz", count(lit(1)).over(w))
        .filter(col("rn") <= bucketCap)
        .groupBy("band", "bv")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"),
          (first(col("bsz")) > bucketCap).as("capped")))
    }
  }

  /**
   * Standing MinHash/LSH band index of a corpus: one (doc_id, band,
   * band-value) row per document per band — the table a production
   * ingest pipeline keeps NEXT TO the corpus and probes on every batch
   * ([[neardupIncremental]]). Built map-only (signatures then a
   * per-row band split; no shuffle); refreshed by appending the rows of
   * newly admitted documents, never by reshuffling what exists. Size is
   * O(docs × bands) 32-char digests — orders of magnitude under the
   * text it indexes.
   */
  def minhashBandIndex(corpus: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, k: Int, bands: Int): DataFrame =
    minhashSignatures(corpus, idCol, textCol, shingleN, k)
      .select(col("doc_id"),
        posexplode(text.minhashBands(col("sig"), k, bands)).as(Seq("band", "bv")))

  /**
   * Append-only refresh of a PERSISTED standing band index
   * ([[minhashBandIndex]] rows in a [[graft.sources.TableSink]] table
   * keyed (doc_id, band)): upsert ONLY the new docs' band rows. The
   * corpus-sized standing part is never read or rewritten — TableSink's
   * copy-on-write contract keeps untouched buckets byte-identical — so
   * index maintenance costs O(batch) at any index size. Idempotent per
   * `version` (a replayed ingest converges, ST2).
   */
  def refreshBandIndexStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                             newDocs: DataFrame, idCol: String, textCol: String,
                             shingleN: Int, k: Int, bands: Int, version: Long): Unit =
    graft.sources.TableSink.upsert(spark, dir,
      minhashBandIndex(newDocs, idCol, textCol, shingleN, k, bands)
        .withColumn("__v", lit(version)),
      Seq("doc_id", "band"), "__v")

  /**
   * Incremental NEAR-dup admission of a new batch against a standing
   * corpus — the per-ingest shape a production pipeline runs daily, and
   * the near-dup analog of [[incrementalNewDocs]] (which only catches
   * exact fingerprints). The corpus is NEVER reshuffled:
   *
   *  1. candidates: the (tiny) batch computes its own signatures and
   *     band values; the standing index is probed with the batch side
   *     BROADCAST, so the index scan is map-only and only (batch,
   *     corpus) candidate id pairs leave it;
   *  2. verify: exact n-gram Jaccard restricted to those candidates —
   *     corpus text is fetched ONLY for candidate ids (broadcast
   *     semi-join ⇒ map-only corpus scan; with the corpus in a
   *     bucketed [[graft.sources.TableSink]] the semi-join becomes a
   *     dirty-bucket read), and only candidate documents' shingle
   *     digests ride the verify shuffle;
   *  3. verdict: one row per batch document — match count at the
   *     threshold, best match (highest Jaccard, smallest corpus id on
   *     ties), and the admission decision.
   *
   * LSH recall caveats are the standard ones ([[lshCandidatePairs]]):
   * banding is probabilistic, so a sub-threshold band agreement can
   * miss a true near-dup — the same trade every standing-index
   * deployment makes (Broder/LRU banding analysis picks k and bands
   * for the target threshold).
   *
   * The stated shape assumes batch ≪ corpus: the batch's band table and
   * candidate-id set ride DRIVER BROADCASTS. A corpus-sized "batch"
   * would OOM the driver silently, so the guard counts the batch first
   * (one cheap job over the small side) and REFUSES past
   * `maxBatchRows`; callers that genuinely need a huge batch set
   * `broadcastBatch = false` to run the same joins shuffled — correct
   * at any batch size, but the corpus index and text scans then shuffle
   * on the join keys instead of staying map-only, i.e. the cost profile
   * of a full [[dedupCascade]] over batch ∪ corpus.
   *
   * @return (doc_id, n_matches, match_id, match_jaccard, admit)
   */
  def neardupIncremental(batch: DataFrame, corpus: DataFrame, corpusIndex: DataFrame,
                         idCol: String, textCol: String, shingleN: Int, k: Int,
                         bands: Int, threshold: Double,
                         maxBatchRows: Int = 1000000,
                         broadcastBatch: Boolean = true): DataFrame = {
    require(threshold > 0.0, s"admission needs a positive threshold: $threshold")
    require(maxBatchRows > 0 && maxBatchRows < Int.MaxValue,
      s"maxBatchRows out of range: $maxBatchRows")
    if (broadcastBatch) {
      // limit(max + 1): the guard never scans past the bound it enforces.
      val n = batch.select(col(idCol)).limit(maxBatchRows + 1).count()
      require(n <= maxBatchRows,
        s"batch has > $maxBatchRows rows — too large for the broadcast " +
          "ingest shape (driver OOM risk). Pass broadcastBatch = false " +
          "to run the probe shuffled, or raise maxBatchRows deliberately.")
    }
    val side = if (broadcastBatch) (df: DataFrame) => broadcast(df)
               else (df: DataFrame) => df
    val bband = minhashSignatures(batch, idCol, textCol, shingleN, k)
      .select(col("doc_id").as("batch_id"),
        posexplode(text.minhashBands(col("sig"), k, bands)).as(Seq("band", "bv")))
    val cand = corpusIndex.join(side(bband), Seq("band", "bv"))
      .select(col("batch_id"), col("doc_id").as("corpus_id")).distinct()
    // Candidate-restricted exact verify (same math as ngramJaccardPairs,
    // but only candidate documents ever explode their shingles).
    val candIds = cand.select(col("corpus_id")).distinct()
    val cm = corpus.join(side(candIds),
        corpus(idCol) === candIds("corpus_id"), "left_semi")
      .select(col(idCol).as("corpus_id"),
        explode(array_distinct(text.shingles(text.tokens(col(textCol)), shingleN))).as("m"))
    val bm = batch.select(col(idCol).as("batch_id"),
      explode(array_distinct(text.shingles(text.tokens(col(textCol)), shingleN))).as("m"))
    val bsz = bm.groupBy("batch_id").agg(count(lit(1)).as("nb"))
    val csz = cm.groupBy("corpus_id").agg(count(lit(1)).as("nc"))
    val matches = cand
      .join(bm, "batch_id").join(cm, Seq("corpus_id", "m"))
      .groupBy("batch_id", "corpus_id").agg(count(lit(1)).as("inter"))
      .join(bsz, "batch_id").join(csz, "corpus_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("nb") + col("nc") - col("inter")))
      .filter(col("jaccard") >= threshold)
    val stats = matches.groupBy("batch_id").agg(count(lit(1)).as("n_matches"))
    val best = matches
      .withColumn("rn", row_number().over(
        Window.partitionBy("batch_id").orderBy(desc("jaccard"), col("corpus_id"))))
      .filter(col("rn") === 1)
      .select(col("batch_id"), col("corpus_id").as("match_id"),
        col("jaccard").as("match_jaccard"))
    batch.select(col(idCol).as("doc_id"))
      .join(stats.withColumnRenamed("batch_id", "doc_id"), Seq("doc_id"), "left")
      .join(best.withColumnRenamed("batch_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("match_id"), col("match_jaccard"),
        col("n_matches").isNull.as("admit"))
  }

  /**
   * The COMPLETE incremental admission decision — [[neardupIncremental]]
   * alone misses the within-batch case (two mutual near-dups both new to
   * the corpus would both pass the corpus check): close the batch under
   * its own near-dup relation first ([[dedupCascade]] over the batch —
   * bounded by the batch, never the corpus), then corpus-check every
   * doc. A doc is admitted iff it is its batch-component's min-id
   * representative AND NO member of its component matches the standing
   * corpus. Blocking is component-wide in BOTH directions: any member —
   * representative or not — is connected to every other member by
   * within-threshold steps, so a corpus match on any of them means
   * admitting the representative would re-introduce transitively
   * near-duplicate text; the conservatism is the same closure
   * reasoning the cascade itself applies.
   *
   * Scale shape: the cascade runs on the BATCH (small side); the corpus
   * participates only through [[neardupIncremental]]'s map-only scans.
   *
   * @return (doc_id, component, admit) — component labels are batch ids
   */
  def admitIncremental(batch: DataFrame, corpus: DataFrame, corpusIndex: DataFrame,
                       idCol: String, textCol: String, shingleN: Int, k: Int,
                       bands: Int, threshold: Double): DataFrame = {
    val within = dedupCascade(batch, idCol, textCol, shingleN, k, bands, threshold)
    val vs = neardupIncremental(batch, corpus, corpusIndex, idCol, textCol,
      shingleN, k, bands, threshold)
    // Eagerly materialize ONCE (batch-sized: one row per batch doc) —
    // `flagged` feeds two different plans below (the blocked-component
    // build AND the outer join), and without truncation each consumer
    // would re-execute the whole cascade + corpus-probe DAG upstream of
    // it. Exchange reuse does not apply across the two shapes.
    val flagged = within
      .join(vs.select(col("doc_id"), col("admit").as("__corpus_ok")), "doc_id")
      .localCheckpoint(true)
    // Component-wide block: one corpus-matched member poisons the whole
    // component. The blocked-component list is bounded by the batch's
    // component count — broadcast, no extra batch shuffle.
    val blocked = flagged.filter(!col("__corpus_ok"))
      .select(col("component").as("__blocked")).distinct()
    flagged.join(broadcast(blocked), col("component") === col("__blocked"), "left")
      .select(col("doc_id"), col("component"),
        (col("kept") && col("__blocked").isNull).as("admit"))
  }

  /**
   * Exact n-gram Jaccard similarity for candidate pairs (the verify stage
   * after LSH): explode distinct shingles, equi-join, count.
   */
  /** (gid, m) membership rows — one per (doc, DISTINCT shingle); the
    * shared set representation of [[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]] (one definition so the two kernels'
    * candidate semantics cannot drift). */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int): DataFrame =
    docs.select(col(idCol).as("gid"),
      explode(array_distinct(text.shingles(text.tokens(col(textCol)), shingleN))).as("m"))

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, threshold: Double): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, shingleN)
    SimilarityOps.jaccardJoin(
      sh.select(col("gid").as("id_a"), col("m")),
      sh.select(col("gid").as("id_b"), col("m")),
      "id_a", "id_b", "m", threshold)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Asymmetric shingle CONTAINMENT (Broder 1997's companion to
   * resemblance): C(A→B) = |A∩B| / |A|. Jaccard misses the
   * quote-inclusion / page-embeds-page case — a short doc fully copied
   * into a much longer one scores jaccard ≈ |A|/|B| (tiny) but
   * containment 1.0 — and containment is the signal substring-level
   * policies act on at document granularity. One row per unordered
   * pair with BOTH directions, filtered where either rounded direction
   * reaches `threshold` (the rounded value is the engine-stable
   * decision key, as everywhere in the suite).
   *
   * Scale shape: same co-shingle equi-join as [[ngramJaccardPairs]]
   * (shingle sets explode once, sizes are one bounded aggregation, the
   * join carries (id, shingle) pairs only); at production scale the
   * candidate set comes from [[lshCandidatePairs]] first — this is the
   * verify kernel, not the discovery scan.
   */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, threshold: Double): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, shingleN)
    val sizes = sh.groupBy("gid").agg(count(lit(1)).as("n"))
    val inter = sh.select(col("gid").as("id_a"), col("m"))
      .join(sh.select(col("gid").as("id_b"), col("m")), "m")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__i"))
    inter
      .join(sizes.select(col("gid").as("id_a"), col("n").as("__na")), "id_a")
      .join(sizes.select(col("gid").as("id_b"), col("n").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("__i").cast("double") / col("__na"), 6).as("cont_a_in_b"),
        round(col("__i").cast("double") / col("__nb"), 6).as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
  }

  /**
   * The full near-dup dedup cascade a production corpus runs, composed
   * end-to-end WITHOUT intermediate materialization: banded-LSH candidate
   * pairs → exact n-gram Jaccard verification restricted to those
   * candidates → [[connectedComponents]] closure → deterministic
   * representative per group. One output row per input document:
   * `(doc_id, component, kept)`.
   *
   * Scale shape, stage by stage:
   *  - candidates come from [[lshCandidatePairs]] (one bucket groupBy,
   *    never a self-join of the corpus);
   *  - verification joins shingle sets ONLY along candidate pairs — the
   *    shuffle is Σ over candidates of their shingle counts, not the
   *    all-co-shingle-pairs volume of the standalone
   *    [[ngramJaccardPairs]];
   *  - the closure shuffles (id, label) pairs per round;
   *  - representative selection is FREE: the component label is already
   *    the minimum member id, so "keep first by id per group" is a
   *    map-side comparison, not a window. End-to-end, document text never
   *    rides a shuffle after the first shingle explode.
   */
  def dedupCascade(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, k: Int, bands: Int,
                   threshold: Double): DataFrame = {
    require(threshold > 0.0, s"cascade needs a positive verify threshold: $threshold")
    val cand = lshCandidatePairs(docs, idCol, textCol, shingleN, k, bands)
      .select("id_a", "id_b")
    // The membership table feeds three differently-keyed consumers (id_a
    // probe, (id_b, shingle) join, per-doc sizes), so the tokenize+shingle
    // kernel re-runs per consumer. A/B'd: eagerly checkpointing it here
    // measured NO win at sf0.1 (7.6 s vs 7.5 s median-of-7) — each
    // consumer's exchange rescans either way, and the kernel is cheap
    // next to the joins. Revisit only if the kernel cost grows.
    val m = docs.select(col(idCol).as("id"),
      explode(array_distinct(text.shingles(text.tokens(col(textCol)), shingleN))).as("m"))
    val sz = m.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(m.select(col("id").as("id_a"), col("m")), "id_a")
      .join(m.select(col("id").as("id_b"), col("m")), Seq("id_b", "m"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val verified = inter
      .join(sz.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= threshold)
      .select("id_a", "id_b")
    val comp = connectedComponents(verified, "id_a", "id_b")
    docs.select(col(idCol).as("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("kept", col("doc_id") === col("component"))
  }

  /**
   * SimHash (64-bit) per document: each token hashes to 64 bits
   * (md5-derived, oracle-reproducible), bit-weighted majority vote forms
   * the fingerprint. Near-dups differ in few bits (Hamming distance).
   * Backed by the codegen [[graft.functions.SimHash64]] expression — one
   * hash per token; the earlier higher-order-function formulation paid
   * interpreted lambda calls per (token × bit).
   */
  def simhash(textCol: Column): Column = graft.functions.sig.simhash(textCol)

  /**
   * Split a 64-bit SimHash into `bands` contiguous bit ranges (widths as
   * even as possible). Pigeonhole: two fingerprints within Hamming
   * distance k agree EXACTLY on at least one of k+1 bands, so banding is
   * a lossless candidate generator for Hamming ≤ k.
   */
  def simhashBands(sh: Column, bands: Int): Column = {
    val base = 64 / bands
    val rem = 64 % bands
    val widths = Seq.tabulate(bands)(t => if (t < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    array(Seq.tabulate(bands) { t =>
      val mask = if (widths(t) == 64) -1L else (1L << widths(t)) - 1L
      shiftrightunsigned(sh, offsets(t)).bitwiseAND(lit(mask))
    }: _*)
  }

  /**
   * SimHash near-duplicate pairs with Hamming distance ≤ maxHamming, the
   * Manku et al. (WWW 2007) deployment pattern: fingerprints are banded
   * into maxHamming+1 pieces, candidates come from per-band bucket
   * equi-joins (ONE groupBy — no self-join, no cross product), and the
   * exact Hamming verify runs inside buckets. Output is identical to the
   * all-pairs form (pigeonhole guarantees no candidate is missed) while
   * only fingerprints — never bodies — shuffle, keyed by band value.
   */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 8): DataFrame = {
    val bands = maxHamming + 1
    // Materialization barrier: the text scan + fingerprint runs once; both
    // sides of the band self-join read the SAME exchange (ReusedExchange).
    // The coalesce makes `sh` (and so the band join key) NON-nullable:
    // otherwise the optimizer derives `isnotnull(simhash64(text))` for the
    // join key and pushes it into the scan, evaluating the O(tokens)
    // kernel a second time per document. Null-text rows are dropped
    // explicitly, which is what the derived filter did implicitly.
    val sigs = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), coalesce(simhash(col(textCol)), lit(0L)).as("sh"))
      .repartition(col("id"))
    val e = sigs.select(col("id"), col("sh"),
      posexplode(simhashBands(col("sh"), bands)).as(Seq("band", "bv")))
    val l = e.select(col("id").as("id_a"), col("sh").as("sa"), col("band"), col("bv"))
    val r = e.select(col("id").as("id_b"), col("sh").as("sb"), col("band"), col("bv"))
    // Candidates stream out of a hash join keyed by (band, bandValue) —
    // no struct materialization, and AQE splits any pathological bucket.
    // Each pair is emitted ONLY from its first agreeing band (a codegen
    // comparison chain), so no post-join distinct shuffle is needed.
    val base = 64 / bands
    val rem = 64 % bands
    val widths = Seq.tabulate(bands)(t => if (t < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    def bandVal(c: Column, t: Int): Column = {
      val mask = if (widths(t) == 64) -1L else (1L << widths(t)) - 1L
      shiftrightunsigned(c, offsets(t)).bitwiseAND(lit(mask))
    }
    val earlierBandAgrees = (0 until bands).map(t =>
      col("band") > t && bandVal(col("sa"), t) === bandVal(col("sb"), t)).reduce(_ || _)
    l.join(r, Seq("band", "bv")).filter(col("id_a") < col("id_b"))
      .filter(!earlierBandAgrees)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Connected components over near-duplicate PAIRS — the step every
   * dedup cascade needs last: pair relations are not transitive-closed,
   * so "keep one per pair" under-deletes; grouping pairs into components
   * and keeping one representative per component is the correct
   * semantics (cf. the MapReduce connected-components line of work,
   * Kiveris et al., SoCC 2014 — this is the min-label-propagation
   * member of that family).
   *
   * Each round does label(v) ← min(label(v), min over neighbors), then
   * one hop of path compression — label(v) ← label(label(v)) — which
   * makes convergence logarithmic in the component diameter (the
   * pointer-doubling idea from the MapReduce CC literature): 20 rounds
   * cover diameters near 2^20, not 20. Every label is itself a node id,
   * so compression is a self-join of the label table. Each round is an
   * equi-join plus a min-aggregation, both map-side partial, shuffling
   * only (id, label) pairs; the driver-side loop holds no data. The
   * convergence check rides the round itself: the propagate aggregation
   * carries each node's previous label alongside the new minimum, so
   * `__changed` is a column of the materialized round and the probe is
   * a scan of already-checkpointed rows — no separate join job per
   * round (that join used to double the round's job count).
   *
   * @param pairs one row per undirected pair (aCol, bCol)
   * @return (id, component) for every id appearing in a pair; the
   *         component label is the smallest member id. Ids in no pair
   *         are absent — callers union singletons back as themselves.
   * @throws IllegalStateException if labels are still moving after
   *         `maxIter` rounds — a partially-propagated label table is
   *         WRONG duplicate groups, and returning it silently would let
   *         a pathological pair graph corrupt the dedup downstream.
   *         With path compression 20 rounds cover diameters near 2^20,
   *         so a real hit means the input, not the budget, is broken.
   *         Only the distributed loop can throw: the driver path (edge
   *         sets at or under [[CcDriverMaxEdgesConf]]) always converges
   *         and ignores `maxIter`.
   * @throws IllegalArgumentException if [[CcDriverMaxEdgesConf]] is not
   *         a long in [0, Int.MaxValue - 1].
   *
   * Every round is lineage-TRUNCATED with an eager `localCheckpoint`
   * (not `cache`): iteration k's plan must not nest k copies of the
   * pair-generation subplan — under memory pressure a cache eviction
   * would replay the whole upstream join once per round (observed as an
   * OOM with a merely-cached loop). Checkpointed rounds hold only
   * (id, label) rows, and the returned frame is likewise
   * checkpoint-backed, so consuming it never re-runs the loop.
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint(true)
    // Size-adaptive closure (optimization round 20): a BOUNDED edge set
    // — the common case after LSH-verify pruning, and knowable for free
    // from the materialized frame — closes on the driver with one
    // collect + union-find (min-label semantics, value-identical to the
    // loop's fixpoint) instead of ~3 exchanges + a checkpoint + a
    // convergence probe PER ROUND. Unbounded graphs (or non-long ids)
    // take the distributed loop below unchanged; the cutoff is
    // session-conf'd ([[CcDriverMaxEdgesConf]]), scale-independent.
    val longIds = edges.schema.fields.forall(_.dataType == LongType)
    val maxDriverEdges = edges.sparkSession.conf
      .getOption(CcDriverMaxEdgesConf).map { raw =>
        // The bound is checked through limit(n + 1), an Int: above
        // Int.MaxValue - 1 it would wrap or saturate and stop bounding
        // the collect below, so such values are refused.
        def bad = new IllegalArgumentException(
          s"$CcDriverMaxEdgesConf must be a non-negative long at most " +
            s"${Int.MaxValue - 1}, got '$raw'")
        val n = try raw.toLong catch { case _: NumberFormatException => throw bad }
        if (n < 0 || n > Int.MaxValue - 1) throw bad
        n
      }.getOrElse(DefaultCcDriverMaxEdges)
    if (longIds && maxDriverEdges > 0 &&
        edges.limit(maxDriverEdges.toInt + 1).count() <= maxDriverEdges) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.get(x)
        while (p != x) { // path halving
          val gp = parent.get(p)
          parent.put(x, gp)
          x = gp
          p = parent.get(x)
        }
        x
      }
      edges.collect().foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        // union by MIN root: the component label must be the smallest
        // member id, exactly the loop's min-label fixpoint
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val out = new Array[Row](parent.size())
      val it = parent.keySet().iterator()
      var i = 0
      while (it.hasNext) { val id = it.next(); out(i) = Row(id, find(id)); i += 1 }
      val spark = edges.sparkSession
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out.toIndexedSeq,
          math.max(1, spark.sparkContext.defaultParallelism / 4)),
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("component", LongType, nullable = false))))
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint(true)
    var done = labels.isEmpty
    var i = 0
    while (!done && i < maxIter) {
      // Tagged union: each node's own row carries its previous label in
      // __old; neighbor contributions carry null. Every node has exactly
      // one own-row (edges are symmetric, so every dst is a src), so
      // min(__old) recovers the previous label inside the same
      // aggregation that computes the new minimum — change detection
      // costs no extra join.
      val neighborMin = edges
        .join(labels.select(col("id").as("src"), col("component")), "src")
        .select(col("dst").as("id"), col("component"),
          lit(null).cast(labels.schema("component").dataType).as("__old"))
      // NOT materialized: the compression join reads `propagated` twice,
      // but Spark reuses the aggregation's exchange between the two join
      // sides (ReusedExchange) — an eager checkpoint here was A/B'd and
      // measured ~50% SLOWER (extra job per round beats the reuse win).
      val propagated = labels.withColumn("__old", col("component"))
        .unionByName(neighborMin)
        .groupBy("id").agg(min(col("component")).as("component"),
          min(col("__old")).as("__old"))
      // Path compression: label(v) ← label(label(v)). Labels are node
      // ids, so the lookup is a self-join (left + coalesce for safety).
      val next = propagated
        .join(propagated.select(col("id").as("component"), col("component").as("__c2")),
          Seq("component"), "left")
        .select(col("id"), coalesce(col("__c2"), col("component")).as("component"),
          (coalesce(col("__c2"), col("component")) =!= col("__old")).as("__changed"))
        .localCheckpoint(true)
      done = next.filter(col("__changed")).isEmpty
      labels = next.select("id", "component")
      i += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds; " +
          "refusing to return partially-propagated (wrong) duplicate groups")
    labels
  }

  /** Session-conf override for the driver union-find cutoff of
    * [[connectedComponents]] — edge sets at or under it (after the
    * symmetric-distinct materialization) close on the driver in one
    * collect instead of the iterative label loop. The default (~4M
    * directed edges ≈ tens of MB of (long, long) rows) is the same
    * driver-boundedness budget the broadcast-side choices use. Values
    * must lie in [0, Int.MaxValue - 1]; 0 forces the distributed loop. */
  val CcDriverMaxEdgesConf = "spark.graft.cc.driverMaxEdges"
  private[graft] val DefaultCcDriverMaxEdges = 1L << 22
}
