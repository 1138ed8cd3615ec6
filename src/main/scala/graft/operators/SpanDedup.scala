package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Exact duplicated-SPAN detection and removal — substring-level dedup in
 * the sense of Lee et al. 2022 ("Deduplicating Training Data Makes
 * Language Models Better"): the unit of deduplication is a k-token span,
 * not the whole document, so boilerplate shared across otherwise-distinct
 * pages (headers, license blocks, templated paragraphs) is found and cut
 * while the unique prose stays. Complements the document-level cascade in
 * [[DedupOps]] (exact hash / MinHash / SimHash all score whole docs and
 * miss partial duplication entirely).
 *
 * The reference paper builds a suffix array over the concatenated corpus;
 * the standard DISTRIBUTED formulation (used by SlimPajama-style
 * pipelines) is the one here: slide a k-token window over every document,
 * group identical windows, and call a span duplicated when it occurs in
 * ≥ `minDocs` distinct documents. Detection is two map-side-combinable
 * aggregations over O(total tokens) window rows; removal probes the
 * duplicated-span set against the windows and masks the covered token
 * positions.
 *
 * Two keying modes, same semantics:
 *
 *  - STRING-keyed ([[duplicatedSpans]] / [[scrubSpans]]): the span text
 *    itself is the group key — the form the DuckDB oracle replays
 *    verbatim, kept as the executable spec.
 *  - DIGEST-keyed ([[duplicatedSpansDigest]] / [[scrubSpansDigest]]):
 *    the 100 TB form. Spans are keyed by a 128-bit digest (two
 *    independently-seeded xxhash64 words — one 64-bit word has a real
 *    birthday collision expectation at ~10^13 windows; at 128 bits it is
 *    ~10^-13), so the corpus-wide exchanges carry 16-byte keys instead
 *    of k-token strings (shuffle bytes shrink ~k×), and the
 *    duplicated-span set — tiny relative to the corpus — probes the
 *    windows as a broadcast instead of a shuffle join. Span TEXT never
 *    enters a corpus-wide exchange in this mode (spec-pinned on the
 *    physical plan): the inventory re-attaches one representative span
 *    via a second aggregation over ONLY the already-identified
 *    duplicated windows, and the scrubber needs no span text at all
 *    past the digest.
 *
 * Scale posture (100 TB): window rows are linear in corpus tokens — the
 * same asymptotics as the tokenize pass every other curation op already
 * pays — and every stage is a hash exchange with partial aggregation
 * (no sort, no cross product). The digest mode's representative-span
 * pass re-scans the corpus (windows are NOT persisted on purpose —
 * caching O(corpus tokens) of window rows is exactly the wrong trade at
 * scale; a second map-side scan is not), but its exchange carries only
 * the duplicated spans.
 */
object SpanDedup {

  /** Tokenization shared with the other text kernels: lower, split on
    * runs of [[graft.functions.text.WhitespaceRun]] (the ONE spelled-out
    * whitespace class both engine and OracleSql use), drop empties. */
  private[operators] def toks(textCol: Column): Column =
    filter(split(lower(trim(textCol)), graft.functions.text.WhitespaceRun), t => t =!= "")

  // Digest-mode keying: the compiled fixed-width window kernel
  // ([[graft.functions.WindowKernels.fixedWindows]] — seed-chained
  // xxhash64 over the window's token strings, the family's ONE digest
  // convention; see [[digestWindows]]). The former per-window
  // xxhash64(concat_ws(" ", slice(...))) form built every window's text
  // inside an interpreted HOF lambda just to hash it — the kernel
  // generates the whole per-document relation in one compiled pass with
  // zero slice/string allocations (optimization round 19, measured on
  // the ∞-gram twin of this pattern).

  /**
   * One row per k-token window: (id, i, span) with i the 1-based start
   * token position and span the space-joined window text. Documents
   * shorter than k tokens produce no rows. The guarded `sequence` matters:
   * Spark's `sequence(1, n)` auto-steps DOWNWARD when n < 1, so the
   * short-doc case must branch to an empty array, not rely on the bounds.
   */
  def spanWindows(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"span width k must be >= 2: $k")
    val t = toks(col(textCol))
    val starts = when(size(t) >= k, sequence(lit(1), size(t) - lit(k - 1)))
      .otherwise(array().cast("array<int>"))
    docs
      .select(col(idCol),
        explode(transform(starts, i =>
          struct(i.as("i"), concat_ws(" ", slice(t, i, lit(k))).as("span")))).as("__w"))
      .select(col(idCol), col("__w.i").as("i"), col("__w.span").as("span"))
  }

  /**
   * The duplicated-span inventory over PREBUILT window rows (the factored
   * core — [[scrubSpans]] derives its duplicated set from the same window
   * frame it probes, so the operator is written once): every span
   * occurring in ≥ `minDocs` distinct documents, with document frequency
   * and total occurrence count. Both aggregates are partial-aggregation
   * friendly (count-distinct over the doc id expands to the standard
   * two-phase plan), so the only full-width shuffle is the span key.
   */
  def duplicatedSpansFromWindows(win: DataFrame, idCol: String,
                                 minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    win
      .groupBy(col("span"))
      .agg(countDistinct(col(idCol)).as("n_docs"), count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= minDocs)
  }

  /** String-keyed duplicated-span inventory (oracle mode). */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String, k: Int,
                      minDocs: Int = 2): DataFrame =
    duplicatedSpansFromWindows(spanWindows(docs, idCol, textCol, k), idCol, minDocs)

  /**
   * Digest-keyed duplicated-span inventory — same output as
   * [[duplicatedSpans]] (identical absent a 128-bit digest collision;
   * spec-pinned equal on a shared-boilerplate fixture), different
   * exchange economics: pass 1 aggregates (doc-frequency, occurrences)
   * under the 16-byte digest key — no span text in the corpus-wide
   * exchange — and pass 2 re-attaches ONE representative span by
   * aggregating only the windows whose digest is already known
   * duplicated (the broadcast semi-probe prunes map-side, so the only
   * exchange carrying span text is sized by the duplicated-span
   * inventory, not the corpus).
   */
  def duplicatedSpansDigest(docs: DataFrame, idCol: String, textCol: String, k: Int,
                            minDocs: Int = 2,
                            // the family-standard escape hatch: false runs the
                            // inventory-sized joins shuffled when the duplicated-
                            // span inventory outgrows the driver/broadcast limit
                            broadcastDups: Boolean = true): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val bcast = if (broadcastDups) (df: DataFrame) => broadcast(df)
                else (df: DataFrame) => df
    val win = digestWindows(docs, idCol, textCol, k)
    val counts = win
      .groupBy(col("__h1"), col("__h2"))
      .agg(countDistinct(col("__id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= minDocs)
    // The counts relation is consumed ONCE (a single broadcast) and its
    // per-key stats ride the representative-site aggregation as
    // key-constant max's — a second counts join would re-evaluate the
    // corpus-scanning aggregate subtree under a second broadcast. Span
    // text re-attaches from the representative doc's tokens under a
    // broadcast of the inventory-sized site relation (the [[attachSpans]]
    // idiom) — the old string-keyed pass 2 rebuilt EVERY window's text a
    // second time just to aggregate one representative per digest.
    val sites = win
      .join(bcast(counts), Seq("__h1", "__h2"))
      .groupBy(col("__h1"), col("__h2"))
      .agg(min(struct(col("__id"), col("i"))).as("__site"),
        max(col("n_docs")).as("n_docs"), max(col("n_occ")).as("n_occ"))
      .select(col("__site.__id").as("__sid"), col("__site.i").as("__si"),
        col("n_docs"), col("n_occ"))
    docs.select(col(idCol).as("__sid"), toks(col(textCol)).as("__t"))
      .join(bcast(sites), Seq("__sid"))
      .select(concat_ws(" ", slice(col("__t"), col("__si"), lit(k))).as("span"),
        col("n_docs"), col("n_occ"))
  }

  /**
   * Span removal: for each document, drop every token covered by at
   * least one duplicated window (a position may be covered by many
   * overlapping windows — coverage is a distinct (id, pos) set, so
   * overlaps merge for free) and rebuild the remaining text in order.
   * Returns one row per INPUT document: (id, n_tokens, n_removed,
   * clean_text) — empty/short docs pass through with zero counts, so
   * the op is a total function over the corpus.
   *
   * String-keyed oracle mode. The window frame is built once and feeds
   * both the duplicated-set aggregation and the coverage join (factored
   * via [[duplicatedSpansFromWindows]]); the DAG still evaluates the
   * tokenize+explode under each consumer — deliberately not persisted,
   * see the class note. [[scrubSpansDigest]] is the scale form.
   */
  def scrubSpans(docs: DataFrame, idCol: String, textCol: String, k: Int,
                 minDocs: Int = 2): DataFrame = {
    val win = spanWindows(docs, idCol, textCol, k)
    val dup = duplicatedSpansFromWindows(win, idCol, minDocs).select(col("span"))
    val cover = win.join(dup, "span")
      .select(col(idCol), explode(sequence(col("i"), col("i") + lit(k - 1))).as("pos"))
      .distinct()
      .withColumn("__cov", lit(1))
    scrubWithCoverage(docs, idCol, textCol, cover)
  }

  /**
   * Digest-keyed span removal — the 100 TB form of [[scrubSpans]], same
   * output (spec-pinned): windows drop their span text for a 128-bit
   * digest immediately after hashing, the duplicated-digest set is
   * detected under the digest key and probed back as a BROADCAST
   * (duplicated spans are tiny relative to the corpus; set
   * `broadcastDups = false` to fall back to a shuffled join when an
   * adversarial corpus makes the inventory itself huge), and coverage /
   * reassembly proceed on (id, pos) exactly as the string form. Span
   * text appears in NO exchange anywhere in this plan — the widest
   * shuffled payloads are 16-byte digests and single tokens.
   */
  def scrubSpansDigest(docs: DataFrame, idCol: String, textCol: String, k: Int,
                       minDocs: Int = 2, broadcastDups: Boolean = true): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val win = digestWindows(docs, idCol, textCol, k)
      .select(col("__id").as(idCol), col("i"), col("__h1"), col("__h2"))
    // The window relation is CONSUMED twice (detection aggregate +
    // coverage probe) but deliberately re-evaluated map-side rather than
    // persisted or exchange-pinned. Measured alternative (round 11,
    // sf0.1, docs/PLANS.md): repartitioning `win` on the digest key so
    // both consumers share one exchange does NOT dedupe — Catalyst prunes
    // `i` out of the aggregation's subtree, so the two exchanges
    // canonicalize differently and ReuseExchange never fires; the
    // variant just added two O(window rows) shuffles (timing within
    // noise at sf0.1, strictly worse at scale where the network is
    // scarcer than scan CPU). Caching the windows is O(corpus tokens)
    // of state — the wrong trade at 100 TB (class note above).
    val dup = win
      .groupBy(col("__h1"), col("__h2"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("__h1"), col("__h2"))
    val cover = win.join(if (broadcastDups) broadcast(dup) else dup, Seq("__h1", "__h2"))
      .select(col(idCol), explode(sequence(col("i"), col("i") + lit(k - 1))).as("pos"))
      .distinct()
      .withColumn("__cov", lit(1))
    scrubWithCoverage(docs, idCol, textCol, cover)
  }

  /**
   * KEEP-FIRST span removal — the survivorship policy of
   * [[scrubSpansDigest]]: one CANONICAL occurrence of every duplicated
   * window survives (the minimum (id, position) site — deterministic,
   * order-free) and only the other occurrences' positions are covered.
   * The all-copies scrub deletes duplicated content from the corpus
   * entirely; a training pipeline usually wants exactly one copy of a
   * license block or a famous quote to REMAIN — the keep-first rule the
   * document/line/media dedup families here already apply, at span
   * granularity.
   *
   * Two deliberate semantic differences from the all-copies scrub,
   * both ExactSubstr-faithful (Lee et al. 2022 dedup within documents
   * too): duplication counts total OCCURRENCES (≥ 2), not distinct
   * documents, so a span repeated inside ONE document deduplicates;
   * and a kept canonical site can still lose positions to an
   * overlapping duplicated window whose own canonical lies elsewhere
   * (coverage is a union over windows, as in the all-copies form).
   *
   * Scale shape: identical to [[scrubSpansDigest]] — the detection
   * aggregate additionally carries min(struct(id, i)) per digest
   * (partial-combinable), the duplicated set broadcasts back, and the
   * canonical site drops out with one struct inequality before the
   * position explode. Span text appears in no exchange.
   */
  def scrubSpansKeepFirst(docs: DataFrame, idCol: String, textCol: String,
                          k: Int, broadcastDups: Boolean = true): DataFrame = {
    val win = digestWindows(docs, idCol, textCol, k)
      .select(col("__id").as(idCol), col("i"), col("__h1"), col("__h2"))
    val dup = win
      .groupBy(col("__h1"), col("__h2"))
      .agg(count(lit(1)).as("__occ"),
        min(struct(col(idCol), col("i"))).as("__first"))
      .where(col("__occ") >= 2)
      .select(col("__h1"), col("__h2"), col("__first"))
    val cover = win.join(if (broadcastDups) broadcast(dup) else dup, Seq("__h1", "__h2"))
      .where(struct(col(idCol), col("i")) =!= col("__first"))
      .select(col(idCol), explode(sequence(col("i"), col("i") + lit(k - 1))).as("pos"))
      .distinct()
      .withColumn("__cov", lit(1))
    scrubWithCoverage(docs, idCol, textCol, cover)
  }

  /**
   * Standing span-digest inventory of a corpus — the table a production
   * ingest pipeline keeps NEXT TO the corpus so every new batch can be
   * span-scrubbed WITHOUT rescanning the corpus (the substring analog of
   * [[DedupOps.minhashBandIndex]]): one row per distinct 128-bit span
   * digest with its document frequency and occurrence count. Digests
   * only, ~32 bytes a row — never span text — so the inventory is
   * orders of magnitude under the text it indexes and its build plan
   * shuffles nothing wider than the digest key.
   *
   * Maintenance contract: counts over DISJOINT document sets are
   * additive per digest, so the index refreshes by [[mergeSpanIndexes]]
   * as a SCHEDULED compaction (build the batch's own inventory — O(batch)
   * — and merge), not by per-batch row upserts: span digests are
   * uniformly distributed, so any batch dirties essentially every bucket
   * of a copy-on-write table and a per-batch upsert would degrade to
   * O(index) rewrites; the scheduled merge amortizes exactly like
   * [[graft.sources.CellStore.maintain]]'s rebuild. Persisted (parquet /
   * TableSink), the `n_docs >= minDocs` admission read pushes its filter
   * into the scan.
   */
  def spanDigestIndex(corpus: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    digestWindows(corpus, idCol, textCol, k)
      .select(col("__id").as(idCol), col("__h1"), col("__h2"))
      .groupBy(col("__h1"), col("__h2"))
      .agg(countDistinct(col(idCol)).as("n_docs"), count(lit(1)).as("n_occ"))
  }

  /** Additive merge of span-digest inventories built over DISJOINT
    * document sets (the compaction step of the [[spanDigestIndex]]
    * maintenance contract; associative, so any merge tree works) — the
    * ONE merge definition, n-ary so a many-part merge is a single
    * aggregation, not a chain. The law
    * `index(a ∪ b) = merge(index(a), index(b))` is spec-pinned. */
  def mergeSpanIndexesAll(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "at least one inventory part")
    parts.reduce(_ unionByName _)
      .groupBy(col("__h1"), col("__h2"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_occ")).as("n_occ"))
  }

  /** Binary form of [[mergeSpanIndexesAll]]. */
  def mergeSpanIndexes(a: DataFrame, b: DataFrame): DataFrame =
    mergeSpanIndexesAll(Seq(a, b))

  /**
   * Admission-time span scrub of a NEW batch against a standing
   * [[spanDigestIndex]] — the per-ingest shape: O(batch) window work
   * plus one filter-pushed scan of the (digest-only) index; the corpus
   * text is NEVER read. A span is duplicated when the batch's own
   * counts and the index's counts TOGETHER reach `minDocs`, so the
   * output is pointwise identical to [[scrubSpansDigest]] over
   * corpus ∪ batch restricted to the batch's rows (document sets must
   * be disjoint — re-ingesting an indexed doc double-counts it;
   * spec- and oracle-pinned on the disjoint case).
   *
   * The duplicated set is assembled from three prunable parts —
   * index-already-duplicated (a pushed `n_docs >= minDocs` scan),
   * batch-internally-duplicated, and crossed (a digest under threshold
   * on both sides whose SUM reaches it; the index side probes the
   * batch's counts as a broadcast, keeping the index scan map-only).
   * `broadcastProbes = false` runs the batch-count probes shuffled for
   * a genuinely huge batch — correct at any size, at full-shuffle cost.
   */
  def scrubAgainstIndex(batch: DataFrame, index: DataFrame,
                        idCol: String, textCol: String, k: Int,
                        minDocs: Int = 2, broadcastProbes: Boolean = true): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val bcast = if (broadcastProbes) (df: DataFrame) => broadcast(df)
                else (df: DataFrame) => df
    val win = digestWindows(batch, idCol, textCol, k)
      .select(col("__id").as(idCol), col("i"), col("__h1"), col("__h2"))
    val batchCounts = win
      .groupBy(col("__h1"), col("__h2"))
      .agg(countDistinct(col(idCol)).as("__bn"))
    val already = index.where(col("n_docs") >= minDocs)
      .select(col("__h1"), col("__h2"))
    val internal = batchCounts.where(col("__bn") >= minDocs)
      .select(col("__h1"), col("__h2"))
    val crossed = index.where(col("n_docs") < minDocs)
      .join(bcast(batchCounts), Seq("__h1", "__h2"))
      .where(col("n_docs") + col("__bn") >= minDocs)
      .select(col("__h1"), col("__h2"))
    val dup = already.unionByName(internal).unionByName(crossed).distinct()
    val cover = win.join(bcast(dup), Seq("__h1", "__h2"))
      .select(col(idCol), explode(sequence(col("i"), col("i") + lit(k - 1))).as("pos"))
      .distinct()
      .withColumn("__cov", lit(1))
    scrubWithCoverage(batch, idCol, textCol, cover)
  }

  /**
   * Admission-time KEEP-FIRST span scrub — [[scrubSpansKeepFirst]]'s
   * per-batch production form against the standing [[spanDigestIndex]]:
   * the corpus arrived FIRST, so the canonical copy of any span the
   * index already holds lives in the corpus and EVERY batch occurrence
   * of it scrubs (mere presence, n_occ ≥ 1 — unlike the all-copies
   * incremental scrub there is no threshold-crossing arithmetic);
   * corpus-NOVEL spans duplicated within the batch keep their batch-
   * canonical min (id, position) occurrence and scrub the rest. On an
   * id-ordered ingest (every corpus id below every batch id) this is
   * EXACTLY the global keep-first over corpus ∪ batch restricted to the
   * batch — the incremental-equality law, spec-pinned; under arbitrary
   * ids it is the arrival-order semantics an append-only pipeline
   * actually wants (first INGESTED copy survives).
   *
   * Scale shape: O(batch) window work; the index contributes ONE
   * map-only scan probed by a broadcast of the batch's distinct digests
   * (the [[scrubAgainstIndex]] crossed-probe idiom), returning only the
   * batch-relevant hit set (O(batch distinct digests)) — corpus text is
   * never reread and the index never shuffles. `broadcastProbes =
   * false` runs the probes shuffled for a genuinely huge batch.
   */
  def scrubKeepFirstAgainstIndex(batch: DataFrame, index: DataFrame,
                                 idCol: String, textCol: String, k: Int,
                                 broadcastProbes: Boolean = true): DataFrame = {
    val bcast = if (broadcastProbes) (df: DataFrame) => broadcast(df)
                else (df: DataFrame) => df
    val win = digestWindows(batch, idCol, textCol, k)
      .select(col("__id").as(idCol), col("i"), col("__h1"), col("__h2"))
    val batchAgg = win
      .groupBy(col("__h1"), col("__h2"))
      .agg(count(lit(1)).as("__bn"),
        min(struct(col(idCol), col("i"))).as("__first"))
    val corpusHit = index
      .join(bcast(batchAgg.select(col("__h1"), col("__h2"))), Seq("__h1", "__h2"))
      .select(col("__h1"), col("__h2"))
      .withColumn("__inc", lit(1))
    val cover = win
      .join(bcast(batchAgg), Seq("__h1", "__h2"))
      .join(bcast(corpusHit), Seq("__h1", "__h2"), "left")
      .where(col("__inc").isNotNull ||
        (col("__bn") >= 2 && struct(col(idCol), col("i")) =!= col("__first")))
      .select(col(idCol), explode(sequence(col("i"), col("i") + lit(k - 1))).as("pos"))
      .distinct()
      .withColumn("__cov", lit(1))
    scrubWithCoverage(batch, idCol, textCol, cover)
  }

  /**
   * Duplicated-span LOSS-MASK ranges — the softer alternative to
   * scrubbing: instead of deleting duplicated spans from the text (and
   * breaking the surrounding prose), emit the merged (start, end) token
   * ranges a dataloader should ZERO THE LOSS on, so the model still
   * reads boilerplate in context but never trains to reproduce it —
   * the memorization mitigation pipelines apply when removal is too
   * destructive. One row per maximal masked range:
   * (id, mask_start, mask_end, mask_len), 1-based inclusive token
   * positions; documents with no duplicated coverage produce no rows.
   * Composes with [[graft.operators.CurationOps.lossSpans]]' span
   * relation shape (the chat-turn mask) — a dataloader intersects the
   * two the same way.
   *
   * Same detection as [[scrubSpansDigest]] (digest-keyed, broadcast
   * duplicated set, distinct (id, pos) coverage so overlapping windows
   * merge); ranges fall out of one gaps-and-islands window per document
   * partition (pos − row_number), exactly replayable in SQL.
   */
  def dupMaskRanges(docs: DataFrame, idCol: String, textCol: String, k: Int,
                    minDocs: Int = 2, broadcastDups: Boolean = true): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val win = digestWindows(docs, idCol, textCol, k)
      .select(col("__id").as(idCol), col("i"), col("__h1"), col("__h2"))
    val dup = win
      .groupBy(col("__h1"), col("__h2"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("__h1"), col("__h2"))
    val cover = win.join(if (broadcastDups) broadcast(dup) else dup, Seq("__h1", "__h2"))
      .select(col(idCol), explode(sequence(col("i"), col("i") + lit(k - 1))).as("pos"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    cover
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("mask_start"), max(col("pos")).as("mask_end"))
      .select(col(idCol), col("mask_start"), col("mask_end"),
        (col("mask_end") - col("mask_start") + 1).as("mask_len"))
  }

  /** Shared reassembly: join the (id, pos) coverage set onto the token
    * positions, keep uncovered tokens, restore order without a sort
    * exchange, zero-fill docs that produced no tokens. `cover` must be
    * DISTINCT on (id, pos) — a repeated coverage row would duplicate the
    * joined token. Shared with [[SuffixArrayOps.saScrub]] (its merged
    * disjoint intervals guarantee distinctness by construction). */
  private[operators] def scrubWithCoverage(docs: DataFrame, idCol: String, textCol: String,
                                           cover: DataFrame): DataFrame = {
    val tokPos = docs
      .select(col(idCol), posexplode(toks(col(textCol))).as(Seq("__p", "tok")))
      .select(col(idCol), (col("__p") + 1).as("pos"), col("tok"))
    val agg = tokPos.join(cover, Seq(idCol, "pos"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(col("__cov")).as("n_removed"),
        // collect_list drops the null branch of the `when`, so only kept
        // tokens enter; array_sort orders the (pos, tok) structs by
        // position, restoring document order without a sort exchange.
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__cov").isNull, struct(col("pos"), col("tok"))))),
          x => x.getField("tok"))).as("clean_text"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /**
   * TRUE variable-length maximal repeated substrings — the exact
   * ExactSubstr construction of Lee et al. 2022 the fixed-width shingle
   * index above approximates: every maximal matched token range of
   * length ≥ `minLen` between two occurrence sites, with its EXACT
   * extent and both exact offsets. The shingle inventory cannot produce
   * this: it reports fixed-k windows (a 30-token repeat is 23 separate
   * k=8 rows, never one span with its true length) and coverage merges
   * lose the pairwise offset alignment entirely.
   *
   * Construction — the distributed suffix-GROUPING form, not a suffix
   * array: a maximal match of length m ≥ k between sites (a, i) and
   * (b, j) is EXACTLY a maximal run of k-window matches on one
   * "diagonal": windows (a, i+t) = (b, j+t) for t = 0..m−k, with no
   * match at t = −1 or t = m−k+1 (string maximality — since EVERY
   * k-window inside the match is itself duplicated and therefore
   * present in the pair relation, runs extend to the true extent).
   * So: (1) k-window frame keyed by the 128-bit span digest (the
   * [[duplicatedSpansDigest]] idiom — span text never rides a
   * corpus-wide exchange); (2) occurrence pairs per duplicated digest,
   * canonically ordered (a < b, or a = b with i < j — within-document
   * repeats are legitimate matches); (3) gaps-and-islands over each
   * (a, b, i−j) diagonal (one row_number window — exactly replayable
   * in SQL); (4) one aggregate per run → (start_a, start_b,
   * len_tokens); (5) the representative span re-attaches map-side from
   * doc a's tokens under a BROADCAST of the (inventory-sized) run
   * relation — the only place span text appears, and it never shuffles.
   *
   * Skew guard — the suffix-array paper's linearity traded explicitly:
   * pair generation is quadratic in a digest's occurrence count, so
   * digests above `maxOcc` occurrences are EXCLUDED (count both sides
   * of the cap in the fused query's oracle). Such ubiquitous spans are
   * nav/footer furniture — [[graft.operators.LineStore]] and the
   * coverage scrub own them; a cap-dropped common sub-window inside a
   * rarer long repeat truncates that run (documented, replayed
   * identically by the oracle).
   */
  def maximalRepeats(docs: DataFrame, idCol: String, textCol: String,
                     minLen: Int, maxOcc: Int = 64,
                     broadcastRuns: Boolean = true): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2: $minLen")
    require(maxOcc >= 2, s"maxOcc must be >= 2: $maxOcc")
    val keyed = eligibleWindows(digestWindows(docs, idCol, textCol, minLen), maxOcc)
    val a = keyed.select(col("__h1"), col("__h2"),
      col("__id").as("id_a"), col("i").as("__ia"))
    val b = keyed.select(col("__h1"), col("__h2"),
      col("__id").as("id_b"), col("i").as("__ib"))
    val pairs = a.join(b, Seq("__h1", "__h2")).where(canonicalOrder)
    attachSpans(docs, idCol, textCol, diagonalRuns(pairs, minLen), broadcastRuns)
  }

  /**
   * Admission-time maximal repeats — [[maximalRepeats]]' per-batch
   * form: every maximal matched range that TOUCHES the new batch (a
   * batch doc vs the corpus, or batch vs batch), with corpus-internal
   * pairs never generated. The "which parts of this new document are
   * long exact copies of something we already hold" report an
   * ExactSubstr admission stage produces. Spec-pinned ≡ the global
   * [[maximalRepeats]] over corpus ∪ batch restricted to pairs with a
   * batch member (doc ids disjoint across the two inputs — the
   * standing incremental contract).
   *
   * Occurrence eligibility (2 ≤ occ ≤ maxOcc) counts over the UNION —
   * the same span population the global form sees — so the law holds
   * exactly. Scale shape: the corpus side contributes its window scan
   * and the union count aggregation — the in-memory form re-derives
   * corpus windows per batch, which is what [[SpanPosStore]] (the
   * standing positional window relation + occurrence inventory)
   * eliminates: its [[SpanPosStore.probeMaximalRepeats]] answers
   * IDENTICALLY (spec-pinned) with the corpus side reduced to
   * bucket-pruned scans of fixed-width stored rows. Pair generation —
   * the quadratic stage — only ever fans out batch-side occurrences in
   * either form.
   */
  def maximalRepeatsAgainst(batch: DataFrame, corpus: DataFrame,
                            idCol: String, textCol: String,
                            minLen: Int, maxOcc: Int = 64,
                            broadcastRuns: Boolean = true): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2: $minLen")
    require(maxOcc >= 2, s"maxOcc must be >= 2: $maxOcc")
    val bw = digestWindows(batch, idCol, textCol, minLen)
    val cw = digestWindows(corpus, idCol, textCol, minLen)
    val eligible = bw.unionByName(cw).groupBy(col("__h1"), col("__h2"))
      .agg(count(lit(1)).as("__occ"))
      .where(col("__occ") >= 2 && col("__occ") <= maxOcc)
      .select(col("__h1"), col("__h2"))
    val kb = bw.join(eligible, Seq("__h1", "__h2"), "left_semi")
    val kc = cw.join(eligible, Seq("__h1", "__h2"), "left_semi")
    def aSide(df: DataFrame) = df.select(col("__h1"), col("__h2"),
      col("__id").as("id_a"), col("i").as("__ia"))
    def bSide(df: DataFrame) = df.select(col("__h1"), col("__h2"),
      col("__id").as("id_b"), col("i").as("__ib"))
    // Every pair touching the batch, each exactly once: right side in
    // the batch (left anything), plus left-batch/right-corpus — the two
    // sets are disjoint (right ∈ batch vs right ∈ corpus).
    val pairs = aSide(kb.unionByName(kc)).join(bSide(kb), Seq("__h1", "__h2"))
      .where(canonicalOrder)
      .unionByName(aSide(kb).join(bSide(kc), Seq("__h1", "__h2"))
        .where(canonicalOrder))
    // id_a can be a corpus doc (a corpus-vs-batch match with the corpus
    // id smaller), so spans re-attach from the union — result-sized
    // map-side work either way.
    attachSpans(batch.select(col(idCol), col(textCol))
        .unionByName(corpus.select(col(idCol), col(textCol))),
      idCol, textCol, diagonalRuns(pairs, minLen), broadcastRuns)
  }

  /** One row per k-window keyed by the 128-bit span digest, hashed
    * inside the generator so span text is never materialized past the
    * map side: (__id, i, __h1, __h2). Shared with [[SpanPosStore]] —
    * the persisted window relation MUST be derived by the same kernel
    * the in-memory forms use, or the store's incremental-equality law
    * breaks silently. */
  private[operators] def digestWindows(docs: DataFrame, idCol: String, textCol: String,
                                       k: Int): DataFrame = {
    require(k >= 2, s"span width k must be >= 2: $k")
    docs
      .select(col(idCol).as("__id"),
        explode(graft.functions.windows.fixedWindows(toks(col(textCol)), k)).as("__w"))
      .select(col("__id"), col("__w.i").as("i"),
        col("__w.h1").as("__h1"), col("__w.h2").as("__h2"))
  }

  /** Windows whose digest occurs 2..maxOcc times in the frame. */
  private def eligibleWindows(win: DataFrame, maxOcc: Int): DataFrame = {
    val eligible = win.groupBy(col("__h1"), col("__h2"))
      .agg(count(lit(1)).as("__occ"))
      .where(col("__occ") >= 2 && col("__occ") <= maxOcc)
      .select(col("__h1"), col("__h2"))
    win.join(eligible, Seq("__h1", "__h2"), "left_semi")
  }

  /** The canonical occurrence-pair order: each unordered pair once,
    * self-pairs by position. */
  private[operators] def canonicalOrder: Column =
    col("id_a") < col("id_b") ||
      (col("id_a") === col("id_b") && col("__ia") < col("__ib"))

  /** Gaps-and-islands over each (id_a, id_b, diagonal): one row per
    * maximal run of consecutive window matches. */
  private[operators] def diagonalRuns(pairs: DataFrame, minLen: Int): DataFrame = {
    val withDiag = pairs.select(col("id_a"), col("__ia"), col("id_b"), col("__ib"),
      (col("__ia") - col("__ib")).as("__diag"))
    val rn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("__diag")).orderBy(col("__ia"))
    withDiag
      .withColumn("__grp", col("__ia") - row_number().over(rn))
      .groupBy(col("id_a"), col("id_b"), col("__diag"), col("__grp"))
      .agg(min(col("__ia")).as("start_a"), min(col("__ib")).as("start_b"),
        (max(col("__ia")) - min(col("__ia")) + lit(minLen)).as("len_tokens"))
      .select(col("id_a"), col("start_a").cast("int").as("start_a"),
        col("id_b"), col("start_b").cast("int").as("start_b"),
        col("len_tokens").cast("int").as("len_tokens"))
  }

  /** Representative text: map-side slice of doc a's tokens under a
    * broadcast of the run relation — inventory-sized, the
    * duplicatedSpansDigest re-attachment contract. `broadcastRuns =
    * false` falls back to a shuffled join for a corpus whose run
    * inventory itself outgrows the driver (the broadcastDups escape
    * hatch every sibling carries). */
  private def attachSpans(docs: DataFrame, idCol: String, textCol: String,
                          runs: DataFrame, broadcastRuns: Boolean): DataFrame =
    docs.select(col(idCol).as("id_a"), toks(col(textCol)).as("__t"))
      .join(if (broadcastRuns) broadcast(runs) else runs, Seq("id_a"))
      .select(col("id_a"), col("start_a"), col("id_b"), col("start_b"),
        col("len_tokens"),
        concat_ws(" ", slice(col("__t"), col("start_a"), col("len_tokens"))).as("span"))
}
