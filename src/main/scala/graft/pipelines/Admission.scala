package graft.pipelines

import graft.functions.{text, textStats}
import graft.operators.{CurationOps, DedupOps, SpanDedup}
import graft.sources.TableSink
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The production ingest pipeline as ONE callable: curation funnel →
 * exact-dup check → span scrub, in two interchangeable forms.
 *
 *  - [[runAgainst]] — the in-memory reference composition, taking the
 *    standing corpus as a DataFrame. This IS the oracle-checked
 *    `pipe_admission_e2e` query (SparkEntry delegates here), kept as the
 *    executable spec of the admission semantics.
 *  - [[run]] — the standing-state form a scheduled ingest job calls per
 *    batch: the corpus never appears; the exact-dup probe reads a
 *    bucket-pruned [[TableSink]] fingerprint table and the span scrub
 *    reads the persisted span-digest inventory, so per-batch cost is
 *    O(batch) + tiny pruned store reads. Admitted documents' fingerprints
 *    and span digests are absorbed into the stores in the same call, so
 *    `run` after `run` equals one [[runAgainst]] over the grown corpus —
 *    the incremental-equality law AdmissionStoreSpec pins.
 *
 * Store layout under `storeDir` (single-writer: admission is a scheduled
 * job, not a concurrent endpoint — same contract as every TableSink
 * maintenance op):
 *
 *  - `fingerprints/` — TableSink table keyed by `__fp` (md5 of normalized
 *    text). Upserts rewrite only the buckets the batch's fingerprints
 *    fall in; the probe reads only the buckets the batch hashes to.
 *  - `span_index/part_NNNNN` dirs + `span_index/_PARTS` — the span-digest
 *    inventory as an additive base + delta parts list ([[SpanDedup
 *    .spanDigestIndex]] maintenance contract: digests are uniform, so a
 *    per-batch row-upsert would dirty every bucket of a keyed table;
 *    deltas keep the per-batch write O(batch) and [[compact]] is the
 *    scheduled merge that restores the single filter-pushed scan).
 */
object Admission {

  /** Operating points of the composed pipeline (the documented defaults
    * every oracle query runs at). `scoreFn` swaps the rule-based
    * [[quality]] score for a learned one at the SAME operating point —
    * the FineWeb-Edu move: train [[graft.operators.QualityModel]] on the
    * weak labels, pass `QualityModel.scoreCol(_, w, b, dim)` here, and
    * the classifier's probability gates the funnel while language id,
    * Gopher structure rules, and the PII check stay in force. `sem`
    * switches on the OPTIONAL fourth stage ([[SemStage]]); `decon`
    * the optional eval-contamination screen ([[DeconStage]]).
    *
    * `spanKeepFirst` selects the scrub's SURVIVORSHIP policy: false
    * (default) is the all-copies scrub ([[SpanDedup.scrubAgainstIndex]]
    * — a span crossing `minDocs` scrubs everywhere, including the
    * batch's own copy); true is keep-first
    * ([[SpanDedup.scrubKeepFirstAgainstIndex]] — the corpus copy of any
    * indexed span is the canonical survivor so every batch occurrence
    * scrubs by mere presence, and corpus-novel spans duplicated WITHIN
    * the batch keep their min-(id, position) occurrence). Keep-first is
    * the policy the document/line/media dedup families here already
    * apply — one copy of a license block should remain in the corpus.
    * The flag rides every form identically (run / runAgainst /
    * runCommitted / stream), so the incremental-equality law holds per
    * flag value. Keep-first scrubs on index PRESENCE — `minDocs` is a
    * threshold of the all-copies policy only, so a Config combining
    * the two REFUSES at construction rather than silently ignoring the
    * threshold.
    *
    * DEFAULT DECISION (round 17, spec-pinned): all-copies stays the
    * production default. The span stage scrubs TRAINING TEXT, where
    * the Lee et al. ExactSubstr posture is "remove every copy at the
    * threshold"; keep-first's canonical-survivor choice additionally
    * depends on batch boundaries and id order (which copy is "first"
    * changes when a batch is split or reordered), where all-copies
    * gives the same admitted text under any batching. Keep-first is
    * the right policy where IDENTITY dedup retains one canonical copy
    * (the document/line/media families) — here it is the explicit
    * opt-in for corpus-curation flows that need a surviving copy. */
  case class Config(spanK: Int = 8, minDocs: Int = 2, minQuality: Double = 0.5,
                    scoreFn: Option[Column => Column] = None,
                    sem: Option[SemStage] = None,
                    decon: Option[DeconStage] = None,
                    spanKeepFirst: Boolean = false,
                    ngram: Option[NgramStage] = None,
                    exactSpans: Option[ExactSpanStage] = None) {
    require(!spanKeepFirst || minDocs == 2,
      s"minDocs=$minDocs has no effect under spanKeepFirst=true — " +
        "keep-first scrubs on index presence (any corpus copy is " +
        "canonical); leave minDocs at its default or use the " +
        "all-copies policy")
    // The exact policy REPLACES the fixed-k scrub wholesale: its own
    // minLen is the only threshold (occurrence >= 2, variable length),
    // so a Config combining it with the fixed-k knobs would silently
    // ignore them — refuse instead.
    require(exactSpans.isEmpty || (!spanKeepFirst && minDocs == 2 && spanK == 8),
      "exactSpans replaces the fixed-k span scrub — spanKeepFirst, a " +
        "non-default minDocs, and a non-default spanK have no effect " +
        "under it; drop them or use the fixed-k policy")
  }

  /**
   * The EXACT span-scrub policy — [[SuffixArrayOps]]' cap-free,
   * variable-length ExactSubstr scrub (Lee et al. 2022) in place of
   * the fixed-k digest screen: a survivor token is removed when it is
   * covered by a run of >= `minLen` tokens occurring (occurrence
   * count >= 2, same-doc repeats included) in the corpus ∪ the
   * batch's exact-novel survivors — the same counting scope as the
   * fixed-k stage, at exact extents with no occurrence cap. In the
   * standing form the corpus side is a [[graft.operators.SaStore]]
   * under `storeDir/exact_spans` — probed O(batch)
   * ([[graft.operators.SaStore.probeDupLengths]]), grown O(batch) in
   * absorb, takedown-inverted in [[unadmit]], compacted in
   * [[maintain]], riding the composite snapshot/restore/fsck; the
   * batch-internal side is a batch-sized in-memory
   * [[SuffixArrayOps.saDupLengths]] either way.
   *
   * `maxLen` floors the store's length budget at [[init]] (0 derives
   * it from the init corpus) — [[graft.operators.SaStore.append]]
   * refuses documents beyond it, so set the floor above the longest
   * document ingest will ever admit, or re-init to grow it.
   *
   * `attributeSites` > 0 switches on the ATTRIBUTION REPORT — the
   * memorization AUDIT a production funnel wants alongside the
   * [[NgramStage]] report, at unbounded width and with the sources
   * NAMED: two columns on the verdict frame, `sa_match_len` (how long
   * a tail of each incoming document is already verbatim in the
   * corpus the exact store indexes — 0 when none) and `sa_sites` (the
   * corpus sites of that match as an array of (doc_id, pos) structs,
   * capped at `attributeSites` per doc in deterministic (doc_id, pos)
   * order — empty when none). A REPORT, never a gate: verdict
   * precedence is untouched, the columns cover the WHOLE batch
   * (rejected docs included — the [[NgramStage]] idiom), ride every
   * form identically (run / runAgainst / runCommitted / stream, so
   * the committed verdict history carries them), and are computed
   * against the store state BEFORE absorb. Standing form probes
   * [[graft.operators.SaStore.attributeMatches]] (queries-hit-sized);
   * in-memory form is [[graft.operators.SuffixArrayOps
   * .attributeCorpusMatches]] — pinned equal by AdmissionStoreSpec.
   */
  case class ExactSpanStage(minLen: Int = 8, maxLen: Int = 0,
                            attributeSites: Int = 0) {
    require(attributeSites >= 0,
      s"attributeSites must be >= 0 (0 = report off): $attributeSites")
  }

  /**
   * The eval-decontamination stage — an OPTIONAL stage between curation
   * and the dup probes: curation survivors probe the standing
   * [[graft.operators.EvalStore]] registry (n-gram digest overlap with
   * any registered benchmark suite, broadcast — the cheapest probe in
   * the funnel after the per-row rules, which is why it runs before the
   * store-reading dup stages). Hits → verdict `contaminated`, excluded
   * from the dup probes, the span scrub, and every absorb — benchmark
   * text must never enter the corpus OR its standing indexes.
   *
   * The registry lives OUTSIDE the admission store (one registry
   * screens every corpus; suites register/retire on their own ledger),
   * so this stage is read-only here: no absorb coupling, no namespace
   * interaction, snapshot/restore of the admission store unaffected.
   * `tag` pins a registry snapshot ("the benchmark set this corpus was
   * screened against"). Full precedence: rejected > contaminated >
   * duplicate > semantic_duplicate > admitted.
   */
  case class DeconStage(registryDir: String, tag: Option[String] = None)

  /**
   * The ∞-gram memorization/attribution REPORT — an optional stage that
   * probes the whole batch against a standing
   * [[graft.operators.NgramStore]] (Liu et al. 2024's lookup as an
   * ingest-time report) and attaches `ngram_match_len` / `ngram_n_occ`
   * columns to the verdict log: how long a tail of each incoming
   * document is already VERBATIM in the reference corpus the store
   * indexes, and how often. A report, NOT a gate — verdict precedence
   * is untouched; the columns ride every form identically
   * (run / runAgainst / runCommitted / stream, so the committed
   * verdict history carries them), and the probe is queries-sized
   * (bucket-pruned store reads — [[graft.operators.NgramStore.probe]]).
   *
   * Like [[DeconStage]], the store lives OUTSIDE the admission dirs
   * (one reference corpus can screen many funnels; it maintains its
   * own ledger), so the stage is read-only here: no absorb coupling,
   * snapshots unaffected. `tag` pins a store snapshot ("the reference
   * state this corpus was reported against").
   */
  case class NgramStage(storeDir: String, tag: Option[String] = None)

  /**
   * The semantic near-dup stage — stage 4 of the funnel, the SemDeDup
   * complement of the exact-fingerprint stage (rewordings and
   * re-encodings the hash can never catch): exact-novel curation
   * survivors probe the standing semantic members under fixed
   * centroids ([[graft.operators.SemDedup.incremental]] semantics —
   * every earlier member anchors, paper order within the batch);
   * `kept = false` → verdict `semantic_duplicate`, excluded from the
   * span scrub and from every absorb. Precedence stays cheapest-first:
   * rejected > duplicate > semantic_duplicate > admitted (the exact
   * probe is a hash bucket read; the semantic probe opens the touched
   * clusters' bucket files and pays a per-pair cosine).
   *
   * `vecsFor` maps a (idCol, textCol) slice of the batch to exactly
   * (idCol, one vector column) — a select over an embedding expression
   * (`NewsPipeline.hashEmbedding`), or a join against a precomputed
   * embedding table; rows it drops (no embedding available) are judged
   * by the first three stages only. In the standing form ([[run]] and
   * friends) the members live in a [[graft.operators.SemDedupStore]]
   * under `storeDir/semantic`, initialized by [[init]] when this stage
   * is on — from `centroids` when given (deterministic replays), else a
   * k-means fit at `nlist` — and maintained O(batch) in the same call
   * as the other three stores. In the in-memory form ([[runAgainst]])
   * the corpus side embeds through the same `vecsFor`.
   */
  case class SemStage(vecsFor: DataFrame => DataFrame, eps: Double,
                      centroids: Option[DataFrame] = None, nlist: Int = 16)

  /** The single non-id column of a [[SemStage.vecsFor]] frame — the
    * stage's (id, vector) contract, enforced loudly. */
  private def semVecCol(v: DataFrame, idCol: String): String = {
    val rest = v.columns.filterNot(_ == idCol)
    require(rest.length == 1 && v.columns.contains(idCol),
      s"SemStage.vecsFor must return exactly ($idCol, <vector>): got ${v.columns.toSeq}")
    rest.head
  }

  /** The documented quality score (length, stopword, word-length terms,
    * rounded to 6) — ONE definition shared by the x_quality /
    * x_curation_verdict queries and the admission funnel, so the
    * operating points cannot drift apart. Kernel-backed: one token scan
    * per document ([[graft.functions.textStats]]). */
  def quality(textCol: Column): Column = {
    val st = textStats(textCol)
    val stopRatio = st("n_stop").cast("double") / st("n_tokens")
    val awl = st("sum_len").cast("double") / st("n_tokens")
    round(
      least(st("n_tokens").cast("double") / 50.0, lit(1.0)) * 0.5 +
        when(stopRatio > 0.01, 1.0).otherwise(0.5) * 0.25 +
        when(awl.between(2.0, 12.0), 1.0).otherwise(0.5) * 0.25, 6)
  }

  /**
   * Stage 1, the curation funnel: language identified, quality at or
   * above the floor, Gopher document rules pass, zero unredacted PII.
   * Returns (idCol, textCol, admit), eagerly materialized ONCE — the
   * relation feeds four downstream consumers and the funnel's token
   * scans must not re-execute per consumer (measured 7.4 → ~3 s at
   * sf0.1; batch-sized, three columns).
   */
  def curationFunnel(batch: DataFrame, idCol: String, textCol: String,
                     cfg: Config = Config()): DataFrame = {
    val score = cfg.scoreFn.getOrElse((c: Column) => quality(c))
    val base = batch.select(col(idCol), col(textCol),
      text.langId(col(textCol)).as("lang_pred"), score(col(textCol)).as("quality"),
      (CurationOps.piiCounts(col(textCol)).getField("emails") +
        CurationOps.piiCounts(col(textCol)).getField("ips")).as("n_pii"))
    val gopher = CurationOps.gopherStats(batch, idCol, textCol)
      .select(col(idCol), col("keep").as("gopher_keep"))
    base.join(gopher, idCol)
      .withColumn("admit", col("lang_pred") =!= "und" && col("quality") >= cfg.minQuality &&
        col("gopher_keep") && col("n_pii") === 0)
      .select(col(idCol), col(textCol), col("admit")).localCheckpoint(true)
  }

  /** Shared verdict assembly: curation rejection beats contamination
    * beats exact duplication beats semantic duplication (each stage
    * guards the costlier ones); scrubbed survivors admit. `semDup` /
    * `contam` are the optional stages' verdict sets — (idCol, flag)
    * rows for the dropped ids. */
  private def verdicts(batch: DataFrame, cur: DataFrame, novel: DataFrame,
                       semDup: Option[DataFrame], scrubbed: DataFrame,
                       idCol: String,
                       contam: Option[DataFrame] = None): DataFrame = {
    val base0 = batch.select(col(idCol))
      .join(cur.select(col(idCol), col("admit")), idCol)
    val base = contam.fold(base0.withColumn("__contam", lit(null).cast("int")))(
        d => base0.join(d, Seq(idCol), "left"))
      .join(novel, Seq(idCol), "left")
    semDup.fold(base.withColumn("__semdup", lit(null).cast("int")))(d =>
        base.join(d, Seq(idCol), "left"))
      .join(scrubbed, Seq(idCol), "left")
      .select(col(idCol),
        when(!col("admit"), lit("rejected"))
          .when(col("__contam").isNotNull, lit("contaminated"))
          .when(col("__new").isNull, lit("duplicate"))
          .when(col("__semdup").isNotNull, lit("semantic_duplicate"))
          .otherwise(lit("admitted")).as("verdict"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /**
   * In-memory reference composition (the `pipe_admission_e2e` semantics):
   * admit `batch` against a corpus given as a DataFrame. Span duplication
   * is counted over corpus ∪ curation-survivors, so batch-internal
   * boilerplate is caught too. One row per batch document.
   */
  /** The optional contamination probe over the curation survivors:
    * (survivors minus hits, the contaminated-id frame). ONE shape for
    * both the in-memory and standing forms — the stage reads a standing
    * registry either way (that is its lifecycle; see [[DeconStage]]). */
  private def deconProbe(admitted: DataFrame, idCol: String, textCol: String,
                         cfg: Config): (DataFrame, Option[DataFrame]) =
    cfg.decon.fold((admitted, Option.empty[DataFrame])) { st =>
      val hits = graft.operators.EvalStore.probe(admitted.sparkSession,
          st.registryDir, admitted, idCol, textCol, st.tag)
        .filter(col("contaminated"))
        .select(col("doc_id").as(idCol), lit(1).as("__contam"))
        .localCheckpoint(true)
      (admitted.join(hits.select(idCol), Seq(idCol), "left_anti"), Some(hits))
    }

  /** The optional ∞-gram report columns, appended to a verdict frame —
    * ONE shape for the in-memory and standing forms (the stage reads a
    * standing reference store either way, the [[DeconStage]] precedent).
    * The probe is total over the batch, so the left join is exact; the
    * coalesce only guards batch rows with duplicate ids upstream. */
  private def ngramReport(out: DataFrame, batch: DataFrame, idCol: String,
                          textCol: String, cfg: Config): DataFrame =
    cfg.ngram.fold(out) { st =>
      val rep = graft.operators.NgramStore.probe(batch.sparkSession,
          st.storeDir, batch.select(col(idCol), col(textCol)),
          idCol, textCol, st.tag)
        .select(col("q_id").as(idCol),
          col("match_len").as("ngram_match_len"),
          col("n_occ").as("ngram_n_occ"))
      out.join(rep, Seq(idCol), "left")
        .withColumn("ngram_match_len",
          coalesce(col("ngram_match_len"), lit(0)))
        .withColumn("ngram_n_occ", coalesce(col("ngram_n_occ"), lit(0L)))
    }

  /** The optional exact-span ATTRIBUTION report columns, appended to a
    * verdict frame — ONE assembly for the in-memory and standing forms
    * (only the site producer differs; the [[ngramReport]] idiom).
    * `attrib` maps the configured cap to (q_id, match_len, doc_id,
    * pos) site rows over the whole batch; rows aggregate to one
    * (sa_match_len, sa_sites) pair per doc, sites sorted for a
    * deterministic array. Report, never gate. */
  private def saReport(out: DataFrame, idCol: String, cfg: Config,
                       attrib: ExactSpanStage => DataFrame): DataFrame =
    cfg.exactSpans.filter(_.attributeSites > 0).fold(out) { st =>
      val sites = attrib(st)
        .groupBy(col("q_id"))
        .agg(max(col("match_len")).as("sa_match_len"),
          sort_array(collect_list(struct(col("doc_id"), col("pos"))))
            .as("sa_sites"))
        .withColumnRenamed("q_id", idCol)
      out.join(sites, Seq(idCol), "left")
        .withColumn("sa_match_len", coalesce(col("sa_match_len"), lit(0)))
        .withColumn("sa_sites", coalesce(col("sa_sites"),
          array().cast("array<struct<doc_id:bigint,pos:int>>")))
    }

  def runAgainst(batch: DataFrame, corpus: DataFrame, idCol: String,
                 textCol: String, cfg: Config = Config()): DataFrame = {
    val cur = curationFunnel(batch, idCol, textCol, cfg)
    val admitted0 = cur.filter(col("admit")).select(col(idCol), col(textCol))
    val (admitted, contam) = deconProbe(admitted0, idCol, textCol, cfg)
    val novel = DedupOps.incrementalNewDocs(admitted, corpus, textCol)
      .select(col(idCol), lit(true).as("__new")).localCheckpoint(true)
    val surv = admitted.join(novel.select(idCol), idCol)
    // Optional stage 4, in-memory form: exact-novel survivors judged by
    // SemDedup.incremental against the CORPUS's embeddings under the
    // stage's fixed centroids (caller-given, or fitted here) — the
    // executable spec of the standing-store probe in computeVerdicts.
    val (survScrub, semDup) = cfg.sem.fold((surv, Option.empty[DataFrame])) { st =>
      val bv = st.vecsFor(surv)
      val vecCol = semVecCol(bv, idCol)
      val cv = st.vecsFor(corpus.select(col(idCol), col(textCol)))
      val cents = st.centroids.getOrElse(
        graft.operators.IvfAnn.buildCells(cv, idCol, vecCol, st.nlist))
      val dropped = graft.operators.SemDedup.incremental(bv, cv, cents,
          idCol, vecCol, cents.columns(0), cents.columns(1), st.eps)
        .filter(!col("kept"))
        .select(col("id").as(idCol), lit(1).as("__semdup")).localCheckpoint(true)
      (surv.join(dropped.select(idCol), Seq(idCol), "left_anti"), Some(dropped))
    }
    val (scrubbed, saMatches) = cfg.exactSpans match {
      case Some(st) =>
        // The exact policy, in-memory form: ONE union-SA construction
        // serves BOTH coverage legs — the nearest-corpus max-LCP per
        // survivor position AND the survivor-internal adjacent-pair
        // lengths ride the same ranked stream
        // (SuffixArrayOps.dupLengthsAgainstAndWithin) — where this
        // path used to build the union SA and then a SECOND batch-only
        // SA for the within-batch leg. The survivor frame materializes
        // first: it is batch-sized and the SA construction scans its
        // side of the union log-many times (ranks, keys, LCP
        // escalation), which would re-execute the funnel join tree
        // each pass.
        val survX = survScrub.localCheckpoint(true)
        if (st.attributeSites > 0) {
          // With the attribution report on, ONE union SA over
          // corpus ∪ batch serves the scrub's dup lengths (survivor
          // lane) AND the report's match lengths (whole-batch lane) —
          // SuffixArrayOps.dupLengthsAndCorpusMatches — where this
          // path used to build a second, almost identical union SA
          // inside attributeCorpusMatches for the lengths alone.
          val (dl, m) = graft.operators.SuffixArrayOps
            .dupLengthsAndCorpusMatches(corpus, idCol, textCol,
              batch.select(col(idCol), col(textCol)), idCol, textCol,
              survX.select(col(idCol)), st.minLen)
          (graft.operators.SuffixArrayOps.scrubFromDupLengths(survX, idCol,
            textCol, dl), Some(m))
        } else
          (graft.operators.SuffixArrayOps.scrubFromDupLengths(survX, idCol,
            textCol, graft.operators.SuffixArrayOps.dupLengthsAgainstAndWithin(
              corpus, idCol, textCol, survX, idCol, textCol, st.minLen)),
            Option.empty[org.apache.spark.sql.DataFrame])
      case None =>
        (fixedKScrub(corpus, survScrub, idCol, textCol, cfg),
          Option.empty[org.apache.spark.sql.DataFrame])
    }
    saReport(
      ngramReport(verdicts(batch, cur, novel, semDup, scrubbed, idCol, contam),
        batch, idCol, textCol, cfg),
      idCol, cfg,
      st => saMatches.fold(
        graft.operators.SuffixArrayOps.attributeCorpusMatches(
          corpus, idCol, textCol, batch.select(col(idCol), col(textCol)),
          idCol, textCol, st.attributeSites))(m =>
        graft.operators.SuffixArrayOps.attributeSitesFor(
          corpus, idCol, textCol, batch.select(col(idCol), col(textCol)),
          idCol, textCol, m, st.attributeSites)))
  }

  /** The fixed-k digest-screen scrub (the non-exact default policy),
    * factored out of [[runAgainst]]'s policy dispatch. */
  private def fixedKScrub(corpus: DataFrame, survScrub: DataFrame,
                          idCol: String, textCol: String,
                          cfg: Config): DataFrame = {
    // scrubAgainstIndex probes the index twice (already-dup scan +
    // crossed-sum join); the in-memory composition must materialize
    // it once or the corpus-sized window+groupBy subtree executes
    // twice. (The standing-state form reads the PERSISTED inventory
    // instead — both probes become cheap pushed scans.)
    val idx = SpanDedup.spanDigestIndex(corpus, idCol, textCol, cfg.spanK)
      .localCheckpoint(true)
    spanScrub(survScrub, idx, idCol, textCol, cfg)
  }

  /** The exact policy's scrub assembly, STANDING form: the corpus side
    * arrives as [[graft.operators.SaStore.probeDupLengths]]' O(batch)
    * store probe, the batch-internal side as
    * [[graft.operators.SuffixArrayOps.saDupLengths]] over the survivors
    * (batch-sized — the SA of the batch only), merged and reassembled
    * by the shared scrub tail. The in-memory form ([[runAgainst]]) no
    * longer splits: [[graft.operators.SuffixArrayOps
    * .dupLengthsAgainstAndWithin]] serves both legs from ONE union SA —
    * pinned equal to this composition by SuffixArraySpec. */
  private def exactScrub(surv: DataFrame, dlCorpus: DataFrame, minLen: Int,
                         idCol: String, textCol: String): DataFrame = {
    val dlBatch = graft.operators.SuffixArrayOps.saDupLengths(
      surv, idCol, textCol, minLen, depth = 16)
    graft.operators.SuffixArrayOps.scrubFromDupLengths(surv, idCol, textCol,
      dlCorpus.unionByName(dlBatch))
  }

  /** The span scrub under the configured survivorship policy — ONE
    * selector shared by the in-memory and standing forms so the
    * incremental-equality law holds per [[Config.spanKeepFirst]] value.
    * Keep-first scrubs on index PRESENCE, so rows an [[unadmit]]
    * decrement zeroed (still physically present until [[compact]] folds
    * them) are filtered out first; the all-copies form sums counts, for
    * which zeroed rows are naturally inert. */
  private def spanScrub(surv: DataFrame, idx: DataFrame, idCol: String,
                        textCol: String, cfg: Config): DataFrame =
    if (cfg.spanKeepFirst)
      SpanDedup.scrubKeepFirstAgainstIndex(surv,
        idx.filter(col("n_occ") > 0), idCol, textCol, cfg.spanK)
    else
      SpanDedup.scrubAgainstIndex(surv, idx, idCol, textCol,
        cfg.spanK, cfg.minDocs)

  // ───────────────────────── standing-state form ─────────────────────────

  private def fpDir(storeDir: String) = s"$storeDir/fingerprints"
  private def spanDir(storeDir: String) = s"$storeDir/span_index"
  /** The stage-4 member store ([[graft.operators.SemDedupStore]]) —
    * present only when the store was initialized with `cfg.sem` on. */
  def semDir(storeDir: String) = s"$storeDir/semantic"
  /** The exact-policy span store ([[graft.operators.SaStore]]) —
    * present only when initialized with `cfg.exactSpans` on. */
  def exactDir(storeDir: String) = s"$storeDir/exact_spans"
  private def exactExists(storeDir: String): Boolean =
    graft.sources.StoreFs.get.exists(s"${exactDir(storeDir)}/_PARTS")
  /** The span policy is pinned PER STORE at [[init]] (the exact store
    * exists iff the store was initialized under `exactSpans`): running
    * the other policy against it would silently scrub against a stale
    * or absent index — refuse loudly instead. */
  private def requirePolicyMatch(storeDir: String, cfg: Config): Unit = {
    val ex = exactExists(storeDir)
    require(cfg.exactSpans.isDefined == ex,
      if (ex) s"admission store at '$storeDir' was initialized under the " +
        "EXACT span policy (exact_spans/ present) but this Config has " +
        "exactSpans off — the fixed-k inventory there is a name-ledger " +
        "shell, not a live index; pass the exact Config"
      else s"admission store at '$storeDir' was initialized under the " +
        "fixed-k policy (no exact_spans/) but this Config sets " +
        "exactSpans — init a store under the exact policy instead")
  }
  private def listParts(storeDir: String): Seq[String] =
    graft.sources.DeltaParts.list(spanDir(storeDir))

  /** Pin the admission store's current state under `tag` — the span
    * inventory (a [[graft.sources.DeltaParts.snapshot]] parts pin) and
    * the fingerprint table (a [[TableSink.snapshot]] generation pin) in
    * one call, so a training run can record "the exact store state that
    * admitted my corpus" and replay it later: [[readSpanIndex]] with the
    * tag, [[TableSink.readSnapshot]] for the fingerprints. Sweeps and
    * compactions never delete pinned state. NOT transactional across the
    * two stores — take it between batches (admission is single-writer by
    * contract, so "between batches" is a real quiescent point). */
  def snapshot(storeDir: String, tag: String): Unit =
      graft.sources.WriterLease.withLease(storeDir, "admission-snapshot") {
    // Replay-safe composition (the Hybrid.snapshot discipline): every
    // table half is pre-checked BEFORE anything mutates — a retried
    // snapshot either completes an unchanged half-taken tag
    // (DeltaParts.snapshot is idempotent; the table pins fill in) or
    // refuses loudly on ANY half if ingest/compaction ran in between
    // (an admission run advances every store; a compact changes the
    // span parts-list) — never a silent re-point of a pin at post-tag
    // state. When the store was initialized with the semantic stage on,
    // its member table rides the same tag (its centroids pin
    // themselves — see [[graft.operators.SemDedupStore.snapshot]]).
    val fpD = fpDir(storeDir)
    val existingFp = TableSink.listSnapshots(fpD).get(tag)
    existingFp.foreach { pinned =>
      require(TableSink.currentSeq(fpD).contains(pinned),
        s"snapshot tag '$tag' at '$fpD' already pins generation $pinned but " +
          s"the live generation is ${TableSink.currentSeq(fpD)} — the store " +
          "moved on since a half-taken snapshot; refusing to re-point. Drop " +
          "the tag and take a fresh one.")
    }
    val sem = graft.operators.SemDedupStore.exists(semDir(storeDir))
    // sem pre-check runs BEFORE any mutation too (refuses a stale pin)
    if (sem) { graft.operators.SemDedupStore.kernel.snapshotCheck(semDir(storeDir), tag); () }
    graft.sources.DeltaParts.snapshot(spanDir(storeDir), tag)
    if (existingFp.isEmpty) { TableSink.snapshot(fpD, tag); () }
    if (sem) graft.operators.SemDedupStore.snapshot(semDir(storeDir), tag)
    // The exact-policy store rides the same tag (a DeltaParts pin —
    // idempotent under replay, like the span inventory's).
    if (exactExists(storeDir)) {
      graft.operators.SaStore.snapshot(exactDir(storeDir), tag); ()
    }
  }

  /** Is `tag` fully pinned across EVERY half of this store? The
    * composite-restore pre-check ([[Release]] / callers): a tag missing
    * on any half means a restore would tear the funnel. */
  def snapshotPinned(storeDir: String, tag: String): Boolean =
    graft.sources.DeltaParts.snapshots(spanDir(storeDir)).contains(tag) &&
      TableSink.listSnapshots(fpDir(storeDir)).contains(tag) &&
      (!graft.operators.SemDedupStore.exists(semDir(storeDir)) ||
        graft.operators.SemDedupStore.snapshotPinned(semDir(storeDir), tag)) &&
      (!exactExists(storeDir) ||
        graft.sources.DeltaParts.snapshots(exactDir(storeDir)).contains(tag))

  /** Release a [[snapshot]] tag on every store. */
  def dropSnapshot(storeDir: String, tag: String): Unit =
      graft.sources.WriterLease.withLease(storeDir, "admission-drop-snapshot") {
    graft.sources.DeltaParts.dropSnapshot(spanDir(storeDir), tag)
    TableSink.dropSnapshot(fpDir(storeDir), tag)
    if (graft.operators.SemDedupStore.exists(semDir(storeDir)))
      graft.operators.SemDedupStore.dropSnapshot(semDir(storeDir), tag)
    if (exactExists(storeDir))
      graft.operators.SaStore.dropSnapshot(exactDir(storeDir), tag)
  }

  /** Roll both standing stores back to a [[snapshot]] tag — span
    * inventory ledger flip + fingerprint generation republish, no data
    * movement. CONTRACT (the [[graft.operators.Bm25Store.restore]]
    * write-once rule): batch identities are monotone across the store's
    * whole history — the `_absorbed` ledger and `verdicts/` history are
    * deliberately NOT rolled back, so a [[runCommitted]] replaying a
    * post-tag `batchId` returns that batch's ORIGINAL verdicts and
    * absorb stays a no-op (that monotonicity is what keeps crash replay
    * safe; rewinding it would let a pending replay double-absorb).
    * Re-admit rolled-back content under fresh batch ids. */
  def restore(spark: SparkSession, storeDir: String, tag: String): Unit =
      graft.sources.WriterLease.withLease(storeDir, "admission-restore") {
    graft.sources.DeltaParts.restore(spanDir(storeDir), tag)
    TableSink.restore(fpDir(storeDir), tag)
    // The semantic member table rides the same tag (its centroid
    // resolution restores with its manifest; the id→cluster sidecar is
    // rebuilt — see SemDedupStore.restore).
    if (graft.operators.SemDedupStore.exists(semDir(storeDir)))
      graft.operators.SemDedupStore.restore(spark, semDir(storeDir), tag)
    if (exactExists(storeDir))
      graft.operators.SaStore.restore(exactDir(storeDir), tag)
  }

  /** The merged standing inventory. One part (the post-[[compact]] or
    * just-initialized state) reads straight from parquet — the admission
    * scrub's `n_docs` threshold pushes into that scan; with deltas
    * pending, the additive merge (one digest-keyed aggregate over
    * index-sized, 32-byte rows) runs and is materialized once. With
    * `tag`, reads the [[snapshot]]-pinned parts instead of the live
    * ledger — byte-identical time travel over the inventory. */
  def readSpanIndex(spark: SparkSession, storeDir: String,
                    tag: Option[String] = None): DataFrame = {
    val parts = tag.fold(listParts(storeDir))(t =>
      graft.sources.DeltaParts.listAt(spanDir(storeDir), t))
    require(parts.nonEmpty, s"no span index under '${spanDir(storeDir)}' — run init first")
    mergedSpanIndex(spark, storeDir, parts)
  }

  /** The additive merge of exactly `parts` — shared by
    * [[readSpanIndex]] and [[compact]]. */
  private def mergedSpanIndex(spark: SparkSession, storeDir: String,
                              parts: Seq[String]): DataFrame = {
    // The parts persist (__h1, __h2) digests: require the convention
    // they were built under (stamped at init) to match this build's —
    // a cross-convention probe silently matches nothing and admits
    // duplicated content; such a store must be re-initialized.
    graft.sources.BucketedParts.requireDigestMatch(
      graft.sources.BucketedParts.readMeta(s"${spanDir(storeDir)}/_meta",
        "admission span index"),
      "admission span index", spanDir(storeDir))
    val dfs = parts.map(p =>
      graft.sources.StoreRead.parquet(spark, Seq(s"${spanDir(storeDir)}/$p")))
    if (dfs.size == 1) dfs.head
    else SpanDedup.mergeSpanIndexesAll(dfs).localCheckpoint(true)
  }

  /** Initialize the standing stores from an existing corpus: the
    * fingerprint table (distinct md5s, null-text rows contribute
    * nothing — a null never equi-matches) and the base span inventory.
    * O(corpus), run once; thereafter only [[run]] and [[compact]].
    *
    * REFUSES a previously-used `storeDir` loudly: re-initializing in
    * place would reset the span base and fingerprints while the
    * `_absorbed` ledger and `verdicts/` history of the prior life
    * survive — a later [[runCommitted]] reusing a batchId would then
    * silently return the OLD life's verdicts and [[absorb]] would skip
    * the new batch's data. A rebuild gets a fresh (or fully deleted)
    * directory, never a silent overwrite. */
  def init(spark: SparkSession, storeDir: String, corpus: DataFrame,
           idCol: String, textCol: String, cfg: Config = Config()): Unit =
      // Funnel-root lease across the whole freshness-check → multi-store
      // write dance: two racing inits would both pass requireFresh and
      // tear the same part paths (the AdditiveLedger.init rationale).
      graft.sources.WriterLease.withLease(storeDir, "admission-init") {
    graft.sources.AdditiveLedger.requireFresh(spanDir(storeDir),
      "admission store", extraPaths = Seq(
        s"$storeDir/verdicts", fpDir(storeDir),
        semDir(storeDir), exactDir(storeDir)))
    val fps = corpus.select(text.fingerprint(col(textCol)).as("__fp"))
      .filter(col("__fp").isNotNull).distinct()
      .withColumn("__v", lit(0L))
    TableSink.overwrite(spark, fpDir(storeDir), fps, Seq("__fp"))
    // Under the exact policy nothing ever reads the fixed-k inventory
    // (the SaStore is the span authority and the policy is pinned per
    // store — requirePolicyMatch); its parts stay as NAME-LEDGER
    // shells so the absorb/replay mechanics are policy-agnostic, but
    // their CONTENT is empty — the O(corpus·k) window aggregation
    // would be pure waste.
    spanIndexOf(corpus, idCol, textCol, cfg)
      .write.mode("overwrite").parquet(s"${spanDir(storeDir)}/part_00000")
    // Digest-convention stamp BEFORE publish (crash ordering: a retry
    // overwrites it atomically) — the parts persist (__h1, __h2), so a
    // probe from another convention must refuse, not silently miss.
    graft.sources.BucketedParts.writeMeta(s"${spanDir(storeDir)}/_meta",
      Seq("k" -> cfg.spanK.toString, graft.sources.BucketedParts.digestStamp))
    graft.sources.DeltaParts.publish(spanDir(storeDir), Seq("part_00000"))
    // Stage 4's member store, from the same corpus the other stores saw
    // (SemDedupStore.init carries its own run-once refusal).
    cfg.sem.foreach { st =>
      val cv = st.vecsFor(corpus.select(col(idCol), col(textCol)))
      val vecCol = semVecCol(cv, idCol)
      st.centroids match {
        case Some(c) => graft.operators.SemDedupStore.initWithCentroids(
          spark, semDir(storeDir), cv, c, idCol, vecCol,
          c.columns(0), c.columns(1))
        case None => graft.operators.SemDedupStore.init(
          spark, semDir(storeDir), cv, idCol, vecCol, st.nlist)
      }
    }
    // The exact-policy span store, from the same corpus (its own
    // run-once refusal rides the AdditiveLedger).
    cfg.exactSpans.foreach { st =>
      graft.operators.SaStore.init(spark, exactDir(storeDir), corpus,
        idCol, textCol, maxLen = st.maxLen)
    }
  }

  /** The read-only half of admission: verdicts for one batch against the
    * standing stores, NO store mutation. Exact-dup probe: batch
    * fingerprints → bucket ids → read ONLY those buckets → broadcast
    * semi/anti — exactly incrementalNewDocs' answer (null fp never
    * matches → definitely new), with the Bloom prefilter's role played
    * by physical bucket pruning. */
  private def computeVerdicts(spark: SparkSession, storeDir: String,
                              batch: DataFrame, idCol: String, textCol: String,
                              cfg: Config): DataFrame = {
    val cur = curationFunnel(batch, idCol, textCol, cfg)
    val admitted0 = cur.filter(col("admit")).select(col(idCol), col(textCol))
    val (admitted, contam) = deconProbe(admitted0, idCol, textCol, cfg)
    val inFp = admitted.withColumn("__fp", text.fingerprint(col(textCol)))
      .localCheckpoint(true)
    val probeFps = inFp.select(col("__fp")).filter(col("__fp").isNotNull).distinct()
    val buckets = TableSink.keyBucketIdsFor(fpDir(storeDir), probeFps)
    val stored = TableSink.readBuckets(spark, fpDir(storeDir),
      probeFps.withColumn("__v", lit(0L)), buckets).select(col("__fp"))
    val dupFps = stored.join(broadcast(probeFps), Seq("__fp"), "left_semi")
    val novel = inFp.join(broadcast(dupFps), Seq("__fp"), "left_anti")
      .select(col(idCol), lit(true).as("__new")).localCheckpoint(true)
    val surv = admitted.join(novel.select(idCol), idCol)
    // Optional stage 4, standing form: the exact-novel survivors probe
    // the member store ([[graft.operators.SemDedupStore.probe]] — the
    // batch's clusters' bucket FILES only, incremental semantics).
    val (survScrub, semDup) = cfg.sem.fold((surv, Option.empty[DataFrame])) { st =>
      val bv = st.vecsFor(surv)
      val vecCol = semVecCol(bv, idCol)
      val dropped = graft.operators.SemDedupStore.probe(spark,
          semDir(storeDir), bv, idCol, vecCol, st.eps)
        .filter(!col("kept"))
        .select(col("id").as(idCol), lit(1).as("__semdup")).localCheckpoint(true)
      (surv.join(dropped.select(idCol), Seq(idCol), "left_anti"), Some(dropped))
    }
    requirePolicyMatch(storeDir, cfg)
    val scrubbed = cfg.exactSpans match {
      case Some(st) =>
        // The exact policy's corpus side, standing form: the SaStore's
        // (level, bucket)-pruned per-position probe — O(batch). The
        // survivor frame materializes first (batch-sized): the batch
        // SA, the store probe, and the scrub tail each consume it, and
        // an uncached frame would re-execute the whole funnel join
        // tree (curation + fingerprint reads) per consumer.
        val survX = survScrub.localCheckpoint(true)
        exactScrub(survX,
          graft.operators.SaStore.probeDupLengths(spark, exactDir(storeDir),
            survX, idCol, textCol, st.minLen),
          st.minLen, idCol, textCol)
      case None =>
        spanScrub(survScrub, readSpanIndex(spark, storeDir), idCol, textCol, cfg)
    }
    saReport(
      ngramReport(verdicts(batch, cur, novel, semDup, scrubbed, idCol, contam),
        batch, idCol, textCol, cfg),
      idCol, cfg,
      st => graft.operators.SaStore.attributeMatches(spark,
        exactDir(storeDir), batch.select(col(idCol), col(textCol)),
        idCol, textCol, st.attributeSites))
      .localCheckpoint(true)
  }

  // Replay/compaction/crash-window mechanics live in
  // [[graft.sources.AdditiveLedger]] over the span-inventory ledger
  // root; the fingerprint TableSink's key-idempotent upsert/delete is
  // sequenced around the dance with `isAbsorbed` (a completed mutation
  // must short-circuit BEFORE the fingerprint side effect can re-fire —
  // an absorb replayed after an unadmit would otherwise resurrect the
  // removed fingerprints).

  /** The write half: absorb admitted docs' ORIGINAL text (the inventory
    * records what content exists; scrubbed text is the training-side
    * output). IDEMPOTENT under replay for a fixed `deltaName`, at every
    * crash point: a name in the absorbed record skips entirely (even
    * post-compaction); a name already in the live ledger skips the
    * parquet rewrite (a ledgered part is complete — rewriting a LIVE
    * part in place is a non-atomic delete-then-write a concurrent
    * reader could catch half-done); the fingerprint upsert is
    * key-idempotent either way. */
  private def absorb(spark: SparkSession, storeDir: String, grown0: DataFrame,
                     idCol: String, textCol: String, cfg: Config,
                     deltaName: String): Unit = {
    import graft.sources.AdditiveLedger
    if (AdditiveLedger.isAbsorbed(spanDir(storeDir), deltaName)) return
    val grown = grown0.localCheckpoint(true)
    // Mid-absorb PROGRESS MARKER (exact policy only): the exact store's
    // own absorbed record for this name proves the first run got PAST
    // the fingerprint upsert and the sem absorb (they precede the
    // append in program order) — so a replay that sees it must not
    // re-fire those side effects. They are key-idempotent, so skipping
    // is harmless on a plain crash replay, and it is REQUIRED after a
    // crash + unadmit: re-firing them would resurrect the taken-down
    // fingerprints/vectors while the exact store keeps its tombstones —
    // a torn state that verdicts future submissions of the removed
    // content 'duplicate' forever.
    val exactAbsorbed = cfg.exactSpans.nonEmpty &&
      AdditiveLedger.isAbsorbed(exactDir(storeDir), deltaName)
    // PRE-FLIGHT the exact store's admission checks before ANY half
    // mutates: its refusals (live tombstone on a re-admitted id, a doc
    // beyond the length budget) surfacing only mid-absorb would leave
    // the fingerprint table holding a batch the span store rejected —
    // the retry would then verdict those docs duplicates of themselves.
    // …but NOT on a replay of an append the exact store already
    // completed (mirroring SaStore.append's own short-circuit
    // ordering): the checks legitimately fail for state that changed
    // SINCE completion — e.g. a later unadmit tombstoned these ids.
    cfg.exactSpans.foreach { _ =>
      if (!exactAbsorbed)
        graft.operators.SaStore.requireAppendable(spark, exactDir(storeDir),
          grown, idCol, textCol)
    }
    if (!exactAbsorbed) {
      val newFps = grown.select(text.fingerprint(col(textCol)).as("__fp"))
        .filter(col("__fp").isNotNull).distinct().withColumn("__v", lit(1L))
      TableSink.upsert(spark, fpDir(storeDir), newFps, Seq("__fp"), "__v")
      // Stage 4's members grow by the ADMITTED docs only (the semantic
      // dups never anchor — they were dropped for matching an anchor that
      // already stands). Key-idempotent upsert under the monotone
      // per-batch version, so replay inside this guard is safe, and the
      // guard's short-circuit keeps a completed absorb from re-firing
      // after an [[unadmit]] (same discipline as the fingerprint upsert).
      cfg.sem.foreach { st =>
        // The member upsert is version-ordered, and versions are pure
        // functions of the batch NAME — sound only within one namespace.
        requireOneNamespace(storeDir, deltaName)
        val gv = st.vecsFor(grown)
        graft.operators.SemDedupStore.absorb(spark, semDir(storeDir), gv,
          idCol, semVecCol(gv, idCol), version = semVersionOf(deltaName))
      }
    }
    // The exact-policy span store grows by the same admitted docs —
    // O(batch) level parts, replay-idempotent per deltaName in its OWN
    // ledger (a crash between this append and the span-ledger record
    // below replays both; each short-circuits on its absorbed name).
    cfg.exactSpans.foreach { _ =>
      graft.operators.SaStore.append(spark, exactDir(storeDir), grown,
        idCol, textCol, name = Some(deltaName))
    }
    AdditiveLedger.mutateNamed(spanDir(storeDir), Seq(spanDir(storeDir)),
        Some(deltaName)) { n =>
      spanIndexOf(grown, idCol, textCol, cfg)
        .write.mode("overwrite").parquet(s"${spanDir(storeDir)}/$n")
    }
  }

  /** The fixed-k inventory content of one document set — EMPTY under
    * the exact policy (see [[init]]'s shell note; the schema stays so
    * compaction and merge reads are uniform). */
  private def spanIndexOf(docs: DataFrame, idCol: String, textCol: String,
                          cfg: Config): DataFrame = {
    val idx = SpanDedup.spanDigestIndex(docs, idCol, textCol, cfg.spanK)
    if (cfg.exactSpans.isDefined) idx.limit(0) else idx
  }

  /**
   * Admit one batch against the standing stores and absorb the admitted
   * documents. Returns the verdict frame ([[runAgainst]] schema, one row
   * per batch doc). Per-batch cost: O(batch) text work, a bucket-pruned
   * fingerprint read sized by the batch's hash spread, one read of the
   * digest-only span inventory, one fingerprint upsert touching only the
   * batch's buckets, one O(batch) span delta write.
   */
  def run(spark: SparkSession, storeDir: String, batch: DataFrame,
          idCol: String, textCol: String, cfg: Config = Config()): DataFrame =
      // Funnel-scope single-writer lease (on top of each store's own):
      // two concurrent runs could BOTH probe before either absorbs, and
      // each would admit the other's duplicates — the store-level leases
      // can't see that probe/absorb race, only the funnel scope can.
      graft.sources.WriterLease.withLease(storeDir, "admission-run") {
    val out = computeVerdicts(spark, storeDir, batch, idCol, textCol, cfg)
    val grown = batch.select(col(idCol), col(textCol))
      .join(out.filter(col("verdict") === "admitted").select(idCol), idCol)
    absorb(spark, storeDir, grown, idCol, textCol, cfg,
      graft.sources.AdditiveLedger.nextName(spanDir(storeDir),
        Seq(spanDir(storeDir))))
    out
  }

  /** Per-batch version for the stage-4 member upserts — a PURE function
    * of the delta name (a replay of one batch must carry the identical
    * version), monotone because [[requireOneNamespace]] pins every
    * store to ONE name namespace: counter names (part_00007 → 7) from
    * [[run]], or batch-id names (part_b7 → 7) from [[runCommitted]]/
    * [[stream]]. WITHIN a namespace the counter never rewinds onto an
    * absorbed name; ACROSS namespaces no monotone pure-of-name mapping
    * exists (the two counters advance independently — a later run()
    * batch could carry a lower number than an earlier stream epoch and
    * the max-version upsert would keep the stale vector), which is why
    * mixing is refused rather than encoded. */
  private def semVersionOf(deltaName: String): Long =
    "\\d+".r.findAllIn(deltaName).toSeq.lastOption.map(_.toLong).getOrElse(0L)

  /** Fail-loud one-namespace guard for the version semantics above: the
    * `_absorbed` ledger (compaction-surviving — the batch-name history)
    * must hold names of `deltaName`'s own namespace only. Init's
    * part_00000 is namespace-neutral (version 0 precedes both). */
  private def requireOneNamespace(storeDir: String, deltaName: String): Unit = {
    val batchNs = deltaName.startsWith("part_b")
    val clash = graft.sources.DeltaParts
      .list(graft.sources.AdditiveLedger.absorbedDir(spanDir(storeDir)))
      .filterNot(_ == "part_00000")
      .find(n => n.startsWith("part_b") != batchNs)
    require(clash.isEmpty,
      s"admission store at '$storeDir' was maintained via " +
        s"'${clash.get}' but this batch is named '$deltaName' — run() " +
        "(counter names) and runCommitted()/stream() (batch-id names) " +
        "cannot interleave on one store: their version sequences are " +
        "independent, so the stage-4 max-version upsert could keep a " +
        "stale vector. Use one ingest mode per store.")
  }

  private def verdictDir(storeDir: String, batchId: Long) =
    s"$storeDir/verdicts/batch_$batchId"

  /**
   * Exactly-once per-micro-batch admission (the ST2 idiom applied to
   * ingest): the batch's verdict parquet is the COMMIT POINT, written
   * before any store mutation, and every mutation is replay-idempotent
   * (see [[absorb]]) with the span delta named by `batchId`. A crash at
   * any point replays to the same verdicts and the same store state:
   *
   *  - before the verdict write completes → stores untouched, verdicts
   *    recomputed against unchanged state;
   *  - after the commit, anywhere inside absorb → verdicts are READ
   *    BACK, never recomputed (the store may already contain this
   *    batch's own fingerprints — recomputing would mark the batch a
   *    duplicate of itself), and absorb re-applies idempotently.
   */
  def runCommitted(spark: SparkSession, storeDir: String, batch: DataFrame,
                   idCol: String, textCol: String, batchId: Long,
                   cfg: Config = Config()): DataFrame =
      graft.sources.WriterLease.withLease(storeDir, "admission-run-committed") {
    val vd = verdictDir(storeDir, batchId)
    val committed = graft.sources.StoreFs.get.exists(s"$vd/_SUCCESS")
    if (!committed)
      computeVerdicts(spark, storeDir, batch, idCol, textCol, cfg)
        .write.mode("overwrite").parquet(vd)
    val out = graft.sources.StoreRead.parquet(spark, Seq(vd))
    val grown = batch.select(col(idCol), col(textCol))
      .join(out.filter(col("verdict") === "admitted").select(idCol), idCol)
    absorb(spark, storeDir, grown, idCol, textCol, cfg, f"part_b$batchId%d")
    out
  }

  /**
   * The streaming ingest: every micro-batch runs [[runCommitted]] under
   * its epoch id, so the stream is exactly-once end-to-end — restart
   * replays the last uncommitted epoch onto identical verdicts and
   * store state. Verdict history accumulates under
   * `storeDir/verdicts/batch_<epoch>` (the queryable ingest log).
   */
  def stream(spark: SparkSession, storeDir: String, source: DataFrame,
             idCol: String, textCol: String, checkpointDir: String,
             trigger: org.apache.spark.sql.streaming.Trigger =
               org.apache.spark.sql.streaming.Trigger.AvailableNow(),
             cfg: Config = Config()): org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        batch.persist()
        try {
          if (!batch.isEmpty)
            runCommitted(spark, storeDir, batch, idCol, textCol, epoch, cfg)
          ()
        } finally { batch.unpersist(); () }
      }
      .start()

  /**
   * Scheduled maintenance in ONE call — the production funnel's cron
   * entry point after N ingest cycles: span-index [[compact]]ion
   * (restores the single pushed scan, folds unadmit tombstones away)
   * and, when the semantic stage is on, the member store's staleness
   * check + centroid refit ([[graft.operators.SemDedupStore.maintain]]
   * — one manifest-line read unless the accounting tripped, then the
   * O(corpus-members) refit-and-swap). Returns true when a semantic
   * rebuild ran. NOTE the refit changes the cluster partitioning, so
   * verdicts after it correspond to `runAgainst` under the REBUILT
   * centroids (`SemDedupStore.readCentroids`) — the fixed centroids a
   * caller pinned at [[init]] are superseded, exactly as a recall-
   * eroded fit should be.
   */
  def maintain(spark: SparkSession, storeDir: String,
               cfg: Config = Config(),
               maxAddedFraction: Double = 0.5): Boolean =
      graft.sources.WriterLease.withLease(storeDir, "admission-maintain") {
    compact(spark, storeDir)
    if (exactExists(storeDir))
      graft.operators.SaStore.compact(spark, exactDir(storeDir))
    cfg.sem.exists { st =>
      graft.operators.SemDedupStore.exists(semDir(storeDir)) &&
        graft.operators.SemDedupStore.maintain(spark, semDir(storeDir),
          st.nlist, maxAddedFraction = maxAddedFraction).isDefined
    }
  }

  /** Scheduled span-index compaction: merge base + deltas into one part
    * (restoring the single filter-pushed scan) and publish atomically.
    * O(index) — digest-only rows, orders of magnitude under the corpus. */
  def compact(spark: SparkSession, storeDir: String): Unit =
    graft.sources.AdditiveLedger.compactWith(spanDir(storeDir),
        Seq(spanDir(storeDir))) { (gen, old) =>
      // Digests whose counts an [[unadmit]] decrement has zeroed are dead
      // rows — physically dropped here, the same way Bm25Store.compact
      // folds its tombstones away.
      mergedSpanIndex(spark, storeDir, old)
        .filter(col("n_docs") > 0 || col("n_occ") > 0)
        .write.mode("overwrite").parquet(s"${spanDir(storeDir)}/$gen")
    }

  /**
   * Remove CONTENT from the standing stores — the takedown /
   * dedup-retraction inverse of [[absorb]], completing the admission
   * store's lifecycle (admit = [[run]], maintain = [[compact]], remove
   * = this). `removed` carries the documents' ORIGINAL text (what
   * [[absorb]] indexed): the span decrement is an O(batch) NEGATIVE
   * inventory part — `spanDigestIndex` of the removed docs with counts
   * negated, summed away by the ordinary additive merge, zeroed digests
   * physically dropped at the next [[compact]] — and the fingerprint
   * delete is [[graft.sources.TableSink.delete]]'s bucket-pruned
   * copy-on-write. The standing index is never rescanned.
   *
   * CONTRACT — content-level, exactly-once: unadmit removes every copy
   * of the given content in one call (the fingerprint table is
   * content-keyed; removing one of two identical docs would forget the
   * survivor), and each piece of content is unadmitted at most once
   * per absorption (a second, differently-named unadmit of the same
   * docs would drive span counts negative — harmless for admission
   * thresholds, wrong as inventory). Replay-idempotent per `name` at
   * every crash point via the `_absorbed` ledger ([[absorb]]'s
   * machinery verbatim; the fingerprint delete is key-idempotent).
   */
  def unadmit(spark: SparkSession, storeDir: String, removed: DataFrame,
              idCol: String, textCol: String, cfg: Config = Config(),
              name: Option[String] = None): Unit =
      graft.sources.WriterLease.withLease(storeDir, "admission-unadmit") {
    import graft.sources.AdditiveLedger
    // A fixed-k Config against an exact store would silently SKIP the
    // SaStore tombstone and the removed content would stay probe-able.
    requirePolicyMatch(storeDir, cfg)
    val n = name.getOrElse(AdditiveLedger.nextName(spanDir(storeDir),
      Seq(spanDir(storeDir))))
    if (AdditiveLedger.isAbsorbed(spanDir(storeDir), n)) return
    val rem = removed.localCheckpoint(true)
    val fps = rem.select(text.fingerprint(col(textCol)).as("__fp"))
      .filter(col("__fp").isNotNull).distinct()
    TableSink.delete(spark, fpDir(storeDir), fps, Seq("__fp"))
    // Stage 4's takedown leg: the removed docs' vectors stop anchoring
    // semantic verdicts (key-idempotent delete, absent ids no-ops).
    cfg.sem.foreach { _ =>
      graft.operators.SemDedupStore.remove(spark, semDir(storeDir),
        rem.select(col(idCol)), idCol)
    }
    // The exact-policy store's takedown: a doc-id tombstone (positions
    // are facts — no text replay), replay-idempotent per name.
    cfg.exactSpans.foreach { _ =>
      graft.operators.SaStore.remove(spark, exactDir(storeDir),
        rem.select(col(idCol)), idCol, name = Some(s"rm_$n"))
    }
    AdditiveLedger.mutateNamed(spanDir(storeDir), Seq(spanDir(storeDir)),
        Some(n)) { nn =>
      spanIndexOf(rem, idCol, textCol, cfg)
        .select(col("__h1"), col("__h2"),
          (-col("n_docs")).as("n_docs"), (-col("n_occ")).as("n_occ"))
        .write.mode("overwrite").parquet(s"${spanDir(storeDir)}/$nn")
    }
  }

  /** Storage audit of the WHOLE admission store in one report
    * ([[graft.sources.StoreCheck]]): the span-digest ledger, the
    * fingerprint table, and — with the semantic stage on — the member
    * store including its centroid pointer. The scheduled pre-flight a
    * deployment runs before trusting the funnel after a crash,
    * restore, or migration. */
  def fsck(spark: SparkSession, storeDir: String,
           cfg: Config = Config()): DataFrame = {
    val base = graft.sources.StoreCheck
      .deltaParts(spark, spanDir(storeDir), Seq(spanDir(storeDir)))
      .unionByName(graft.sources.StoreCheck.tableSink(spark, fpDir(storeDir)))
    val withSem0 =
      if (cfg.sem.isDefined || graft.operators.SemDedupStore.exists(semDir(storeDir)))
        base.unionByName(graft.operators.SemDedupStore.fsck(spark, semDir(storeDir)))
      else base
    val withSem =
      if (cfg.exactSpans.isDefined || exactExists(storeDir))
        withSem0.unionByName(graft.operators.SaStore.fsck(spark, exactDir(storeDir)))
      else withSem0
    // With the contamination screen on, the registry THIS config
    // actually probes joins the same one-call report — a funnel is only
    // as sound as every store a verdict reads. The ∞-gram report's
    // reference store rides along for the same reason.
    val withDecon = cfg.decon.fold(withSem)(st =>
      withSem.unionByName(graft.operators.EvalStore.fsck(spark, st.registryDir)))
    cfg.ngram.fold(withDecon)(st =>
      withDecon.unionByName(graft.operators.NgramStore.fsck(spark, st.storeDir)))
  }
}
