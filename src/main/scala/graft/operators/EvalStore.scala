package graft.operators

import graft.sources.AdditiveStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Standing eval-set decontamination registry — the persisted form of
 * [[CurationOps.decontaminate]] (the GPT-3 appendix-C n-gram overlap
 * procedure, Brown et al. 2020). A production pipeline holds a REGISTRY
 * of held-out benchmark suites between runs: every admitted batch is
 * probed against all of them (O(batch) — benchmarks are KBs–MBs against
 * a 100 TB corpus, so the digest registry broadcasts), and when a NEW
 * suite is registered the already-admitted corpus must be re-screened
 * against just that suite ([[retroScan]] — ONE corpus pass against the
 * new suite's broadcast digests, emitting the takedown ids that feed
 * [[graft.pipelines.Admission.unadmit]] / [[LmStore.remove]]).
 *
 * The registry is ONE purely additive relation — (suite, g, c) where
 * `g` is a word n-gram md5 digest (never text — keeps every probe
 * exactly replayable by the SQL oracle) and `c` the digest's occurrence
 * count across the suite's docs — on the [[AdditiveStore]] kernel, so the
 * whole [[LmStore]] maintenance story carries over verbatim:
 *  - [[register]] is an O(suite) count part, replay-idempotent by name
 *    at every crash point including after compaction;
 *  - [[deregister]] is an O(suite) exact NEGATIVE part (the caller
 *    replays the suite content, the LmStore.remove contract); net-zero
 *    digests drop at read and compaction, so a retired benchmark stops
 *    flagging docs without a registry rebuild;
 *  - presence is `c > 0` — double-registering a suite under two part
 *    names doubles counts but never changes a verdict;
 *  - [[snapshot]]/[[restore]] pin "the exact registry run X was
 *    screened against" for audit replay.
 *
 * The n-gram size is fixed at [[init]] and persisted (`_meta`): a digest
 * registered under one n and probed under another silently never hits,
 * so the store refuses to exist without one recorded n.
 */
object EvalStore extends AdditiveStore.Lifecycle {

  val kernel: AdditiveStore = AdditiveStore("eval registry", Seq("grams"),
    Some(AdditiveStore.Meta(Seq("n"), stamped = false, check = "gram_size_pinned")))

  /** The n-gram size this registry was initialized with. */
  def gramSize(dir: String): Int = kernel.readMeta(dir)("n").toInt

  /** One suite's (suite, g, c) rows; sign −1 is the [[deregister]] part. */
  private def part(suiteName: String, suite: DataFrame, textCol: String,
                   n: Int, sign: Int): DataFrame =
    suite.select(CurationOps.tokens(col(textCol)).as("__w"))
      .select(explode(CurationOps.gramDigests("__w", n)).as("g"))
      .groupBy("g").agg((count(lit(1)) * sign).as("c"))
      .select(lit(suiteName).as("suite"), col("g"), col("c"))

  /** The additive fold of stored parts: counts sum per (suite, digest),
    * net-zero digests drop. */
  private def merged(parts: DataFrame): DataFrame =
    parts.groupBy("suite", "g").agg(sum(col("c")).as("c")).filter(col("c") > 0)

  /** Create the registry with its first suite — run-once per dir (the
    * [[AdditiveStore.init]] refusal contract); `n` is pinned here for
    * the registry's whole life. */
  def init(spark: SparkSession, dir: String, suiteName: String,
           suite: DataFrame, textCol: String, n: Int = 8): Unit = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(suiteName.nonEmpty, "suite name must be non-empty")
    kernel.init(dir, metaValues = Seq("n" -> n.toString)) { nm =>
      kernel.write(part(suiteName, suite, textCol, n, sign = 1), dir, "grams", nm)
    }
  }

  /** Add a benchmark suite — O(suite), the standing parts are never
    * read. Name the part by suite/version id for replay-idempotent
    * registration. Screening already-admitted data against the new
    * suite is the separate, explicit [[retroScan]] pass. */
  def register(spark: SparkSession, dir: String, suiteName: String,
               suite: DataFrame, textCol: String,
               name: Option[String] = None): Unit =
    mutate(dir, suiteName, suite, textCol, name, sign = 1)

  /** Retire a suite — the exact inverse of [[register]] as an O(suite)
    * negative part. CONTRACT: the caller replays exactly the registered
    * suite content (the [[LmStore.remove]] shape); a deregister that was
    * never registered drives digests negative and those rows drop rather
    * than poisoning the registry. */
  def deregister(spark: SparkSession, dir: String, suiteName: String,
                 suite: DataFrame, textCol: String,
                 name: Option[String] = None): Unit = {
    kernel.names(dir)
    mutate(dir, suiteName, suite, textCol, name, sign = -1)
  }

  private def mutate(dir: String, suiteName: String, suite: DataFrame,
                     textCol: String, name: Option[String], sign: Int): Unit = {
    require(suiteName.nonEmpty, "suite name must be non-empty")
    val n = gramSize(dir)
    kernel.mutate(dir, name) { nm =>
      kernel.write(part(suiteName, suite, textCol, n, sign), dir, "grams", nm)
    }
  }

  /** The assembled (suite, g, c) registry — live state, or the
    * [[snapshot]]-pinned state under `tag` ("the exact benchmark set run
    * X was screened against"). Suite-count-sized by construction
    * (benchmarks, not corpora): safe to broadcast. */
  def registry(spark: SparkSession, dir: String,
               tag: Option[String] = None): DataFrame = {
    val names = kernel.names(dir, tag)
    val parts = kernel.read(spark, dir, "grams", names)
    if (names.size == 1) parts else merged(parts)
  }

  /** O(batch) decontamination of a batch against every live suite (or a
    * pinned tag): per doc, the count of its distinct n-gram digests
    * found in ANY suite, the contamination flag, and the sorted hit
    * suite list. The registry broadcasts; only (doc, digest-hit) rows
    * reach the count shuffle — batch text never rides an exchange. */
  def probe(spark: SparkSession, dir: String, batch: DataFrame,
            idCol: String, textCol: String,
            tag: Option[String] = None): DataFrame =
    probeAgainst(batch, idCol, textCol, gramSize(dir),
      registry(spark, dir, tag).select(col("suite"), col("g")))

  private def probeAgainst(batch: DataFrame, idCol: String, textCol: String,
                           n: Int, reg: DataFrame): DataFrame =
    batch.select(col(idCol).as("doc_id"),
        CurationOps.tokens(col(textCol)).as("__w"))
      .select(col("doc_id"),
        posexplode_outer(CurationOps.gramDigests("__w", n)).as(Seq("__i", "__g")))
      .join(broadcast(reg.withColumnRenamed("g", "__g")), Seq("__g"), "left")
      .groupBy("doc_id")
      // A digest hit by k suites joins to k rows — overlap counts the
      // DISTINCT digests hit, matching CurationOps.decontaminate over
      // the union of the suites.
      .agg(countDistinct(when(col("suite").isNotNull, col("__g"))).as("n_overlap"),
        concat_ws(",", sort_array(collect_set(col("suite")))).as("hit_suites"))
      .select(col("doc_id"), col("n_overlap"),
        (col("n_overlap") > 0).as("contaminated"), col("hit_suites"))

  /** The registration-time retro pass: which ALREADY-ADMITTED corpus
    * docs does suite `suiteName` contaminate? One corpus scan against
    * only that suite's broadcast digests (O(corpus) inherently — the
    * corpus must be read to be screened, but exactly once and against
    * the new suite alone, never the whole registry re-joined). Emits
    * the takedown id list for Admission.unadmit / downstream removal. */
  def retroScan(spark: SparkSession, dir: String, corpus: DataFrame,
                idCol: String, textCol: String, suiteName: String): DataFrame = {
    val reg = registry(spark, dir).filter(col("suite") === suiteName)
      .select(col("suite"), col("g")).localCheckpoint(true)
    // A compliance pass must refuse a typo loudly: an unknown suite
    // would silently report "no contamination" for the whole corpus.
    // (A registered-but-digestless suite is indistinguishable from
    // unregistered in the additive relation — equally refused; its
    // retro answer would be the same empty set either way.)
    require(!reg.isEmpty,
      s"suite '$suiteName' has no digests in the registry at '$dir' — " +
        "registered suites are listed in registry().select('suite')")
    probeAgainst(corpus, idCol, textCol, gramSize(dir), reg)
      .filter(col("contaminated"))
      .select(col("doc_id"), col("n_overlap"))
  }

  /** Fold the live parts to one generation (exact integer sums,
    * net-zero digests gone physically). */
  def compact(spark: SparkSession, dir: String): Unit =
    kernel.compact(dir) { (gen, old) =>
      kernel.write(merged(kernel.read(spark, dir, "grams", old)).localCheckpoint(true),
        dir, "grams", gen)
    }
}
