package graft.operators

import graft.sources.AdditiveStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Standing-state n-gram reference LM — the persisted form of
 * [[CurationOps.unigramModel]] + [[CurationOps.bigramModel]], the
 * artifact CCNet-style quality scoring holds between runs (Wenzek et
 * al. 2020 train a reference LM once and score every crawl snapshot
 * against it; as the reference corpus grows, the model must refresh
 * WITHOUT a corpus rescan).
 *
 * The model is two PURELY ADDITIVE relations — (token, c) and
 * (w1, w2, c2) — so the maintenance story is the cleanest in the
 * store family (cf. [[Bm25Store]], which needs tombstones and accepts
 * stale df between compactions):
 *  - an [[append]] is an O(batch) count part;
 *  - a [[remove]] is an O(batch) NEGATIVE count part (counts, unlike
 *    the quantile sketches in [[StatsStore]], subtract exactly) — the
 *    [[graft.pipelines.Admission.unadmit]] idiom, zero-count rows
 *    dropped at read and compaction;
 *  - assembly is a vocab-bounded group-sum over live parts, folded to
 *    one part by [[compact]];
 *  - every number is an exact integer, so every store law (append
 *    fold ≡ model of the union, remove ≡ never-appended) is EXACT
 *    equality, not a tolerance band.
 *
 * One `_PARTS` ledger at the store root governs both relations — a part
 * becomes visible in unigrams and bigrams in the same atomic publish,
 * so interpolated scoring never mixes a batch's bigrams with pre-batch
 * unigram totals. The `_absorbed` names-ledger (the [[Bm25Store]] /
 * Admission idiom) makes named appends/removes replay-idempotent at
 * every crash point, including a replay after a compaction folded the
 * named part.
 */
object LmStore extends AdditiveStore.Lifecycle {

  val kernel: AdditiveStore = AdditiveStore("LM store", Seq("unigrams", "bigrams"))

  /** The two additive relations of one document set, with `sign` = −1
    * producing the exact negative part a [[remove]] writes. */
  private def parts(docs: DataFrame, textCol: String, sign: Int)
      : (DataFrame, DataFrame) = {
    val uni = CurationOps.unigramModel(docs, textCol)
      .select(col("token"), (col("c") * sign).as("c"))
    val bi = CurationOps.bigramModel(docs, textCol)
      .select(col("w1"), col("w2"), (col("c2") * sign).as("c2"))
    (uni, bi)
  }

  private def writePart(dir: String, name: String, uni: DataFrame,
                        bi: DataFrame): Unit = {
    kernel.write(uni, dir, "unigrams", name)
    kernel.write(bi, dir, "bigrams", name)
  }

  /** Additive merge of the live parts — ONE definition shared by
    * [[readModels]] and [[compact]]: counts sum per key, net-zero (or
    * negative, from a remove that outran its append on a replayed
    * ledger) keys drop. A single part is always an init/append/compacted
    * generation — already grouped and positive — so the fold is free. */
  private def merged(spark: SparkSession, dir: String, names: Seq[String])
      : (DataFrame, DataFrame) = {
    val uniParts = kernel.read(spark, dir, "unigrams", names)
    val biParts = kernel.read(spark, dir, "bigrams", names)
    if (names.size == 1) (uniParts, biParts)
    else (
      uniParts.groupBy("token").agg(sum(col("c")).as("c")).filter(col("c") > 0),
      biParts.groupBy("w1", "w2").agg(sum(col("c2")).as("c2")).filter(col("c2") > 0))
  }

  /** Initialize from an existing reference corpus — O(corpus), once.
    * REFUSES a previously-used dir (the [[Bm25Store.init]] contract):
    * re-initializing in place would reset the parts while `_absorbed`
    * survives, silently no-opping a later replayed append. */
  def init(spark: SparkSession, dir: String, corpus: DataFrame,
           textCol: String): Unit =
    kernel.init(dir) { n =>
      val (u, b) = parts(corpus, textCol, sign = 1)
      writePart(dir, n, u, b)
    }

  /** Fold a batch of new reference documents into the model — O(batch),
    * the standing parts are never read. Name the part by batch/epoch id
    * for replay-idempotent ingest (idempotent at every crash point,
    * including a replay after [[compact]] folded the named part — the
    * `_absorbed` ledger survives compaction). */
  def append(spark: SparkSession, dir: String, newDocs: DataFrame,
             textCol: String, name: Option[String] = None): Unit =
    mutate(dir, newDocs, textCol, name, sign = 1)

  /** Take documents OUT of the reference model — the takedown inverse
    * of [[append]], as an O(batch) exact negative count part (no corpus
    * rescan, no rebuild; compare [[StatsStore]], whose sketches are not
    * subtractable and honestly document removal = rebuild). CONTRACT:
    * the caller passes exactly the text of a previously-appended
    * document set (it is replaying the content being taken down, the
    * Admission.unadmit shape) — the store cannot verify this from
    * counts alone; a remove that was never appended drives keys
    * negative, and those keys drop from the assembled model rather than
    * poisoning it. */
  def remove(spark: SparkSession, dir: String, removedDocs: DataFrame,
             textCol: String, name: Option[String] = None): Unit = {
    kernel.names(dir)
    mutate(dir, removedDocs, textCol, name, sign = -1)
  }

  private def mutate(dir: String, docs: DataFrame, textCol: String,
                     name: Option[String], sign: Int): Unit =
    kernel.mutate(dir, name) { n =>
      val (u, b) = parts(docs, textCol, sign)
      writePart(dir, n, u, b)
    }

  /** Fold the live parts to one generation (exact integer sums, dropped
    * zero/negative keys gone physically). Superseded parts stay one
    * cycle for in-flight readers; snapshot-pinned parts never sweep. */
  def compact(spark: SparkSession, dir: String): Unit =
    kernel.compact(dir) { (gen, old) =>
      val (u, b) = merged(spark, dir, old)
      writePart(dir, gen, u.localCheckpoint(true), b.localCheckpoint(true))
    }

  /** The assembled models — exactly ([[CurationOps.unigramModel]],
    * [[CurationOps.bigramModel]]) over the net document multiset, ready
    * for [[CurationOps.bigramCrossEntropy]] (both broadcast there).
    * With `tag`, assembles the [[snapshot]]-pinned parts — time travel
    * over the reference model ("the exact reference LM run X scored
    * with"). */
  def readModels(spark: SparkSession, dir: String,
                 tag: Option[String] = None): (DataFrame, DataFrame) =
    merged(spark, dir, kernel.names(dir, tag))
}
