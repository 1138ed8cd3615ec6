package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The additive-store kernel: one value per store that owns the whole
 * ledger lifecycle, so a store is left with only what is its own —
 * derive (batch + sign → parts), fold (parts → relation) and probe.
 *
 * A store is `what` (the name its refusals use), its relation
 * subdirectories under the store dir (ONE `_PARTS` ledger at the dir
 * governs all of them — a part becomes visible in every relation in the
 * same atomic publish), and optionally the key=value [[AdditiveStore.Meta]]
 * record it pins at init. The kernel provides:
 *  - part-name resolution, live or snapshot-tagged, refusing an
 *    uninitialized store loudly ([[names]]);
 *  - one relation over a list of part names ([[read]], [[readEach]]);
 *  - init / named mutate / compact over the [[AdditiveLedger]]
 *    lease-and-replay steps — callbacks only write part files, the
 *    ledger records them ([[init]], [[mutate]], [[compact]]);
 *  - snapshot / dropSnapshot / restore ([[DeltaParts]] tags);
 *  - the meta read and write with its digest stamp;
 *  - [[fsck]]: the ledger audit over every relation root plus the meta
 *    row.
 */
final case class AdditiveStore(what: String, relations: Seq[String],
                               meta: Option[AdditiveStore.Meta] = None) {

  /** Every relation root under `dir`, in [[relations]] order. */
  def roots(dir: String): Seq[String] = relations.map(r => s"$dir/$r")

  /** Where part `name` of relation `rel` lives. */
  def path(dir: String, rel: String, name: String): String = s"$dir/$rel/$name"

  def exists(dir: String): Boolean = DeltaParts.list(dir).nonEmpty

  /** The live part names, or those `tag` pinned; refuses a store with
    * none (never initialized) instead of answering from nothing. */
  def names(dir: String, tag: Option[String] = None): Seq[String] = {
    val ns = tag.fold(DeltaParts.list(dir))(t => DeltaParts.listAt(dir, t))
    require(ns.nonEmpty, s"no $what at '$dir' — run init first")
    ns
  }

  /** One relation over `names` as a single multi-path parquet scan. */
  def read(spark: SparkSession, dir: String, rel: String,
           names: Seq[String]): DataFrame =
    spark.read.parquet(names.map(path(dir, rel, _)): _*)

  /** One relation over `names` as per-part scans unioned by name — the
    * form bucket-partitioned parts need ([[BucketedParts.readParts]]). */
  def readEach(spark: SparkSession, dir: String, rel: String,
               names: Seq[String]): DataFrame =
    BucketedParts.readParts(spark, s"$dir/$rel", names)

  /** Plain (unbucketed) part write of one relation. */
  def write(df: DataFrame, dir: String, rel: String, name: String): Unit =
    df.write.mode("overwrite").parquet(path(dir, rel, name))

  /** Run-once init under one lease ([[AdditiveLedger.init]]): `write`
    * puts the first part's files on disk; `metaValues` (the
    * [[AdditiveStore.Meta]] keys, when the store keeps a record) land
    * LAST, so a crash before them leaves neither `_PARTS` nor `_meta`
    * and a retry re-runs clean. `extraPaths` are further prior-life
    * markers that make init refuse. */
  def init(dir: String, metaValues: Seq[(String, String)] = Nil,
           extraPaths: Seq[String] = Nil)(write: String => Unit): Unit =
    AdditiveLedger.init(dir, what, "part_00000",
        extraPaths ++ meta.map(_ => metaPath(dir))) { n =>
      write(n)
      meta.foreach { m =>
        BucketedParts.writeMeta(metaPath(dir),
          metaValues ++ (if (m.stamped) Seq(BucketedParts.digestStamp) else Nil))
      }
    }

  /** Has the named mutation completed (survives compaction)? For
    * mutations with side effects outside the ledger that must not
    * re-fire on replay ([[AdditiveLedger.isAbsorbed]]). */
  def isAbsorbed(dir: String, name: String): Boolean =
    AdditiveLedger.isAbsorbed(dir, name)

  /** The next free indexed part name ([[AdditiveLedger.nextName]]). */
  def nextName(dir: String): String = AdditiveLedger.nextName(dir, roots(dir))

  /** A named, replay-idempotent mutation: `write` puts part `n`'s files
    * on disk under every relation root; the kernel ledgers it. */
  def mutate(dir: String, name: Option[String])(write: String => Unit): Unit =
    AdditiveLedger.mutateNamed(dir, roots(dir), name)(write)

  /** The compact cycle: `writeGen(gen, old)` folds exactly the `old`
    * listing into generation `gen`'s files (unledgered); the kernel
    * sweeps last cycle's orphans and publishes `gen` atomically. */
  def compact(dir: String)(writeGen: (String, Seq[String]) => Unit): Unit =
    AdditiveLedger.compactWith(dir, roots(dir))(writeGen)

  /** Pin the live parts under `tag` ([[DeltaParts.snapshot]]). */
  def snapshot(dir: String, tag: String): Seq[String] = DeltaParts.snapshot(dir, tag)

  def dropSnapshot(dir: String, tag: String): Unit = DeltaParts.dropSnapshot(dir, tag)

  /** Roll the live ledger back to `tag` — no data moves. Part names stay
    * write-once across restores: a batch absorbed after the tag stays
    * absorbed, so a pending replay cannot double-count. */
  def restore(dir: String, tag: String): Unit = DeltaParts.restore(dir, tag)

  def pinned(dir: String, tag: String): Boolean =
    DeltaParts.snapshots(dir).contains(tag)

  def metaPath(dir: String): String = s"$dir/_meta"

  /** The pinned meta record, digest stamp checked when the store
    * persists window-kernel digests. */
  def readMeta(dir: String): Map[String, String] = {
    val m = meta.getOrElse(
      throw new IllegalStateException(s"$what keeps no meta record"))
    val kv = BucketedParts.readMeta(metaPath(dir), what)
    if (m.stamped) BucketedParts.requireDigestMatch(kv, what, dir)
    kv
  }

  /** Storage audit ([[StoreCheck.deltaParts]]) over every relation
    * root, plus the meta row when the store keeps a meta record. */
  def fsck(spark: SparkSession, dir: String): DataFrame = {
    val ledger = StoreCheck.deltaParts(spark, dir, roots(dir))
    meta.fold(ledger) { m =>
      val kv = scala.util.Try(readMeta(dir)).toOption
        .filter(kv => m.keys.forall(kv.contains))
      ledger.unionByName(StoreCheck.row(spark, dir, m.check, kv.isDefined,
        kv.fold(s"missing or unreadable ${metaPath(dir)}")(kv =>
          m.keys.map(k => s"$k=${kv(k)}").mkString(" "))))
    }
  }
}

object AdditiveStore {

  /** The key=value record a store pins in `_meta` at init (the
    * parameters every later read must agree with). `stamped` adds the
    * window-kernel digest convention ([[BucketedParts.digestStamp]]),
    * required to match on every read; `check` names the fsck row. */
  final case class Meta(keys: Seq[String], stamped: Boolean = true,
                        check: String = "meta_resolves")

  /** The lifecycle entry points every additive store exposes, each
    * forwarded to the store's [[kernel]]. */
  trait Lifecycle {
    def kernel: AdditiveStore

    /** Pin the current state under `tag`; reads with the tag replay it
      * byte-identically across later mutations and compactions. */
    def snapshot(dir: String, tag: String): Seq[String] = kernel.snapshot(dir, tag)

    /** Release a tag; its parts become sweepable next compaction. */
    def dropSnapshot(dir: String, tag: String): Unit = kernel.dropSnapshot(dir, tag)

    /** Roll the live state back to a tag (no data movement). */
    def restore(dir: String, tag: String): Unit = kernel.restore(dir, tag)

    /** Storage audit ([[graft.sources.StoreCheck]] report schema). */
    def fsck(spark: SparkSession, dir: String): DataFrame = kernel.fsck(spark, dir)
  }
}
