package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Dataset release manifest — one tag across EVERY standing store a
 * training run reads: "release v3 = this corpus state, these retrieval
 * indexes, this reference LM, this eval registry, this data card". A
 * reproducible-data discipline needs exactly this artifact: a single
 * name that pins the whole constellation, restores it, and audits it —
 * per-store snapshots alone leave "which tags belong together" in a
 * runbook.
 *
 * Mechanics:
 *  - [[freeze]] snapshots each member store under the tag (each store's
 *    own replay-safe snapshot — idempotent-or-refuse), then publishes
 *    the manifest file ATOMICALLY. The manifest is the release's commit
 *    point: a release exists iff its manifest file does, so a crash
 *    mid-freeze leaves member tags but NO release — re-run to complete
 *    (member snapshots re-taken over unchanged stores are no-ops;
 *    a store that moved on refuses, and the half-taken tag is dropped
 *    with the member-list [[drop]] overload — the manifest-keyed form
 *    has nothing to read for a release that never committed).
 *  - Cross-store atomicity is the caller's quiescent window, same as
 *    every composite snapshot here ([[Admission.snapshot]] caveat):
 *    freeze between ingest batches — each member pins ITS state at its
 *    own instant, and a mutation interleaved between members would make
 *    a release of mixed instants.
 *  - [[restore]] pre-checks EVERY member is still fully pinned before
 *    the first one mutates (the half-restorable refusal), then rolls
 *    each back. Idempotent: re-run to complete after a crash.
 *  - [[drop]] releases every member tag (tolerant of already-dropped
 *    halves) and deletes the manifest LAST — the release stays listed
 *    until its pins are gone.
 *  - [[verify]] reports per member whether the tag is still fully
 *    pinned (a [[graft.sources.StoreCheck]]-style report) — the audit
 *    a release must pass before anyone reproduces from it.
 */
object Release {

  /** One member store of a release. `kind` picks the store's
    * snapshot/restore family — see [[kinds]]. */
  case class Member(kind: String, dir: String)

  private case class Ops(
      snap: (SparkSession, String, String) => Unit,
      drop: (SparkSession, String, String) => Unit,
      rest: (SparkSession, String, String) => Unit,
      pinned: (String, String) => Boolean)

  import graft.operators.{Bm25Store, CardStore, EvalStore, LineStore, LmStore,
    MediaStore, NgramStore, PqStore, SaStore, SemDedupStore, SpanPosStore, StatsStore}
  import graft.sources.{AdditiveStore, TableSink}

  private def ledgerOps(k: AdditiveStore): Ops =
    Ops((_, d, t) => { k.snapshot(d, t); () }, (_, d, t) => k.dropSnapshot(d, t),
      (_, d, t) => k.restore(d, t), k.pinned)

  /** The additive stores, each pinned through its kernel. */
  private val ledgerKinds: Seq[(String, AdditiveStore)] = Seq(
    "evalstore" -> EvalStore.kernel, "bm25" -> Bm25Store.kernel,
    "lm" -> LmStore.kernel, "lines" -> LineStore.kernel,
    "spanpos" -> SpanPosStore.kernel, "ngram" -> NgramStore.kernel,
    "sa" -> SaStore.kernel, "stats" -> StatsStore.kernel, "card" -> CardStore.kernel)

  /** The store families a release can pin. Every standing store in the
    * engine is here; "table" covers any raw [[TableSink]] table (the
    * serving recommendations table, a corpus table). */
  def kindNames: Seq[String] = kinds.keys.toSeq.sorted

  private val kinds: Map[String, Ops] = Map(
    "admission" -> Ops((_, d, t) => Admission.snapshot(d, t),
      (_, d, t) => Admission.dropSnapshot(d, t),
      (s, d, t) => Admission.restore(s, d, t),
      (d, t) => Admission.snapshotPinned(d, t)),
    "hybrid" -> Ops((s, d, t) => Hybrid.snapshot(s, d, t),
      (s, d, t) => Hybrid.dropSnapshot(s, d, t),
      (s, d, t) => Hybrid.restore(s, d, t),
      (d, t) => Hybrid.snapshotPinned(d, t)),
    "media" -> Ops((_, d, t) => MediaStore.snapshot(d, t),
      (_, d, t) => MediaStore.dropSnapshot(d, t),
      (_, d, t) => MediaStore.restore(d, t),
      (d, t) => MediaStore.snapshotPinned(d, t)),
    "semdedup" -> Ops((_, d, t) => SemDedupStore.snapshot(d, t),
      (_, d, t) => SemDedupStore.dropSnapshot(d, t),
      (s, d, t) => SemDedupStore.restore(s, d, t),
      (d, t) => SemDedupStore.snapshotPinned(d, t)),
    "pq" -> Ops((_, d, t) => PqStore.snapshot(d, t),
      (_, d, t) => PqStore.dropSnapshot(d, t),
      (_, d, t) => PqStore.restore(d, t),
      (d, t) => PqStore.snapshotPinned(d, t)),
    // Idempotent-or-refuse, like every other member kind: a bare
    // TableSink.snapshot silently RE-POINTS an existing tag, so a
    // crashed freeze re-run after an intervening mutation would commit
    // a mixed-instants release. snapshotNoRepoint: unchanged
    // (content-identical) store → no-op, moved store → loud refusal.
    "table" -> Ops((_, d, t) => TableSink.snapshotNoRepoint(d, t, context = "freeze"),
      (_, d, t) => TableSink.dropSnapshot(d, t),
      (_, d, t) => TableSink.restore(d, t),
      (d, t) => TableSink.listSnapshots(d).contains(t))) ++
    ledgerKinds.map { case (kind, k) => kind -> ledgerOps(k) }

  private def manifest(manifestDir: String, tag: String): String =
    s"$manifestDir/release_$tag"

  /** The releases recorded under `manifestDir`, newest-name-last. */
  def list(manifestDir: String): Seq[String] =
    graft.sources.StoreFs.get.list(manifestDir)
      .map(_.name).filter(_.startsWith("release_"))
      .map(_.stripPrefix("release_")).sorted

  /** The members of a recorded release. */
  def members(manifestDir: String, tag: String): Seq[Member] = {
    // Same grammar freeze enforces — a tag carrying '/' would resolve
    // OUTSIDE the manifest dir on this read path.
    require(tag.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"release tag must be a simple name (letter/digit first): '$tag'")
    val p = manifest(manifestDir, tag)
    require(graft.sources.StoreFs.get.exists(p),
      s"no release '$tag' at '$manifestDir' (have: ${list(manifestDir).mkString(", ")})")
    graft.sources.StoreFs.get.readLines(p)
      .filter(_.nonEmpty).map { line =>
        line.split('\t') match {
          case Array(k, d) => Member(k, d)
          case _ => throw new IllegalStateException(
            s"malformed release manifest line in $p: '$line'")
        }
      }
  }

  /** Freeze `tag` across `stores`. Refuses an unknown kind, a dir
    * listed twice, and an already-recorded tag; the manifest write is
    * the atomic commit point. */
  def freeze(spark: SparkSession, manifestDir: String, tag: String,
             stores: Seq[Member]): Unit = {
    require(tag.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"release tag must be a simple name (letter/digit first): '$tag'")
    require(stores.nonEmpty, "a release needs at least one member store")
    val unknown = stores.map(_.kind).filterNot(kinds.contains).distinct
    require(unknown.isEmpty,
      s"unknown store kind(s) ${unknown.mkString(", ")} — " +
        s"known: ${kinds.keys.toSeq.sorted.mkString(", ")}")
    val dup = stores.groupBy(_.dir).collect { case (d, ms) if ms.size > 1 => d }
    require(dup.isEmpty, s"store dir(s) listed twice: ${dup.mkString(", ")}")
    val p = manifest(manifestDir, tag)
    require(!graft.sources.StoreFs.get.exists(p),
      s"release '$tag' already recorded at '$manifestDir' — releases are " +
        "immutable; pick a new tag (or drop the old release first)")
    stores.foreach(m => kinds(m.kind).snap(spark, m.dir, tag))
    // Exclusive-create publish via the seam: the manifest write is the
    // commit point, and a raced same-tag freeze loses the create and
    // refuses (the old no-replace ATOMIC_MOVE semantics, kept).
    require(graft.sources.StoreFs.get.createNew(p,
        stores.map(m => s"${m.kind}\t${m.dir}").mkString("", "\n", "\n")),
      s"release '$tag' already recorded at '$manifestDir' — releases are " +
        "immutable; pick a new tag (or drop the old release first)")
  }

  /** Roll EVERY member back to the release — refusing up front if any
    * member is no longer fully pinned (a half-restored release mixes
    * eras across the stores a run reads together). */
  def restore(spark: SparkSession, manifestDir: String, tag: String): Unit = {
    val ms = members(manifestDir, tag)
    val missing = ms.filterNot(m => kinds(m.kind).pinned(m.dir, tag))
    require(missing.isEmpty,
      s"release '$tag' is not fully pinned any more — missing on: " +
        missing.map(m => s"${m.kind}:${m.dir}").mkString(", ") +
        " — refusing a half-restorable release")
    ms.foreach(m => kinds(m.kind).rest(spark, m.dir, tag))
  }

  /** Release every member's tag (tolerant of already-dropped halves —
    * crash cleanup re-runs), then delete the manifest LAST: the release
    * stays listed until its pins are gone. */
  def drop(spark: SparkSession, manifestDir: String, tag: String): Unit = {
    members(manifestDir, tag).foreach(m => kinds(m.kind).drop(spark, m.dir, tag))
    graft.sources.StoreFs.get.deleteIfExists(manifest(manifestDir, tag)); ()
  }

  /** Cleanup overload for a [[freeze]] that FAILED before its manifest
    * committed: the release never existed, but the members snapshotted
    * before the failure hold the tag — and the manifest-keyed [[drop]]
    * has nothing to read. Pass the same member list the freeze got.
    * Tolerant of members that never took the tag. */
  def drop(spark: SparkSession, stores: Seq[Member], tag: String): Unit =
    stores.foreach(m => kinds(m.kind).drop(spark, m.dir, tag))

  /** Audit: is every member still fully pinned? One report row per
    * member (the [[graft.sources.StoreCheck]] schema). */
  def verify(spark: SparkSession, manifestDir: String, tag: String): DataFrame =
    members(manifestDir, tag).map { m =>
      val ok = kinds(m.kind).pinned(m.dir, tag)
      graft.sources.StoreCheck.row(spark, m.dir, s"release_${tag}_pinned", ok,
        if (ok) s"${m.kind} fully pinned" else s"${m.kind} tag missing/torn")
    }.reduce(_ unionByName _)
}
