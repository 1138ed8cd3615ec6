package graft.sources

/**
 * A tiny additive-parts ledger: a directory of immutable parquet part
 * dirs plus one `_PARTS` file naming the live ones, published
 * atomically ([[StoreFs.writeAtomic]] — the [[TableSink]] `_CURRENT`
 * idiom). The storage primitive behind every "standing state that
 * refreshes by additive delta + scheduled compaction" store
 * (span-digest inventory, BM25 postings/df/stats): per-batch writes
 * stay O(batch) — a new part dir and a one-line ledger update — where
 * a row-keyed upsert of uniformly-distributed keys would dirty every
 * bucket of a CoW table.
 *
 * Single-writer by contract (scheduled ingest/maintenance jobs, not a
 * concurrent endpoint) — the read-modify-write mutations ([[add]],
 * [[restore]], and the [[AdditiveLedger.compactWith]] cycle) enforce it
 * fail-loud under the dir's [[WriterLease]]; readers resolve either the
 * old or the new ledger, never a torn one. Replay-safe: parts are named by their
 * batch/epoch, rewriting a part is an idempotent overwrite, and
 * [[add]] is add-if-absent.
 *
 * All filesystem access rides the [[StoreFs]] seam; the semantics each
 * operation needs are documented there.
 */
object DeltaParts {

  private def fs = StoreFs.get

  private def partsFile(dir: String) = s"$dir/_PARTS"
  private def snapsDir(dir: String) = s"$dir/_snapshots"

  private def readNames(p: String): Seq[String] =
    fs.readString(p).split("\n").map(_.trim).filter(_.nonEmpty).toSeq

  /** Live part names, oldest first; empty when the store is absent. */
  def list(dir: String): Seq[String] = {
    val p = partsFile(dir)
    if (fs.exists(p)) readNames(p) else Seq.empty
  }

  /** Atomically publish `parts` as the live set. */
  def publish(dir: String, parts: Seq[String]): Unit =
    fs.writeAtomic(partsFile(dir), parts.mkString("\n") + "\n")

  /** Append `name` to the live set if absent (replay-idempotent).
    * Read-modify-write, so it runs under the dir's [[WriterLease]] —
    * two raced adds would otherwise each publish a list missing the
    * other's part. */
  def add(dir: String, name: String): Unit =
    WriterLease.withLease(dir, "deltaparts-add") {
      val cur = list(dir)
      if (!cur.contains(name)) publish(dir, cur :+ name)
    }

  /** The next sequentially-numbered part name, counting BOTH the ledger
    * and any part dir still on disk under `diskRoots` — a compaction
    * leaves superseded parts on disk one extra cycle (deferred GC), and
    * a ledger-size-based name would collide with such an orphan and
    * overwrite files an in-flight reader of the old ledger may still be
    * scanning. Non-numeric suffixes (compaction gens) are ignored. */
  def nextIndexedName(dir: String, diskRoots: Seq[String],
                      prefix: String = "part_",
                      extraNames: Seq[String] = Nil): String = {
    val onDisk = diskRoots.flatMap(r =>
      fs.list(r).filter(_.isDirectory).map(_.name))
    // extraNames: histories the counter must NEVER rewind past even when
    // neither ledger nor disk still names them (e.g. an absorbed-record
    // ledger after compactions swept the numeric orphans — regenerating
    // an absorbed name would make the replay guard silently drop a
    // genuinely new batch).
    val nums = (list(dir) ++ onDisk ++ extraNames).filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)
    f"$prefix${if (nums.isEmpty) 0L else nums.max + 1}%05d"
  }

  // ─── snapshot tags: pin a parts-list against every future sweep ───────
  //
  // The DeltaParts analog of TableSink.snapshot: a tag records the EXACT
  // live parts-list at tag time under `_snapshots/<tag>`, so a training
  // run can later re-read the index state that admitted its corpus
  // byte-for-byte ([[listAt]]) — and [[sweepOrphans]] callers protect
  // [[pinned]] parts, so compaction cycles can never
  // delete a part some tag still names. Tags pin NAMES; the contract
  // that makes that byte-pinning is the ledger's own: parts are
  // immutable once ledgered (append skips, never rewrites, a live part).

  /** Pin the current live parts-list under `tag`. Idempotent when re-run
    * with an unchanged ledger; REFUSES to silently re-point an existing
    * tag at different parts (drop the tag first if that is meant).
    * Returns the pinned list. */
  def snapshot(dir: String, tag: String): Seq[String] = {
    // ONE tag grammar with TableSink.snapshot (ASCII, no Unicode
    // letter classes): composite pipelines tag a TableSink half and a
    // ledger half with the SAME string — divergent rules would let one
    // half succeed and the other throw, a torn composite snapshot.
    require(tag.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"snapshot tag must be a simple name (letter/digit first): '$tag'")
    val parts = list(dir)
    require(parts.nonEmpty, s"no parts ledger at '$dir' to snapshot")
    val p = s"${snapsDir(dir)}/$tag"
    if (fs.exists(p)) {
      val prior = readNames(p)
      require(prior == parts,
        s"snapshot tag '$tag' at '$dir' already pins $prior — refusing to " +
          s"re-point it at $parts; drop the tag first if that is intended")
      return parts
    }
    fs.writeAtomic(p, parts.mkString("\n") + "\n")
    parts
  }

  /** The parts-list `tag` pinned — read-at-tag for time travel. */
  def listAt(dir: String, tag: String): Seq[String] = {
    val p = s"${snapsDir(dir)}/$tag"
    require(fs.exists(p), s"no snapshot '$tag' at '$dir' " +
      s"(tags: ${snapshots(dir).keys.toSeq.sorted.mkString(", ")})")
    readNames(p)
  }

  /** Every live tag → its pinned parts. Temp files (dot-leading, the
    * [[StoreFs.writeAtomic]] debris convention) are invisible
    * ([[snapshot]] rejects dot-leading tags). */
  def snapshots(dir: String): Map[String, Seq[String]] =
    fs.list(snapsDir(dir))
      .filter(e => e.isFile && !e.name.startsWith("."))
      .map(e => e.name -> readNames(s"${snapsDir(dir)}/${e.name}")).toMap

  /** Union of every tag's pinned parts — what sweeps must protect. */
  def pinned(dir: String): Set[String] =
    snapshots(dir).values.flatten.toSet

  /** Release a tag; its parts become sweepable next compaction cycle
    * (unless the live ledger or another tag still names them). */
  def dropSnapshot(dir: String, tag: String): Unit = {
    fs.deleteIfExists(s"${snapsDir(dir)}/$tag"); ()
  }

  /** Roll the live ledger back to a [[snapshot]]: publish the pinned
    * parts-list as the live set — the [[TableSink.restore]] idiom for
    * additive stores. No data moves (the pinned parts never left disk:
    * sweeps protect pinned names); parts appended after the tag become
    * orphans the next compaction cycle sweeps, UNLESS another tag pins
    * them. The tag itself stays live after the restore. Single-writer
    * contract like every ledger mutation here. */
  def restore(dir: String, tag: String): Unit =
    WriterLease.withLease(dir, "deltaparts-restore") {
      publish(dir, listAt(dir, tag))
    }

  /** Delete every part dir under `root` that is neither in `protect`
    * nor a ledger file — the orphans a previous compaction left behind
    * (the superseded parts of a compaction stay on disk one more cycle
    * for in-flight readers of the old ledger; see
    * [[AdditiveLedger.compactWith]]).
    * Call BEFORE publishing the new ledger, protecting the currently
    * live parts plus the incoming one. Names starting with `_` are the
    * reserved ledger/metadata namespace (`_PARTS`, sibling ledgers like
    * an absorbed-record dir) and are never swept. */
  def sweepOrphans(root: String, protect: Set[String]): Unit =
    fs.list(root)
      .filter(e => e.isDirectory && !e.name.startsWith("_") && !protect(e.name))
      .foreach(e => rmDir(s"$root/${e.name}"))

  /** Best-effort recursive delete of an unreferenced part dir. */
  def rmDir(path: String): Unit = fs.deleteRecursively(path)
}
