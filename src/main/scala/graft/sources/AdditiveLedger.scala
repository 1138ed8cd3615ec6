package graft.sources

/**
 * The ledger steps behind every additive store: the init refusal, the
 * named-mutation replay dance, and the compact-sweep-publish cycle are
 * store-agnostic — only the relation contents differ — so the
 * crash-window reasoning lives ONCE here. Stores reach these steps
 * through their [[AdditiveStore]] kernel;
 * [[graft.pipelines.Admission]] drives them directly, because its span
 * ledger's mutations are sequenced around the fingerprint TableSink's
 * key-idempotent side effects via [[isAbsorbed]]/[[nextName]].
 *
 * Mutations ([[init]], [[mutateNamed]], [[compactWith]]) hold the
 * store dir's [[WriterLease]] for their whole multi-step dance — the
 * single-writer contract enforced fail-loud, not just documented.
 */
object AdditiveLedger {

  def absorbedDir(dir: String): String = s"$dir/_absorbed"

  /** Has `name` EVER been absorbed (survives compaction)? For stores
    * whose mutations pair the ledgered part with NON-ledger side
    * effects that must not replay after completion (the Admission
    * fingerprint upsert/delete): check this FIRST, then run the side
    * effect, then [[mutateNamed]] — a completed mutation short-circuits
    * before the side effect can re-fire. */
  def isAbsorbed(dir: String, name: String): Boolean =
    DeltaParts.list(absorbedDir(dir)).contains(name)

  /** Next free indexed part name, counting on-disk orphans (compaction
    * keeps superseded parts one cycle — a ledger-size name would
    * collide) AND every absorbed name (after sweeps remove the numeric
    * orphans, a rewound counter would regenerate an absorbed name and
    * the replay guard would silently drop the new batch). */
  def nextName(dir: String, roots: Seq[String]): String =
    DeltaParts.nextIndexedName(dir, roots,
      extraNames = DeltaParts.list(absorbedDir(dir)))

  /** Refuse a previously-used store dir: re-initializing in place would
    * reset the parts while `_absorbed` survives, silently no-opping a
    * later replayed append. `extraPaths` adds store-specific prior-life
    * markers (the Admission verdict history / fingerprint table). */
  def requireFresh(dir: String, what: String,
                   extraPaths: Seq[String] = Nil): Unit = {
    val priorLife = (Seq(
      s"$dir/_PARTS",
      s"${absorbedDir(dir)}/_PARTS"
    ) ++ extraPaths).filter(StoreFs.get.exists(_))
    if (priorLife.nonEmpty)
      throw new IllegalStateException(
        s"$what at '$dir' was already initialized " +
          s"(found: ${priorLife.mkString(", ")}) — init is run-once; " +
          "delete the store dir (or point at a fresh one) to rebuild.")
  }

  /** The whole init dance under ONE lease: freshness check, the init
    * part write, and the two ledger adds. Two operators racing an init
    * on one dir would otherwise BOTH pass [[requireFresh]] (no `_PARTS`
    * yet), both overwrite the same part path with interleaved output,
    * and both record — rc=0 and a silently torn store; under the lease
    * the second initializer sees the first's `_PARTS` and refuses
    * loudly, the contract every mutation here already keeps. */
  def init(dir: String, what: String, name: String,
           extraPaths: Seq[String] = Nil)(write: String => Unit): Unit =
    WriterLease.withLease(dir, "ledger-init") {
      requireFresh(dir, what, extraPaths)
      write(name)
      DeltaParts.add(dir, name)
      DeltaParts.add(absorbedDir(dir), name)
    }

  /**
   * The named-mutation replay dance, idempotent at every crash point
   * INCLUDING a replay after compaction folded the named part:
   *  - an absorbed name is a completed mutation → no-op;
   *  - a ledgered-but-unabsorbed name crashed between the part write
   *    and the absorbed add — the files are complete (the ledger add
   *    follows the write), so only the record finishes;
   *  - otherwise `write(name)` puts the part files on disk, then the
   *    part is ledgered and the absorbed record lands.
   */
  def mutateNamed(dir: String, roots: Seq[String], name: Option[String])
                 (write: String => Unit): Unit =
    // One lease across the whole dance: the absorbed-check, the part
    // write (often multi-relation), and the ledger adds are one
    // mutation — a second writer interleaving between any two of those
    // steps is the silent-corruption case the lease exists to refuse.
    WriterLease.withLease(dir, "ledger-mutate") {
      val absorbed = DeltaParts.list(absorbedDir(dir))
      val n = name.getOrElse(DeltaParts.nextIndexedName(dir, roots,
        extraNames = absorbed))
      if (!absorbed.contains(n)) {
        if (!DeltaParts.list(dir).contains(n)) {
          write(n)
          DeltaParts.add(dir, n)
        }
        DeltaParts.add(absorbedDir(dir), n)
      }
    }

  /** The compact cycle: write the merged generation un-ledgered, sweep
    * orphans (protecting the superseded parts one cycle for in-flight
    * readers, the new gen, and every snapshot pin), publish atomically.
    * `writeGen` must put the generation's files on disk, NOT ledger
    * them (publish-by-replace is the atomic step — an add would
    * transiently double-count). */
  def compactWith(dir: String, roots: Seq[String])
                 (writeGen: (String, Seq[String]) => Unit): Unit =
    WriterLease.withLease(dir, "ledger-compact") {
      val old = DeltaParts.list(dir)
      if (old.size > 1) {
        val gen = s"part_c${System.nanoTime()}"
        // The callback folds exactly the `old` listing the protect set is
        // computed from — re-listing inside the callback would let any part
        // landed between the two reads be folded into the gen while the
        // sweep below treats it as an orphan.
        writeGen(gen, old)
        val protect = old.toSet + gen ++ DeltaParts.pinned(dir)
        roots.foreach(r => DeltaParts.sweepOrphans(r, protect))
        DeltaParts.publish(dir, Seq(gen))
      }
    }
}
