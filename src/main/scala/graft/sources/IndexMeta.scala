package graft.sources

/**
 * Staleness accounting (+ optional centroid-set pointer) for
 * cell/cluster-laid-out index tables, riding the [[TableSink]] manifest
 * meta line so it is ATOMIC with the data it describes — a sidecar
 * counter could desync across a crash; the manifest cannot. One format,
 * one parser, for every store that fixes centroids at fit time and
 * appends under them: the [[CellStore]] kernel (the lifecycle of
 * [[graft.pipelines.Hybrid]]'s float ANN leg,
 * [[graft.operators.SemDedupStore]]'s member table and
 * [[graft.operators.PqStore]]'s codes) and [[graft.operators.IvfAnn]]'s
 * SQ8 index.
 *
 * Format: `ivf:v1;base=N;added=M[;cells=DIR]`
 *  - `base`  = rows the centroids were FITTED against;
 *  - `added` = rows mutated under those fixed centroids since — adds AND
 *    removals both count (each drifts the live corpus away from the
 *    distribution the fit saw; ignoring removals would DELAY the rebuild
 *    cue in exactly the wrong cases);
 *  - `cells` = the store-relative dir of the centroid set this
 *    generation's layout was assigned under. Present only for stores
 *    that swap centroid sets atomically with the table generation (a
 *    rebuild writes the new centroids to a FRESH dir first, then flips
 *    table + pointer in one manifest commit — at every crash point the
 *    live generation and the centroids it was assigned under resolve
 *    together). Absent for stores whose centroids live at a fixed path.
 */
object IndexMeta {

  // `ivfpq:v1` is accepted on read: PqStore wrote that prefix before it
  // migrated onto this parser — rejecting it would silently freeze a
  // legacy store's accounting and spuriously trip needsRebuild.
  private val Re = """ivf(?:pq)?:v1;base=(\d+);added=(\d+)(?:;cells=([^;]+))?""".r

  def fresh(base: Long, cells: Option[String] = None): String =
    s"ivf:v1;base=$base;added=0" + cells.fold("")(c => s";cells=$c")

  def parse(m: String): Option[(Long, Long, Option[String])] = m match {
    case Re(b, a, c) => Some((b.toLong, a.toLong, Option(c)))
    case _ => None
  }

  /** First unused `<prefix>K` dir name under `dir` (max existing + 1) —
    * deterministic, so a crashed rebuild's orphan dir is simply skipped
    * past on retry. ONE definition for every store's versioned fit
    * dirs (this object's own rationale). */
  def nextVersionedDir(dir: String, prefix: String): String = {
    val re = (java.util.regex.Pattern.quote(prefix) + """(\d+)""").r
    val max = StoreFs.get.list(dir).map(_.name)
      .collect { case re(k) => k.toLong }.foldLeft(0L)(math.max)
    s"$prefix${max + 1}"
  }

  /** The stored meta with `added` bumped by `delta`, pointer preserved;
    * None when the table carries no parseable accounting (callers pass
    * the None through, leaving the meta untouched — [[needsRebuild]]
    * then reports true on unknown provenance, the safe direction). */
  def bumped(dir: String, delta: Long): Option[String] =
    TableSink.metaOf(dir).flatMap(parse).map { case (b, a, c) =>
      s"ivf:v1;base=$b;added=${a + delta}" + c.fold("")(x => s";cells=$x")
    }

  /** The centroid-set pointer of the LIVE generation (or of the one
    * `tag` pins), if the store versions its centroids (store-relative
    * dir). */
  def cellsPtr(dir: String, tag: Option[String] = None): Option[String] =
    tag.fold(TableSink.metaOf(dir))(TableSink.pinnedMetaOf(dir, _))
      .flatMap(parse).flatMap(_._3)

  /**
   * The centroid-rebuild staleness trigger: fixed centroids only ever
   * erode RECALL as mutations drift from the distribution they were
   * fitted on, so the cue is volume-based — fire once the rows mutated
   * since the last fit exceed `maxAddedFraction` of the rows the fit
   * saw. Reads one manifest line, no Spark job. A table with no
   * parseable accounting (pre-accounting history, foreign writer)
   * reports TRUE — unknown provenance is exactly when a rebuild
   * re-establishes the contract.
   */
  def needsRebuild(dir: String, maxAddedFraction: Double = 0.5): Boolean = {
    require(maxAddedFraction > 0.0,
      s"maxAddedFraction must be positive: $maxAddedFraction")
    require(TableSink.tableExists(dir),
      s"no persisted index table at '$dir' — nothing to assess")
    TableSink.metaOf(dir).flatMap(parse) match {
      case Some((base, added, _)) =>
        added.toDouble / math.max(base, 1L).toDouble >= maxAddedFraction
      case None => true
    }
  }
}
