package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

// All filesystem access rides the [[StoreFs]] seam - the semantics
// each operation needs (atomic publish, listing consistency, mtimes
// for the GC grace window) are documented on the trait.

/**
 * Parquet table store with MERGE-style upsert (reference S7: the Mongo
 * insert/upsert/update_many/delete call sites — here last-write-wins
 * keyed upserts; S8's `ON CONFLICT DO UPDATE` is the same shape).
 *
 * Layout — hash-bucketed with copy-on-write manifests:
 * {{{
 *   dir/_CURRENT                  name of the live manifest (atomic flip)
 *   dir/_manifests/m-<seq>        "buckets=N" header + (bucket TAB path) rows
 *   dir/data/g<seq>/__bucket=<k>  parquet data for bucket k written at gen seq
 * }}}
 * Rows hash to `pmod(hash(keys), numBuckets)` buckets. An upsert touches
 * ONLY the buckets its batch keys fall in: it reads those buckets' current
 * files, merges (batch wins; `versionCol` desc breaks ties), writes the
 * merged dirty buckets under a fresh generation dir (one Spark job,
 * `partitionBy(__bucket)`), and publishes a new manifest that points dirty
 * buckets at the new files and clean buckets at their EXISTING files —
 * untouched buckets are never rewritten (byte-identical across upserts),
 * so I/O per upsert is O(dirty fraction), not O(table). At 100 TB with
 * enough buckets a streaming micro-batch rewrites a few shards, never the
 * table.
 *
 * Crash safety / exactly-once (ST2): the manifest and the `_CURRENT`
 * pointer are each written to a temp file and published with
 * `Files.move(..., ATOMIC_MOVE)` — readers see the old generation or the
 * new one, never a partial write; a writer crash at ANY point leaves the
 * previous generation fully readable (orphan data dirs are GC'd by the
 * next successful commit). Re-running the same micro-batch (same
 * `versionCol`) converges to the same table state, which is what makes
 * `foreachBatch` + checkpoint exactly-once end-to-end.
 *
 * Single-writer (a streaming query's serialized micro-batches),
 * ENFORCED fail-loud: every mutation runs under the [[WriterLease]] on
 * `dir`, so a second concurrent writer errors instead of silently
 * losing the race's other manifest flip. On a production deployment
 * this maps 1:1 onto Delta/Iceberg MERGE + its commit protocol.
 */
object TableSink {

  /** Bucket count for a table's first write (manifest-pinned thereafter).
    * Tests/toy tables: 16. A 100 TB table wants O(10k) so each bucket is
    * a few GB — pass `numBuckets` explicitly on the first upsert. */
  val DefaultBuckets = 16

  /** Reader-vs-GC contract: a manifest a reader resolved from `_CURRENT`
    * stays fully readable (the manifest file AND every data file it
    * references) until BOTH bounds pass — at least `KeepGenerations − 1`
    * subsequent commits AND at least the GC grace period of wall-clock
    * time since the manifest was published. A reader must re-resolve
    * `_CURRENT` if it holds a plan longer than that; the default 15 min
    * covers any sane scan, and tests shrink it via the
    * `graft.sink.gcGraceMs` system property to pin the count bound. */
  val KeepGenerations = 2
  private def gcGraceMs: Long =
    sys.props.get("graft.sink.gcGraceMs").map(_.toLong).getOrElse(15L * 60 * 1000)

  private def fs = StoreFs.get

  private def ptrPath(dir: String): String = s"$dir/_CURRENT"
  private def manifestDir(dir: String): String = s"$dir/_manifests"

  private case class Manifest(seq: Long, buckets: Int, layoutCol: Option[String],
                              meta: Option[String], paths: Map[Int, String])

  private def currentManifest(dir: String): Option[Manifest] = {
    val p = ptrPath(dir)
    if (!fs.exists(p)) None else Some(manifestNamed(dir, fs.readString(p).trim))
  }

  private def manifestNamed(dir: String, name: String): Manifest = {
    val lines = fs.readLines(s"${manifestDir(dir)}/$name")
    val buckets = lines.head.stripPrefix("buckets=").toInt
    val (layout, rest0) = lines.tail match {
      case l +: r if l.startsWith("bucketcol=") => (Some(l.stripPrefix("bucketcol=")), r)
      case r => (None, r)
    }
    val (meta, rest) = rest0 match {
      case l +: r if l.startsWith("meta=") => (Some(l.stripPrefix("meta=")), r)
      case r => (None, r)
    }
    val paths = rest.filter(_.nonEmpty).map { l =>
      val Array(b, rel) = l.split('\t')
      b.toInt -> rel
    }.toMap
    Manifest(name.stripPrefix("m-").toLong, buckets, layout, meta, paths)
  }

  /** The bucket a key tuple hashes to (exposed for tests/partitioned readers). */
  def bucketCol(keys: Seq[String], numBuckets: Int) =
    pmod(hash(keys.map(col): _*), lit(numBuckets))

  /** Whether a table has been committed at `dir` (a readable `_CURRENT`
    * manifest exists). Lets callers distinguish "table absent" from "table
    * present but not value-addressable" — the two cases [[bucketIdsFor]]
    * folds into one empty set. */
  def tableExists(dir: String): Boolean = currentManifest(dir).isDefined

  /** Sequence number of the live generation, if a table exists — lets a
    * composite-snapshot caller check whether an existing tag still pins
    * the CURRENT generation (retry-completion) or a stale one (refuse)
    * without mutating anything. */
  def currentSeq(dir: String): Option[Long] = currentManifest(dir).map(_.seq)

  /**
   * Idempotent-or-refuse snapshot — the composite-store pre-check,
   * centralized (a bare [[snapshot]] silently RE-POINTS an existing tag,
   * which would let a crashed composite freeze re-run commit
   * post-mutation state under the old name). Three outcomes:
   *
   *  - tag absent → take it (the plain snapshot);
   *  - tag present and the live manifest is CONTENT-identical to the
   *    pinned one → no-op. Content, not sequence number: a
   *    [[restore]] republishes the pinned state under a NEW seq with an
   *    identical manifest body, and a crash-retry after such a rollback
   *    is exactly the case a retry must complete, not refuse (manifest
   *    bodies carry the full bucket→file map and no seq, so equal
   *    bytes ⇔ the same table state);
   *  - tag present and the live content differs → refuse loudly; the
   *    store moved on since a half-taken `context`.
   */
  def snapshotNoRepoint(dir: String, tag: String,
                        context: String = "snapshot"): Unit =
    if (!snapshotCheck(dir, tag, context)) { snapshot(dir, tag); () }

  /** The non-mutating half of [[snapshotNoRepoint]], for composite
    * stores that must check every piece before mutating any: true when
    * `tag` already pins the live content, false when it is absent, and
    * a loud refusal when the store moved on since the tag. */
  def snapshotCheck(dir: String, tag: String, context: String = "snapshot"): Boolean =
    listSnapshots(dir).get(tag) match {
      case None => false
      case Some(pinned) =>
        val cur = currentManifest(dir).getOrElse(throw new IllegalStateException(
          s"tag '$tag' exists at '$dir' but no live table does"))
        if (cur.seq != pinned) {
          val pinnedBody = fs.readString(f"${manifestDir(dir)}/m-$pinned%010d")
          val curBody = fs.readString(f"${manifestDir(dir)}/m-${cur.seq}%010d")
          require(pinnedBody == curBody,
            s"snapshot tag '$tag' at '$dir' already pins generation $pinned but " +
              s"the live generation is ${cur.seq} with different contents — the " +
              s"store moved on since a half-taken $context; refusing to " +
              "re-point. Drop the tag and take a fresh one.")
          // Content-identical under a different seq (a rollback
          // republished the pinned state): the existing pin already
          // references the same bytes — nothing to do.
        }
        true
    }

  /** The manifest-pinned layout column of the table at `dir`; None when
    * the table is absent OR key-hash-bucketed (check [[tableExists]] to
    * tell which). */
  def layoutColOf(dir: String): Option[String] =
    currentManifest(dir).flatMap(_.layoutCol)

  /** Opaque writer metadata riding the CURRENT manifest (single line, no
    * tabs/newlines) — published atomically WITH the data it describes,
    * which is what makes it the right home for state that must never
    * desync from the table bytes (e.g. the projection basis a
    * value-addressable layout's cells were computed under: a sibling
    * file could flip before or after the table commit; the manifest
    * cannot). Carried forward unchanged by [[upsert]]/[[delete]] unless
    * the upsert passes an explicit `meta`; replaced by [[overwrite]]. */
  def metaOf(dir: String): Option[String] = currentManifest(dir).flatMap(_.meta)

  /** The manifest-pinned bucket count (None when the table is absent) —
    * so a maintenance [[overwrite]] can preserve it. */
  def numBucketsOf(dir: String): Option[Int] = currentManifest(dir).map(_.buckets)

  /** Physical bucket expression: by the layout column when the table has
    * one (value-addressable buckets — see [[upsert]]'s `layoutCol`),
    * else by the key hash. */
  private def bucketExpr(keys: Seq[String], nb: Int, layout: Option[String]) =
    layout.map(c => pmod(hash(col(c)), lit(nb))).getOrElse(bucketCol(keys, nb))

  /** Absolute data paths of the current generation (empty when no table). */
  private def currentPaths(dir: String, m: Option[Manifest]): Seq[String] =
    m.map(_.paths.values.toSeq.sorted.map(rel => s"$dir/$rel")).getOrElse(Nil)

  /** Read the current table state (empty frame with `like` schema if absent;
    * an existing table keeps its own on-disk schema). `mergeSchema`: a
    * writer that starts emitting an extra column (e.g. toggling an
    * optional pipeline stage) leaves mixed-generation buckets — without
    * merging, schema inference picks ONE arbitrary file and the column's
    * visibility becomes nondeterministic across reads; merging makes it
    * the deterministic superset (footer-only cost). */
  def read(spark: SparkSession, dir: String, like: DataFrame): DataFrame = {
    val paths = currentPaths(dir, currentManifest(dir))
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], like.schema)
    else StoreRead.parquet(spark, paths, merge = true)
  }

  /**
   * Upsert `batch` into the table keyed by `keys`: batch rows replace
   * same-key rows; `versionCol` breaks ties deterministically (higher
   * wins; batch preferred on equal versions). Only buckets containing
   * batch keys are rewritten. `numBuckets` and `layoutCol` apply to the
   * table's FIRST write; afterwards the manifest-pinned values win.
   *
   * `layoutCol` (optional) makes buckets VALUE-ADDRESSABLE: rows bucket
   * by `pmod(hash(<layoutCol>), numBuckets)` instead of the key hash, so
   * a reader who knows which layout values it wants can skip every other
   * bucket's files outright ([[readBuckets]]) — e.g. the stories table
   * laid out by its sticky creation-time grid cell, read by the pruned
   * ST4 candidate prefilter. CONTRACT: the layout value of a key must
   * never change between upserts (an upsert computes dirty buckets from
   * the batch's layout values; a moved value would write the key into a
   * new bucket without clearing the old one). A migrating row is
   * re-homed ATOMICALLY in the same commit via `rehomeFromCol`: a
   * (nullable, string) batch column carrying the layout value the row
   * was PREVIOUSLY stored under — those values' buckets join the dirty
   * set, so the stale copy is rewritten away (the key-window merge keeps
   * the batch row) in the same manifest flip that lands the new one. No
   * crash window can leave a row duplicated or lost, which the older
   * two-commit delete-then-upsert migration could not guarantee. Use a
   * STRING layout column; [[bucketIdsFor]] hashes string literals for
   * the read path.
   */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame,
             keys: Seq[String], versionCol: String,
             numBuckets: Int = DefaultBuckets,
             layoutCol: Option[String] = None,
             rehomeFromCol: Option[String] = None,
             meta: Option[String] = None): Unit = {
    val payload = batch.drop(rehomeFromCol.toSeq: _*)
    commit(spark, dir, keys, numBuckets, layoutCol, batch, Some(payload.schema),
      rehomeFromCol, newMeta = meta.map(m => Some(m))) {
      existingDirty =>
        payload.withColumn("__src", lit(1))
          .unionByName(existingDirty.withColumn("__src", lit(0)))
          .withColumn("__rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(keys.map(col): _*)
              .orderBy(desc(versionCol), desc("__src"))))
          .filter(col("__rn") === 1)
          .drop("__rn", "__src")
    }
  }

  /** Keyed delete (reference S7 delete_one / J7 anti-join rewrite) — also
    * rewrites only the buckets the dropped keys fall in. On a
    * layout-bucketed table the drop frame must carry the layout column
    * (with the value the stored row was written under) so the right
    * bucket goes dirty. */
  def delete(spark: SparkSession, dir: String, keysToDrop: DataFrame,
             keys: Seq[String], meta: Option[String] = None): Unit = {
    // Deleting from an absent table is a no-op, NOT a create: letting
    // commit proceed would publish a phantom empty table pinning
    // DefaultBuckets and the drop-frame's keys-only schema — the first
    // real upsert's bucket sizing would then be silently ignored, and
    // tableExists would lie to every consumer.
    if (currentManifest(dir).isEmpty) return
    commit(spark, dir, keys, DefaultBuckets, None, keysToDrop, None, None,
      newMeta = meta.map(Some(_))) {
      existingDirty =>
        existingDirty.join(keysToDrop.select(keys.map(col): _*), keys, "left_anti")
    }
  }

  /**
   * Replace the ENTIRE table content in one atomic commit: every
   * existing bucket goes dirty, `table` becomes the new content, and the
   * layout column and [[metaOf]] metadata are RE-PINNED to the given
   * values (the one operation allowed to change them — every row is
   * rewritten, so no stale copy can survive a layout change). This is
   * the bulk re-layout primitive: e.g. re-gridding a cell-addressed
   * stories table under a freshly fitted projection basis, where the new
   * cell values and the basis that defines them must flip in the SAME
   * manifest publish or value-addressed readers would probe wrong
   * buckets. Cost is O(table) by design — schedule it like any bulk
   * maintenance job, not per batch.
   */
  def overwrite(spark: SparkSession, dir: String, table: DataFrame,
                keys: Seq[String], numBuckets: Int = DefaultBuckets,
                layoutCol: Option[String] = None,
                meta: Option[String] = None): Unit =
    commit(spark, dir, keys, numBuckets, layoutCol, table, Some(table.schema),
      None, repin = true, newMeta = Some(meta)) { _ => table }

  /**
   * Maintenance re-bucket: atomically rewrite the table under a NEW
   * bucket count, preserving its layout column and meta. `numBuckets`
   * is pinned at the table's first write, so a table that grows 1000×
   * past its sizing sees upserts degrade toward O(table/N) per dirty
   * bucket — this is the growth escape hatch. One O(table) commit
   * (schedule like any bulk job); readers are untouched mid-flight: a
   * reader that resolved the old manifest keeps its files for the full
   * [[KeepGenerations]] + grace contract, and every read or upsert
   * AFTER the flip re-resolves `_CURRENT` and hashes against the new
   * pinned count, so no path ever mixes the two bucket functions.
   *
   * Sizing rule (actionable here because this is where it's applied):
   * target a few GB of parquet per bucket — [[DefaultBuckets]] = 16
   * for toy/test tables, O(10k) buckets for a 100 TB table — so a
   * streaming upsert rewrites a few shards, never the table.
   */
  def rebucket(spark: SparkSession, dir: String, keys: Seq[String],
               newBuckets: Int): Unit = {
    val cur = currentManifest(dir)
    require(cur.isDefined, s"no table at '$dir' to re-bucket")
    require(newBuckets >= 1, s"newBuckets must be >= 1: $newBuckets")
    val paths = currentPaths(dir, cur)
    require(paths.nonEmpty,
      s"table at '$dir' holds no data — the next upsert pins the count " +
        "directly via its numBuckets argument; nothing to migrate")
    val table = StoreRead.parquet(spark, paths, merge = true)
    overwrite(spark, dir, table, keys, newBuckets,
      layoutCol = cur.get.layoutCol, meta = cur.get.meta)
  }

  /** Bucket ids of the given (string) layout values under the table's
    * manifest-pinned bucket function — driver-side, one tiny local job;
    * the write path's `hash()` is replayed exactly. Empty when the table
    * does not exist or has no layout column. */
  def bucketIdsFor(spark: SparkSession, dir: String, values: Seq[String]): Set[Int] =
    currentManifest(dir) match {
      case Some(m) if m.layoutCol.isDefined && values.nonEmpty =>
        import spark.implicits._
        values.toDF("__v")
          .select(pmod(hash(col("__v")), lit(m.buckets)).as("__b"))
          .collect().map(_.getInt(0)).toSet
      case _ => Set.empty
    }

  /** Bucket ids the given key tuples hash to under the table's
    * manifest-pinned KEY bucket function — the point-lookup analog of
    * [[bucketIdsFor]]. `keyValues` carries one column per key with
    * types MATCHING the stored key columns (`hash()` is
    * type-sensitive: hashing "42" never finds rows keyed by int 42).
    * Only valid on key-hash tables — a layout table's buckets are
    * addressed by layout value, so this refuses loudly rather than
    * return wrong buckets. Empty when the table does not exist. */
  def keyBucketIdsFor(dir: String, keyValues: DataFrame): Set[Int] =
    currentManifest(dir) match {
      case Some(m) =>
        require(m.layoutCol.isEmpty,
          s"table at '$dir' is layout-bucketed ('${m.layoutCol.get}') — " +
            "point reads must address by layout value (bucketIdsFor)")
        keyValues
          .select(pmod(hash(keyValues.columns.map(col).toSeq: _*), lit(m.buckets)).as("__b"))
          .distinct().collect().map(_.getInt(0)).toSet
      case None => Set.empty
    }

  /** Schema of the stored table (the footer of one bucket file,
    * driver-side and memoized per file by [[StoreRead]]) — lets readers
    * derive stored column TYPES instead of assuming them (an id column
    * written as string must be probed as string: `hash()` and joins are
    * type-sensitive). None when the table is absent or holds no data
    * yet. */
  def storedSchemaOf(spark: SparkSession, dir: String): Option[org.apache.spark.sql.types.StructType] =
    currentManifest(dir).flatMap { m =>
      m.paths.values.toSeq.sorted.headOption
        .map(rel => StoreRead.schema(spark, Seq(s"$dir/$rel")))
    }

  /** The stored type of one column (falls back to `LongType` for an
    * absent/empty table) — the single shared implementation behind
    * every empty-read `like`-frame typing (the PqStore.search string-id
    * mistyping, fixed once). */
  def storedColType(spark: SparkSession, dir: String,
                    colName: String): org.apache.spark.sql.types.DataType =
    storedSchemaOf(spark, dir).flatMap(_.find(_.name == colName).map(_.dataType))
      .getOrElse(org.apache.spark.sql.types.LongType)

  /** Read ONLY the listed buckets' files — file-level pruning for
    * value-addressable layouts: the scan never opens (or even lists
    * into) other buckets' parquet. Exact iff the caller's predicate
    * implies layout-bucket membership (the ST4 prefilter reads the
    * candidate cells' buckets and keeps its cell predicate on top). */
  def readBuckets(spark: SparkSession, dir: String, like: DataFrame,
                  bucketIds: Set[Int]): DataFrame = {
    val paths = currentManifest(dir) match {
      case Some(m) => m.paths.filter { case (b, _) => bucketIds(b) }
        .values.toSeq.sorted.map(rel => s"$dir/$rel")
      case None => Nil
    }
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], like.schema)
    else StoreRead.parquet(spark, paths, merge = true)
  }

  /**
   * Shared copy-on-write commit: compute dirty buckets from `touched`'s
   * keys (plus `rehomeFromCol`'s previous layout values, plus EVERY
   * existing bucket under `repin` — the overwrite path), read ONLY those
   * buckets, let `merge` rebuild their contents, write them under a new
   * generation, publish atomically, GC.
   */
  private def commit(spark: SparkSession, dir: String, keys: Seq[String],
                     numBuckets: Int, layoutCol: Option[String], touched: DataFrame,
                     schemaHint: Option[org.apache.spark.sql.types.StructType],
                     rehomeFromCol: Option[String],
                     repin: Boolean = false,
                     newMeta: Option[Option[String]] = None)
                    (merge: DataFrame => DataFrame): Unit =
      WriterLease.withLease(dir, "tablesink-commit") {
    // Same tear-refusal as BucketedParts, from the seam: a commit hands
    // `dir` to BOTH Spark (the generation's parquet write below) and
    // the seam (manifest/pointer flips) — a path the two resolve
    // differently would publish a manifest naming files that landed
    // elsewhere.
    fs.requireCompatible(dir, spark)
    val cur = currentManifest(dir)
    val nb = if (repin) numBuckets else cur.map(_.buckets).getOrElse(numBuckets)
    // An existing table's layout (or its absence) is manifest-pinned;
    // only a full overwrite (repin) may change it.
    val layout = if (repin) layoutCol else cur.map(_.layoutCol).getOrElse(layoutCol)
    val meta = newMeta.getOrElse(cur.flatMap(_.meta))
    meta.foreach(m => require(!m.exists(c => c == '\n' || c == '\r' || c == '\t'),
      "manifest meta must be a single line without tabs"))
    rehomeFromCol.foreach { c =>
      require(layout.isDefined,
        s"rehomeFromCol '$c' only makes sense on a layout-bucketed table")
      require(touched.columns.contains(c), s"batch lacks rehome column '$c'")
    }
    // The read path (bucketIdsFor) hashes STRING literals; a non-string
    // layout column would hash differently at write time and silently
    // route readers to the wrong (possibly empty) bucket set — refuse.
    layout.foreach { c =>
      touched.schema.find(_.name == c).foreach(f =>
        require(f.dataType == org.apache.spark.sql.types.StringType,
          s"layout column '$c' must be STRING (value-addressed reads hash " +
            s"string literals), got ${f.dataType}"))
    }
    val seq = cur.map(_.seq + 1).getOrElse(1L)
    val bucketOf = bucketExpr(keys, nb, layout)

    // Dirty bucket ids: bounded by nb (a small constant), so the collect
    // is a driver-side set of ints, never data. Re-homing rows add the
    // buckets of their PREVIOUS layout values (the stale copies to
    // rewrite away); an overwrite dirties every existing bucket.
    val touchedBuckets = rehomeFromCol match {
      case Some(c) => touched.select(bucketOf.as("__b"))
        .unionByName(touched.filter(col(c).isNotNull)
          .select(pmod(hash(col(c)), lit(nb)).as("__b")))
      case None => touched.select(bucketOf.as("__b"))
    }
    val dirty0 = touchedBuckets.distinct().collect().map(_.getInt(0)).toSet
    val dirty =
      if (repin) dirty0 ++ cur.toSeq.flatMap(_.paths.keys)
      else dirty0
    if (dirty.isEmpty && cur.isDefined) return

    val dirtyPaths = cur.toSeq.flatMap(m =>
      m.paths.filter { case (b, _) => dirty(b) }.values.map(rel => s"$dir/$rel"))
    // Upserts pin the batch schema; deletes take the table's own MERGED
    // schema (mixed-generation buckets may differ in width, and a
    // single-footer inference could pick the narrow one — surviving
    // rows rewritten through it would silently lose columns).
    val existingDirty =
      if (dirtyPaths.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schemaHint.getOrElse(touched.schema))
      else schemaHint match {
        case Some(sh) =>
          // A dirty bucket carrying a column the batch schema lacks
          // would be rewritten WITHOUT it — silent erasure of other
          // rows' values. Refuse: widen the batch, or overwrite().
          // (Footer-only pass; the data read below pins the hint.)
          val onDisk = StoreRead.schema(spark, dirtyPaths, merge = true).fieldNames
          val lost = onDisk.filterNot(sh.fieldNames.contains)
          require(lost.isEmpty,
            s"dirty buckets of '$dir' carry column(s) ${lost.mkString(", ")} " +
              "absent from the upsert batch — rewriting those buckets " +
              "through the batch schema would erase the values for every " +
              "co-resident row. Widen the batch to the table schema, or " +
              "use overwrite() for a deliberate schema change.")
          spark.read.schema(sh).parquet(dirtyPaths: _*)
        case None => StoreRead.parquet(spark, dirtyPaths, merge = true)
      }

    // One job writes every dirty bucket: partitionBy splits them into
    // __bucket=<k> subdirs of this generation.
    val genRel = f"data/g$seq%010d"
    merge(existingDirty)
      .withColumn("__bucket", bucketOf)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("__bucket")
      .parquet(s"$dir/$genRel")

    // New manifest: clean buckets keep their existing paths; dirty buckets
    // point at this generation (absent subdir = bucket emptied by delete).
    val written = fs.list(s"$dir/$genRel")
      .filter(e => e.isDirectory && e.name.startsWith("__bucket="))
      .map(e => e.name.stripPrefix("__bucket=").toInt -> s"$genRel/${e.name}")
      .toMap
    val cleanPaths = cur.map(_.paths.view.filterKeys(b => !dirty(b)).toMap)
      .getOrElse(Map.empty[Int, String])
    val entries = (cleanPaths ++ written).toSeq.sortBy(_._1)
    val name = f"m-$seq%010d"
    val header = s"buckets=$nb" +: (layout.map(c => s"bucketcol=$c").toSeq ++
      meta.map(m => s"meta=$m").toSeq)
    fs.writeAtomic(s"${manifestDir(dir)}/$name",
      (header ++ entries.map { case (b, p) => s"$b\t$p" }).mkString("\n"))
    fs.writeAtomic(ptrPath(dir), name)
    gc(dir, keepManifests = KeepGenerations)
  }

  // ───────────────────────── snapshots / time travel ──────────────────
  // A snapshot TAG pins one committed generation against GC — the
  // reproducibility primitive a training pipeline needs ("the exact
  // corpus bytes run X trained on"): tag at training time, read the
  // identical table back any number of commits later. A tag is one
  // atomically-published file naming a manifest; pinned manifests (and
  // every data file they reference) are exempt from both GC bounds
  // until the tag is dropped.

  private def snapshotDir(dir: String): String = s"$dir/_snapshots"

  /** Pin the CURRENT generation under `tag`; returns its sequence
    * number. Re-tagging an existing tag re-points it (atomic). */
  def snapshot(dir: String, tag: String): Long = {
    // No leading dot: atomicWrite's temp files are dot-prefixed and
    // listSnapshots (hence GC pinning) skips them — a dot-leading or
    // otherwise exotic tag would be accepted here yet never pinned,
    // and GC would silently delete the "pinned" generation.
    require(tag.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"snapshot tag must be a simple name (letter/digit first): '$tag'")
    val m = currentManifest(dir).getOrElse(
      throw new IllegalStateException(s"no table at '$dir' to snapshot"))
    fs.writeAtomic(s"${snapshotDir(dir)}/$tag", f"m-${m.seq}%010d")
    m.seq
  }

  /** Tag → pinned generation sequence, for every live snapshot.
    * Dot-prefixed entries are atomicWrite temp files, never tags
    * ([[snapshot]] rejects dot-leading names). */
  def listSnapshots(dir: String): Map[String, Long] =
    fs.list(snapshotDir(dir))
      .filter(_.isFile).filterNot(_.name.startsWith("."))
      .map(e => e.name -> fs.readString(s"${snapshotDir(dir)}/${e.name}")
        .trim.stripPrefix("m-").toLong).toMap

  /** Read the table EXACTLY as it was when `tag` was taken. Fails loud
    * on an unknown tag; a pinned generation's files cannot have been
    * GC'd while its tag lives. */
  def readSnapshot(spark: SparkSession, dir: String, tag: String): DataFrame = {
    val paths = currentPaths(dir, Some(pinnedManifest(dir, tag)))
    if (paths.isEmpty) throw new IllegalStateException(
      s"snapshot '$tag' at '$dir' pinned an EMPTY table generation " +
        "(every bucket was emptied before the tag) — there is no schema " +
        "to infer; read the live table with TableSink.read if you need " +
        "an empty frame of the right shape")
    StoreRead.parquet(spark, paths, merge = true)
  }

  /** The manifest `tag` pins; fails loud on an unknown tag. */
  private def pinnedManifest(dir: String, tag: String): Manifest =
    manifestNamed(dir, fs.readString(pinnedPath(dir, tag)).trim)

  private def pinnedPath(dir: String, tag: String): String = {
    val p = s"${snapshotDir(dir)}/$tag"
    require(fs.exists(p), s"no snapshot '$tag' at '$dir' " +
      s"(have: ${listSnapshots(dir).keys.toSeq.sorted.mkString(", ")})")
    p
  }

  /** [[metaOf]] for the generation `tag` pins. */
  def pinnedMetaOf(dir: String, tag: String): Option[String] = pinnedManifest(dir, tag).meta

  /** Unpin `tag`; the generation becomes reclaimable at the next commit's
    * GC (subject to the normal recency/grace bounds). */
  def dropSnapshot(dir: String, tag: String): Unit = {
    fs.deleteIfExists(s"${snapshotDir(dir)}/$tag"); ()
  }

  /** Roll the live table back to a snapshot: publish a NEW generation
    * whose manifest is a copy of the pinned one — no data moves, the new
    * manifest references the pinned files — so sequence ordering, reader
    * atomicity, and the GC contract all hold unchanged (re-pointing
    * `_CURRENT` at the OLD manifest instead would make the next commit's
    * seq collide with a newer generation). The tag stays live. */
  def restore(dir: String, tag: String): Unit =
      WriterLease.withLease(dir, "tablesink-restore") {
    val content = fs.readString(
      s"${manifestDir(dir)}/${fs.readString(pinnedPath(dir, tag)).trim}")
    val maxSeq = fs.list(manifestDir(dir))
      .filter(_.name.startsWith("m-"))
      .map(_.name.stripPrefix("m-").toLong).max
    val name = f"m-${maxSeq + 1}%010d"
    fs.writeAtomic(s"${manifestDir(dir)}/$name", content)
    fs.writeAtomic(ptrPath(dir), name)
    gc(dir, KeepGenerations)
  }

  /** Drop manifests beyond the newest `keepManifests` — but never one
    * published within the GC grace period (see [[KeepGenerations]] for the
    * reader contract), and never one pinned by a [[snapshot]] tag — and
    * any data subdir no kept manifest references. Current readers are
    * unaffected; one older generation survives as rollback. */
  private def gc(dir: String, keepManifests: Int): Unit = {
    val mfs = fs.list(manifestDir(dir))
      .filter(_.name.startsWith("m-")).sortBy(_.name)
    val cutoff = System.currentTimeMillis() - gcGraceMs
    val pinned = listSnapshots(dir).values.map(s => f"m-$s%010d").toSet
    val (beyondCount, kept0) = mfs.splitAt(math.max(0, mfs.length - keepManifests))
    val (old, graced) = beyondCount.partition(e =>
      e.lastModifiedMillis < cutoff && !pinned(e.name))
    val kept = graced ++ kept0
    // Header lines carry no '\t' (buckets=N, optional bucketcol=...);
    // everything else is a "bucket<TAB>path" entry.
    val referenced = kept.flatMap(m =>
      fs.readLines(s"${manifestDir(dir)}/${m.name}").filter(_.contains('\t'))
        .map(_.split('\t')(1))).toSet
    old.foreach(e => fs.deleteIfExists(s"${manifestDir(dir)}/${e.name}"))
    val dataRoot = s"$dir/data"
    fs.list(dataRoot)
      .filter(_.isDirectory).foreach { gen =>
        fs.list(s"$dataRoot/${gen.name}")
          .filter(b => b.isDirectory && !referenced(s"data/${gen.name}/${b.name}"))
          .foreach(b => fs.deleteRecursively(s"$dataRoot/${gen.name}/${b.name}"))
        if (fs.list(s"$dataRoot/${gen.name}").isEmpty)
          fs.deleteIfExists(s"$dataRoot/${gen.name}")
      }
  }
}
