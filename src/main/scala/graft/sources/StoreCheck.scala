package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}

// Filesystem access rides the [[StoreFs]] seam (driver-side metadata
// reads only).
import scala.jdk.CollectionConverters._

/**
 * fsck for the on-disk stores — the scheduled integrity audit a
 * production deployment runs before trusting a store for a training
 * run (and after any migration, restore, or crash recovery). Checks
 * are REFERENTIAL (does every pointer resolve: `_CURRENT` → manifest →
 * data files, `_PARTS` → part dirs, snapshot tags → pinned state), not
 * content hashes — parquet already checksums pages; what parquet
 * cannot see is a manifest naming a file an over-eager cleanup
 * deleted, a tag pinning a manifest that is gone, or a crashed
 * writer's half-finished mutation. Driver-side metadata reads only,
 * except [[tableSinkDeep]]'s one optional Spark pass.
 *
 * Report shape: one row per (store, check, ok, detail) — the
 * [[graft.operators.ValidateOps.expect]] idiom for storage. `ok =
 * false` means the store needs attention BEFORE more writes; advisory
 * findings (pending-GC orphans, a live lease, an unfinished mutation
 * that will self-heal on replay) come back ok = true with the detail
 * naming what was seen.
 */
object StoreCheck {

  private def fs = StoreFs.get

  private val schema = StructType(Seq(
    StructField("store", StringType, nullable = false),
    StructField("check", StringType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("detail", StringType, nullable = false)))

  private def report(spark: SparkSession, store: String,
                     rows: Seq[(String, Boolean, String)]): DataFrame =
    spark.createDataFrame(
      rows.map { case (c, ok, d) => Row(store, c, ok, d) }.asJava, schema)

  /** One ad-hoc row in the fsck report schema — for composite stores'
    * own referential links (a manifest-borne centroid pointer, a model
    * sidecar) that the generic audits cannot know about. */
  def row(spark: SparkSession, store: String, check: String, ok: Boolean,
          detail: String): DataFrame =
    report(spark, store, Seq((check, ok, detail)))

  /** The live-lease advisory row. Read-tolerant: the audit runs NEXT TO
    * live stores, so the lease can be released (or broken) between the
    * existence check and the read — that is "free", not a crash. */
  private def leaseRow(dir: String): (String, Boolean, String) = {
    val lease = s"$dir/${WriterLease.LeaseFile}"
    val detail =
      try {
        if (!fs.exists(lease)) "free"
        else "held: " + fs.readString(lease).trim.replace('\n', ' ')
      } catch { case _: java.io.IOException => "free (released mid-audit)" }
    ("writer_lease", true, detail)
  }

  /** Crash-debris advisory: temp files a crash stranded mid-ATOMIC_MOVE
    * (`.*.tmp` next to manifests/pointers/ledgers) and lease tombstones
    * a healer abandoned mid-break. Harmless to correctness (nothing
    * reads them) but they accumulate over crash-recovery cycles and no
    * other surface reports them. */
  private def debrisRow(dir: String): (String, Boolean, String) = {
    def count(d: String, pred: String => Boolean): Int =
      fs.list(d).count(e => e.isFile && pred(e.name))
    def tmps(d: String): Int =
      count(d, n => n.contains(".tmp"))
    val t = tmps(dir) + tmps(s"$dir/_manifests") + tmps(s"$dir/_snapshots")
    val tombs = count(dir,
      _.startsWith(WriterLease.LeaseFile + ".broken."))
    ("crash_debris", true,
      if (t + tombs == 0) "none"
      else s"$t stranded tmp file(s), $tombs abandoned lease tombstone(s) " +
        "— unread by every path, safe to delete")
  }

  /** Lenient manifest-entry parse: `(bucket, relpath)` per well-formed
    * line plus the malformed lines — the audit must REPORT a corrupt
    * manifest (hand-migration, truncated write), never die on it. A
    * line is a header iff it has `=` and no tab; anything else without
    * a tab (an entry that lost its tab to truncation) is malformed —
    * skipping it silently would pass a manifest whose bucket reference
    * vanished. */
  private def entryLines(m: String):
      (Seq[(Int, String)], Seq[String]) = {
    val good = Seq.newBuilder[(Int, String)]
    val bad = Seq.newBuilder[String]
    fs.readLines(m)
      .filterNot(l => l.isEmpty || (!l.contains('\t') && l.contains('=')))
      .foreach { l =>
        val i = l.indexOf('\t')
        val b = if (i < 0) "" else l.take(i)
        // ASCII digits, int-sized: Character.isDigit admits Unicode digit
        // classes and an overlong run overflows toInt — both must land in
        // `bad`, never throw out of the audit
        if (i > 0 && i == l.lastIndexOf('\t') && b.length <= 9 &&
            b.forall(c => c >= '0' && c <= '9'))
          good += ((b.toInt, l.drop(i + 1)))
        else bad += l
      }
    (good.result(), bad.result())
  }

  // ── TableSink ───────────────────────────────────────────────────────

  /** Audit a [[TableSink]] table: pointer/manifest resolution, every
    * referenced data file present and non-empty, bucket ids in range,
    * every snapshot tag's manifest AND files still present, plus
    * advisory rows for pending-GC orphan generations and a live
    * `_LEASE`. */
  def tableSink(spark: SparkSession, dir: String): DataFrame = {
    val out = Seq.newBuilder[(String, Boolean, String)]
    val ptr = s"$dir/_CURRENT"
    if (!fs.exists(ptr)) {
      out += (("current_resolves", false, s"no _CURRENT at '$dir'"))
      return report(spark, dir, out.result())
    }
    val name = fs.readString(ptr).trim
    val mf = s"$dir/_manifests/$name"
    out += (("current_resolves", fs.exists(mf), s"_CURRENT -> $name"))
    if (!fs.exists(mf)) return report(spark, dir, out.result())

    def entriesOf(m: String): Seq[(Int, String)] = entryLines(m)._1
    def headerOf(m: String): Map[String, String] =
      fs.readLines(m).filterNot(_.contains('\t'))
        .filter(_.contains('=')).map { l =>
          val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
        }.toMap

    val malformed = entryLines(mf)._2
    out += (("manifest_lines_parse", malformed.isEmpty,
      if (malformed.isEmpty) "every entry line well-formed"
      else s"${malformed.size} unparseable: ${malformed.take(3).mkString(" | ")}"))

    val header = headerOf(mf)
    val buckets = header.get("buckets").flatMap(b => scala.util.Try(b.toInt).toOption)
    out += (("manifest_header", buckets.isDefined,
      s"buckets=${header.getOrElse("buckets", "<missing>")}" +
        header.get("bucketcol").map(c => s" bucketcol=$c").getOrElse("")))

    val entries = entriesOf(mf)
    val badRange = buckets.map(nb =>
      entries.filter { case (b, _) => b < 0 || b >= nb }).getOrElse(Nil)
    out += (("bucket_ids_in_range", badRange.isEmpty,
      if (badRange.isEmpty) s"${entries.size} buckets referenced"
      else s"out of range: ${badRange.map(_._1).mkString(",")}"))

    val missing = entries.filter { case (_, rel) =>
      val d = s"$dir/$rel"
      !fs.isDirectory(d) ||
        fs.list(d).count(e => e.isFile && e.name.endsWith(".parquet")) == 0
    }
    out += (("data_files_present", missing.isEmpty,
      if (missing.isEmpty) "every referenced bucket dir has parquet files"
      else s"missing/empty: ${missing.map(_._2).take(5).mkString(", ")}" +
        (if (missing.size > 5) s" (+${missing.size - 5} more)" else "")))

    // snapshot tags: tag → manifest → files, each link checked
    TableSink.listSnapshots(dir).toSeq.sortBy(_._1).foreach { case (tag, seq) =>
      val tm = f"$dir/_manifests/m-$seq%010d"
      if (!fs.exists(tm))
        out += ((s"snapshot_$tag", false, s"pinned manifest m-$seq missing"))
      else {
        val gone = entriesOf(tm).filterNot { case (_, rel) =>
          fs.isDirectory(s"$dir/$rel") }
        out += ((s"snapshot_$tag", gone.isEmpty,
          if (gone.isEmpty) s"pins m-$seq, all files present"
          else s"pinned files missing: ${gone.map(_._2).take(5).mkString(", ")}"))
      }
    }

    // advisory: orphan generation dirs (pending GC) and a live lease
    val kept = fs.list(s"$dir/_manifests").filter(_.name.startsWith("m-"))
      .flatMap(m => entriesOf(s"$dir/_manifests/${m.name}").map(_._2)).toSet
    val orphans = fs.list(s"$dir/data")
      .filter(_.isDirectory).flatMap(gen =>
        fs.list(s"$dir/data/${gen.name}")
          .filter(b => b.isDirectory && !kept(s"data/${gen.name}/${b.name}")))
    out += (("orphan_buckets", true,
      if (orphans.isEmpty) "none" else s"${orphans.size} pending GC"))
    out += debrisRow(dir)
    out += leaseRow(dir)
    report(spark, dir, out.result())
  }

  /** The optional DEEP pass — one Spark job: re-derive each row's
    * bucket under the manifest-pinned hash and compare to the bucket
    * dir it was read from. Catches the corruption referential checks
    * cannot: files moved between bucket dirs, a table whose bucket
    * function changed out from under its manifest (hand-migration,
    * seed drift) — reads would silently MISS rows on every pruned
    * probe. Cost: one full scan of (keys ∪ layout) columns. */
  def tableSinkDeep(spark: SparkSession, dir: String,
                    keys: Seq[String]): DataFrame = {
    val m = s"$dir/_CURRENT"
    require(fs.exists(m), s"no table at '$dir'")
    val nb = TableSink.numBucketsOf(dir).get
    val layout = TableSink.layoutColOf(dir)
    val hashCols = layout.map(Seq(_)).getOrElse(keys)
    val mfName = fs.readString(m).trim
    val entries = entryLines(s"$dir/_manifests/$mfName")._1
      .map { case (b, rel) => (b, s"$dir/$rel") }
    val perBucket = entries.map { case (b, path) =>
      StoreRead.parquet(spark, Seq(path)).select(hashCols.map(col): _*)
        .withColumn("__stored_bucket", lit(b))
    }
    val all = perBucket.reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataFrame.withColumn("__stored_bucket", lit(0)))
    val mismatches =
      if (entries.isEmpty) 0L
      else all.filter(
        pmod(hash(hashCols.map(col): _*), lit(nb)) =!= col("__stored_bucket"))
        .count()
    report(spark, dir, Seq(("rows_in_declared_bucket", mismatches == 0L,
      if (mismatches == 0L) s"all rows hash to their bucket (n=$nb)"
      else s"$mismatches rows stored under the wrong bucket")))
  }

  // ── DeltaParts / AdditiveLedger ─────────────────────────────────────

  /** Audit an additive-ledger store: `_PARTS` resolvable, every live
    * part present under some root, every snapshot tag's pinned parts
    * present, plus advisory rows for ledgered-but-unabsorbed mutations
    * (a crash the next named replay self-heals) and sweepable orphans.
    * `roots` defaults to the ledger dir itself (single-relation
    * stores); multi-relation stores pass every relation root
    * ([[graft.operators.Bm25Store]]-shaped). */
  def deltaParts(spark: SparkSession, dir: String,
                 roots: Seq[String] = Nil): DataFrame = {
    val rs = if (roots.nonEmpty) roots else Seq(dir)
    val out = Seq.newBuilder[(String, Boolean, String)]
    val live = DeltaParts.list(dir)
    out += (("parts_ledger", live.nonEmpty,
      if (live.nonEmpty) s"${live.size} live parts" else s"no _PARTS at '$dir'"))
    if (live.isEmpty) return report(spark, dir, out.result())

    // A part name is one mutation across EVERY relation root (the
    // Bm25Store five-relation shape) — a part missing under any root is
    // a torn store, not a partial one.
    def missingUnder(p: String): Seq[String] =
      rs.filterNot(r => fs.isDirectory(s"$r/$p"))
    val missing = live.flatMap(p => missingUnder(p).map(r => s"$r/$p"))
    out += (("part_dirs_present", missing.isEmpty,
      if (missing.isEmpty)
        s"every live part on disk under ${rs.size} relation root(s)"
      else s"missing: ${missing.take(5).mkString(", ")}"))

    DeltaParts.snapshots(dir).toSeq.sortBy(_._1).foreach { case (tag, parts) =>
      val gone = parts.flatMap(p => missingUnder(p).map(r => s"$r/$p"))
      out += ((s"snapshot_$tag", gone.isEmpty,
        if (gone.isEmpty) s"pins ${parts.size} parts, all present"
        else s"pinned parts missing: ${gone.take(5).mkString(", ")}"))
    }

    // advisory: the replay-dance crash window and sweepable orphans
    val absorbed = DeltaParts.list(AdditiveLedger.absorbedDir(dir)).toSet
    if (absorbed.nonEmpty) {
      val unfinished = live.filterNot(absorbed)
      out += (("unfinished_mutations", true,
        if (unfinished.isEmpty) "none"
        else s"ledgered but unabsorbed (self-heals on named replay): " +
          unfinished.take(5).mkString(", ")))
    }
    val protect = live.toSet ++ DeltaParts.pinned(dir)
    val orphans = rs.flatMap(r =>
      fs.list(r)
        .filter(e => e.isDirectory && !e.name.startsWith("_") &&
          !protect(e.name)))
    out += (("orphan_parts", true,
      if (orphans.isEmpty) "none" else s"${orphans.size} sweepable next compaction"))
    out += debrisRow(dir)
    out += leaseRow(dir)
    report(spark, dir, out.result())
  }
}
