package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The digest-bucketed parts layout shared by the [[AdditiveLedger]]
 * stores that file-prune probes by hash bucket ([[graft.operators
 * .SpanPosStore]], [[graft.operators.NgramStore]]): a Hive-partitioned
 * `__b = pmod(h1, buckets)` column on every part, so a reader with a
 * bucket list opens only those buckets' FILES. One definition for the
 * correctness-bearing guards — the empty-frame write (a partitionBy of
 * zero rows leaves an unreadable dir with no schema footer) and the
 * empty-bucket-list predicate (`isin()` with no values is not a
 * guaranteed-legal predicate across Spark versions) — so a fix to
 * either can never miss a store.
 */
object BucketedParts {

  def bucketOf(h1: Column, numBuckets: Int): Column =
    pmod(h1, lit(numBuckets.toLong)).cast("int")

  /** `__b IN (buckets)` that stays well-formed on an EMPTY list (an
    * empty batch / zero eligible digests): the right answer is simply
    * "no buckets". */
  def inBuckets(buckets: Seq[Int]): Column =
    if (buckets.isEmpty) lit(false) else col("__b").isin(buckets: _*)

  /** Bucket-partitioned write; an EMPTY frame ends up plain, reconciled
    * at read by [[readParts]] (the partition column comes back as a
    * data column either way). The frame CLUSTERS by `__b` before the
    * partitioned write: without it every write task emits a file into
    * every bucket dir (tasks × buckets small files — 2048 for a
    * 32-task, 64-bucket part; each footer is fixed overhead at write
    * AND at every later pruned read). When `numBuckets` is below the
    * cluster parallelism (or a bucket runs hot), a pure bucket key
    * would funnel whole buckets through single tasks — an `h1`-derived
    * salt of width max(1, parallelism / numBuckets) keeps the write
    * parallel at ~buckets × salt files (= the ideal ~buckets whenever
    * buckets ≥ parallelism, where the salt collapses to 1). The frame
    * must carry `h1` (every bucketed store's frames do — the bucket
    * itself derives from it).
    *
    * `df` is evaluated exactly ONCE (spec-pinned, BucketedPartsSpec):
    * the former `df.isEmpty` pre-probe ran aggregated part plans a
    * first time before the write ran them again — for the
    * NgramStore/SpanPosStore COUNT parts that was the whole map-side
    * window aggregation twice per init/append. Instead the partitioned
    * write runs unconditionally; the one layout it cannot produce is
    * the empty frame's (zero rows under partitionBy → no parquet
    * footer, an unreadable dir), detected AFTER the write by a plain
    * file listing (no Spark job) and reconciled by laying the schema
    * down bare — `limit(0)` collapses to an empty LocalRelation under
    * the optimizer, so no second evaluation there either. */
  def writeBucketed(path: String, df: DataFrame, numBuckets: Int): Unit =
    writePartitioned(path, df, Seq("__b"), numBuckets)

  /** The general form: any Hive-partition column set (e.g.
    * [[graft.operators.SaStore]]'s (__a level, __b bucket) layout),
    * clustered before the write so the file count stays ~dirCount ×
    * salt instead of tasks × dirCount. `dirCount` = the product of the
    * partition columns' cardinalities (sizes the write salt). Same
    * one-evaluation + empty-layout reconcile contract as
    * [[writeBucketed]]. */
  def writePartitioned(path: String, df: DataFrame, partCols: Seq[String],
                       dirCount: Int): Unit = {
    // The store family is local-filesystem PLAIN-PATH by construction:
    // the sibling ledger/meta layer (_PARTS, _meta, _absorbed) is
    // java.nio over the SAME dir string, so an accepted path must mean
    // the same location to java.nio and to Spark's writer. Two refusals
    // cover the two ways that can tear:
    //  - an EXPLICIT scheme (even file://) — Spark would resolve it,
    //    but java.nio would treat 'file:/x' as a literal relative dir
    //    and silently split the store across two locations;
    //  - a scheme-less path on a deployment whose DEFAULT FS is remote
    //    — Spark writes remotely, the local layout probe reads "empty",
    //    and the limit(0) reconcile below would OVERWRITE the data just
    //    written (the resolution check a bare '://' string match
    //    cannot make).
    // The tear-refusal lives in the seam (ONE place for the whole
    // store family): the active StoreFs decides which paths both it
    // and Spark resolve to the same location.
    StoreFs.get.requireCompatible(path, df.sparkSession)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    val par = df.sparkSession.sparkContext.defaultParallelism
    val salt = math.max(1, par / math.max(1, dirCount))
    df.repartition(partCols.map(col) :+ pmod(xxhash64(col("h1")), lit(salt)): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(path)
    if (!hasParquetFile(fs, fs.makeQualified(hPath)))
      df.limit(0).write.mode("overwrite").parquet(path)
  }

  private def hasParquetFile(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists(st =>
      (st.isFile && st.getPath.getName.endsWith(".parquet")) ||
        (st.isDirectory && hasParquetFile(fs, st.getPath)))

  /** Per-part read reconciling the partitioned and plain-empty layouts
    * (unionByName aligns the column order). */
  def readParts(spark: SparkSession, root: String, names: Seq[String]): DataFrame =
    names.map(n => StoreRead.parquet(spark, Seq(s"$root/$n"))).reduce(_ unionByName _)

  /** The `_meta` key=value pin every bucketed store writes at init
    * (LAST inside the init callback — a crash before it leaves neither
    * `_PARTS` nor `_meta`, so a retry re-runs clean). */
  def readMeta(path: String, what: String): Map[String, String] = {
    val fs = StoreFs.get
    require(fs.exists(path),
      s"no $what at '${path.split('/').dropRight(1).mkString("/")}' " +
        "(missing _meta) — run init first")
    fs.readString(path)
      .split("\n").map(_.trim).filter(_.contains("="))
      .map { l => val Array(a, b) = l.split("=", 2); a -> b }.toMap
  }

  /** The `_meta` write half — atomic publish via the seam, so a meta
    * flip is old-or-new like every other ledger file. */
  def writeMeta(path: String, kv: Seq[(String, String)]): Unit =
    StoreFs.get.writeAtomic(path,
      kv.map { case (k, v) => s"$k=$v" }.mkString("\n") + "\n")

  /** The digest-convention stamp every store persisting
    * [[graft.functions.WindowKernels]] digests writes into its `_meta`
    * at init: the kernels' chaining convention is a compatibility
    * surface — a store built under one convention and probed under
    * another returns NO hits (scrubs pass everything, duplicated
    * content admits) with no error anywhere. */
  val DigestKey = "digest"
  def digestStamp: (String, String) =
    DigestKey -> graft.functions.WindowKernels.DigestConventionId

  /** The read-side require-match of [[digestStamp]]: absent (a store
    * predating the stamp = predating the current convention) or
    * mismatched stamps refuse loudly — the store must be rebuilt. */
  def requireDigestMatch(kv: Map[String, String], what: String,
                         dir: String): Unit = {
    val cur = graft.functions.WindowKernels.DigestConventionId
    val got = kv.get(DigestKey)
    require(got.contains(cur),
      s"$what at '$dir' was built under digest convention " +
        got.getOrElse("<unstamped — a pre-stamp build>") +
        s" but this build computes $cur; persisted digests from another " +
        "convention match NOTHING (scrubs would silently admit " +
        "duplicated content) — rebuild the store under the current " +
        "convention")
  }
}
