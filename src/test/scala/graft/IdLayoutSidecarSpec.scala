package graft

import graft.pipelines.Hybrid
import graft.sources.{IdLayoutSidecar, TableSink}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The id→layout sidecar is what makes the standing-store refresh
 * O(batch) on the re-home path: without it, finding "which cell holds
 * this re-added id today" needs a full (id, layout) projection scan of
 * the standing table per batch. These tests pin (1) resolve ≡ the full
 * projection scan, (2) the FILE-pruning evidence — a resolve opens only
 * the batch ids' sidecar buckets plus the candidate cells' main-table
 * bucket files, never the whole table, (3) the crash-window invariant
 * (intent committed, main commit lost → the copy is still found at
 * `prev_cell`), and (4) sidecar-path ≡ fallback-scan-path equality for
 * [[Hybrid.appendVectors]] end to end.
 */
class IdLayoutSidecarSpec extends AnyFunSuite with SparkSpec {

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def freshStore(): String = {
    val dir = java.nio.file.Files.createTempDirectory("idmap_hy").toString
    Hybrid.init(spark, dir, docs, "doc_id", "text",
      emb, "vec_id", "embedding", nlist = 8)
    dir
  }

  private def annLike = spark.range(0).select(lit(0L).as("cell"),
    lit(0L).as("id"), array().cast("array<double>").as("vec"),
    lit("").as("__cell_s"))

  private def fullProjection(annDir: String) =
    TableSink.read(spark, annDir, annLike)
      .select(col("id"), col("__cell_s").as("__cur"))

  test("resolve equals the full (id, layout) projection for any batch of ids") {
    val annDir = s"${freshStore()}/ann"
    import spark.implicits._
    val batch = emb.select(col("vec_id").as("id")).filter(col("id") % 5 === 0)
      .unionByName(Seq(987654321L).toDF("id")) // absent id: must be absent, not error
    val got = IdLayoutSidecar.resolve(spark, annDir, batch)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = fullProjection(annDir)
      .join(batch, Seq("id"), "left_semi")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want, "sidecar resolve must equal the full projection scan")
    assert(!got.contains(987654321L))
  }

  test("file pruning: a small-batch resolve opens strictly fewer main-table files than the table has") {
    val annDir = s"${freshStore()}/ann"
    // one id → ≤ 1 sidecar bucket, ≤ 2 candidate cells' bucket files
    val one = emb.select(col("vec_id").as("id")).orderBy("id").limit(1)
    val out = IdLayoutSidecar.resolve(spark, annDir, one)
    assert(out.count() == 1)
    // the resolve plan's file scans are the candidate cells' main-table
    // buckets only (the sidecar lookup is consumed driver-side into the
    // candidate-cell set, so it never appears in the returned plan)
    val mainFilesRead = out.inputFiles.count(_.contains(annDir + "/"))
    val mainFilesTotal = TableSink.read(spark, annDir, annLike).inputFiles.length
    assert(mainFilesRead > 0 && mainFilesRead < mainFilesTotal,
      s"main-table read must be file-pruned: opened $mainFilesRead of $mainFilesTotal")
    // the sidecar leg resolve performs internally: the batch ids' key
    // buckets only — mirror it and pin the pruning
    val sideDir = IdLayoutSidecar.dir(annDir)
    val sideLike = spark.range(0).select(lit(0L).as("id"),
      lit("").as("cell"), lit("").as("prev_cell"))
    val sideFilesRead = TableSink.readBuckets(spark, sideDir, sideLike,
      TableSink.keyBucketIdsFor(sideDir, one)).inputFiles.length
    val sideFilesTotal = TableSink.read(spark, sideDir, sideLike).inputFiles.length
    assert(sideFilesRead > 0 && sideFilesRead < sideFilesTotal,
      s"sidecar read must be key-bucket-pruned: opened $sideFilesRead of $sideFilesTotal")
  }

  test("crash window: intent committed but main commit lost → the copy is still found at prev_cell") {
    val annDir = s"${freshStore()}/ann"
    import spark.implicits._
    // pick a stored id and its current cell
    val (id0, cell0) = fullProjection(annDir).orderBy("id").limit(1)
      .collect().map(r => (r.getLong(0), r.getString(1))).head
    // record an intent to move it to a (fictitious) new cell, then CRASH
    // before the main-table upsert ever runs
    IdLayoutSidecar.recordIntent(spark, annDir,
      Seq((id0, "9999", cell0)).toDF("id", "cell", "prev_cell"), version = 7L)
    val got = IdLayoutSidecar.resolve(spark, annDir, Seq(id0).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(id0 -> cell0),
      s"post-crash resolve must find the copy at prev_cell: $got")
  }

  test("appendVectors through the sidecar equals appendVectors through the fallback full scan") {
    val dirA = freshStore() // keeps its sidecar
    val dirB = freshStore()
    // simulate a pre-sidecar store: drop B's sidecar so absorb falls back
    // to the full-projection scan (the documented correct-but-unpruned path)
    val sideB = java.nio.file.Paths.get(IdLayoutSidecar.dir(s"$dirB/ann"))
    java.nio.file.Files.walk(sideB).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    assert(IdLayoutSidecar.exists(s"$dirA/ann"))
    assert(!IdLayoutSidecar.exists(s"$dirB/ann"))
    // a batch that re-homes: every %3 id re-added with a DIFFERENT id's
    // vector (so some assignments change cell), plus fresh ids
    val moved = emb.filter(col("vec_id") % 3 === 0)
      .join(emb.select((col("vec_id") + 1).as("vec_id"),
        col("embedding").as("e2")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("e2"), col("embedding")).as("embedding"))
    val fresh = emb.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .limit(5)
    val batch = moved.unionByName(fresh)
    Hybrid.appendVectors(spark, dirA, batch, "vec_id", "embedding", version = 2L)
    Hybrid.appendVectors(spark, dirB, batch, "vec_id", "embedding", version = 2L)
    def contents(d: String) = TableSink.read(spark, s"$d/ann", annLike)
      .select(col("id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(contents(dirA) == contents(dirB),
      "sidecar-pruned re-home must land the exact table the full-scan path lands")
    // and no id may appear twice (the stale-duplicate hazard re-home exists for)
    val dup = TableSink.read(spark, s"$dirA/ann", annLike)
      .groupBy("id").count().filter(col("count") > 1).count()
    assert(dup == 0L, "no id may survive in two cells")
  }

  test("removeIds keeps the sidecar garbage-free; resolve refuses a never-backfilled table") {
    val annDir = s"${freshStore()}/ann"
    import spark.implicits._
    val (id0, cell0) = fullProjection(annDir).orderBy("id").limit(1)
      .collect().map(r => (r.getLong(0), r.getString(1))).head
    val sideLike = spark.range(0).select(lit(0L).as("id"),
      lit("").as("cell"), lit("").as("prev_cell"))
    def sidecarRows() = TableSink.read(spark, IdLayoutSidecar.dir(annDir), sideLike)
      .filter(col("id") === id0).count()
    // the main-table row alone — the state a crash between a remove's
    // table delete and its removeIds leaves
    TableSink.delete(spark, annDir, Seq((id0, cell0)).toDF("id", "__cell_s"), Seq("id"))
    val got = IdLayoutSidecar.resolve(spark, annDir, Seq(id0).toDF("id")).count()
    assert(got == 0L, "a deleted id must resolve to absent despite its stale sidecar row")
    assert(sidecarRows() == 1L, "the stale sidecar row is still there")
    IdLayoutSidecar.removeIds(spark, annDir, Seq(id0).toDF("id"))
    assert(sidecarRows() == 0L, "removeIds must drop the sidecar row")
    val e = intercept[IllegalArgumentException](
      IdLayoutSidecar.resolve(spark, "/tmp/idmap_nowhere_" + id0, Seq(id0).toDF("id")))
    assert(e.getMessage.contains("sidecar"))
  }
}
