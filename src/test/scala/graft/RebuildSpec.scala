package graft

import graft.operators.{SemDedupStore, SimilarityOps}
import graft.pipelines.Hybrid
import graft.sources.{IdLayoutSidecar, TableSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The centroid-refit lifecycle for the cluster-laid-out standing stores
 * ([[Hybrid]]'s ANN leg, [[SemDedupStore]]): fixed centroids erode
 * recall as absorbs/removals drift the corpus from the fit, the
 * manifest-borne staleness accounting ([[graft.sources.IndexMeta]])
 * turns that drift into a cue, and `rebuild` refits FROM THE STORED
 * MEMBERS and swaps table + centroids atomically (one generation flip
 * carrying the centroid pointer). Pinned here: the trigger trips and
 * resets; the rebuilt store serves exactly the union it holds;
 * `rebuild` ≡ a fresh init over the same members under the same
 * centroids; snapshots taken before the rebuild replay identically
 * after it; the id→layout sidecar is dropped and re-backfilled across
 * the swap (re-home stays correct at every point).
 */
class RebuildSpec extends AnyFunSuite with SparkSpec {

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private lazy val queries = docs.filter(col("doc_id") % 11 === 0)
    .select(col("doc_id").as("qid"),
      graft.functions.text.firstKTokens(col("text"), 5).as("qtext"))
    .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")

  private def semSet(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet

  test("Hybrid: appends trip needsRebuild; maintain refits once, resets accounting, serves the union exactly") {
    val dir = java.nio.file.Files.createTempDirectory("hyb_rebuild").toString
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    Hybrid.init(spark, dir, docs, "doc_id", "text",
      half, "vec_id", "embedding", nlist = 8)
    assert(!Hybrid.needsRebuild(dir), "a fresh fit must not cue a rebuild")
    Hybrid.appendVectors(spark, dir, rest, "vec_id", "embedding", version = 1L)
    assert(Hybrid.needsRebuild(dir),
      "appending ~the fitted volume again must trip the staleness cue")
    val rebuilt = Hybrid.maintain(spark, dir, nlist = 8)
    assert(rebuilt.isDefined, "a tripped cue must fire exactly one rebuild")
    assert(!Hybrid.needsRebuild(dir), "rebuild must reset the accounting")
    assert(Hybrid.maintain(spark, dir, nlist = 8).isEmpty,
      "an immediate re-maintain must be a no-op")
    // Centroid pointer: the serving path resolves the POST-rebuild set.
    val served = Hybrid.readCells(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val returned = rebuilt.get.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(served == returned,
      "readCells must resolve the rebuilt centroids through the manifest pointer")
    // Union correctness: full probe (nprobe = nlist = exact) equals
    // brute-force kNN over everything the store absorbed.
    val stored = Hybrid.semanticRun(spark, dir, queries, "qid", "qvec",
      k = 10, nprobe = 8)
    val exact = SimilarityOps.knnJoinCosine(
      emb.join(queries.select(col("qid").as("vec_id")), "vec_id"),
      emb, "vec_id", "embedding", k = 10, excludeSelf = false)
    assert(semSet(stored) == semSet(exact),
      "the rebuilt store at full probe must serve exact kNN over the union")
    // The sidecar survived the swap (dropped, then backfilled) and the
    // O(batch) re-home path still lands single copies.
    assert(IdLayoutSidecar.exists(s"$dir/ann"),
      "rebuild must re-backfill the id→cell sidecar")
    val like = spark.range(0).select(lit(0L).as("cell"), lit(0L).as("id"),
      array().cast("array<double>").as("vec"))
    val byCell = TableSink.read(spark, s"$dir/ann", like)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1))
    val (idA, cellA) = byCell.head
    val donor = byCell.find(_._2 != cellA)
    assume(donor.isDefined, "fixture must span at least two cells")
    Hybrid.appendVectors(spark, dir,
      emb.filter(col("vec_id") === donor.get._1)
        .select(lit(idA).as("vec_id"), col("embedding")),
      "vec_id", "embedding", version = 2L)
    val rows = TableSink.read(spark, s"$dir/ann", like)
      .filter(col("id") === idA).select("cell").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(donor.get._2),
      s"post-rebuild re-home must land exactly one copy in the new cell: $rows")
  }

  test("Hybrid: a snapshot taken before the rebuild replays identically after it") {
    val dir = java.nio.file.Files.createTempDirectory("hyb_rebuild_snap").toString
    Hybrid.init(spark, dir, docs, "doc_id", "text",
      emb, "vec_id", "embedding", nlist = 8)
    def run(tag: Option[String]) = Hybrid.search(spark, dir, queries,
        "qid", "qtext", "qvec", k = 10, kPerRun = 20, nprobe = 8,
        maxDfFrac = 1.0, tag = tag)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    Hybrid.snapshot(spark, dir, "pre-refit")
    val before = run(Some("pre-refit"))
    // Drift the store (fresh ids shifted into a different region), then
    // refit — the rebuild swaps generation, centroids, and sidecar.
    Hybrid.appendVectors(spark, dir,
      emb.select((col("vec_id") + 500000L).as("vec_id"),
        reverse(col("embedding")).as("embedding")),
      "vec_id", "embedding", version = 1L)
    Hybrid.rebuild(spark, dir, nlist = 8)
    assert(run(Some("pre-refit")) == before,
      "the pinned pre-rebuild state must replay byte-identically after the swap")
    assert(run(None) != before, "the live search must see the drifted corpus")
    Hybrid.dropSnapshot(spark, dir, "pre-refit")
  }

  test("SemDedupStore: absorbs trip needsRebuild; rebuild ≡ fresh init over the same members under the same centroids") {
    val dirA = java.nio.file.Files.createTempDirectory("sem_rebuild_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("sem_rebuild_b").toString
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    SemDedupStore.init(spark, dirA, half, "vec_id", "embedding", nlist = 8)
    assert(!SemDedupStore.needsRebuild(dirA))
    SemDedupStore.absorb(spark, dirA, rest, "vec_id", "embedding",
      version = 1L)
    assert(SemDedupStore.needsRebuild(dirA),
      "absorbing ~the fitted volume again must trip the staleness cue")
    val cells = SemDedupStore.maintain(spark, dirA, nlist = 8)
    assert(cells.isDefined && !SemDedupStore.needsRebuild(dirA))
    assert(SemDedupStore.maintain(spark, dirA, nlist = 8).isEmpty)
    assert(IdLayoutSidecar.exists(s"$dirA/members"),
      "rebuild must re-backfill the id→cluster sidecar")
    // Equality gate: a FRESH store initialized over the same members
    // under the SAME refit centroids must return identical verdicts.
    SemDedupStore.initWithCentroids(spark, dirB, emb, cells.get,
      "vec_id", "embedding", "cell_id", "cell_vec")
    val batch = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    def verdicts(d: String) = SemDedupStore
      .probe(spark, d, batch, "vec_id", "embedding", eps = 0.99)
      .select(col("id"), col("cluster_id"), round(col("centroid_sim"), 6), col("kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toSet
    assert(verdicts(dirA) == verdicts(dirB),
      "a rebuilt store must probe exactly like a fresh init over the same members")
  }
}
