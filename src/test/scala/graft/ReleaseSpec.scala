package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EvalStore, LmStore}
import graft.pipelines.Release
import graft.sources.TableSink

/** Cross-store release manifest: one tag pins a whole constellation.
  *  - freeze → mutate everything → restore: every member returns to its
  *    frozen state;
  *  - the manifest is the commit point (freeze refuses a recorded tag);
  *  - restore refuses a half-restorable release BEFORE anything mutates;
  *  - drop releases every member pin, manifest deleted last;
  *  - verify reports per-member pin health. */
class ReleaseSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private val c0 = docsOf(1L -> "the cat sat on the mat", 2L -> "a dog barks at the cat")
  private val b1 = docsOf(3L -> "the cat runs very fast today")

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def lmState(dir: String): (Set[String], Long) = {
    val (u, b) = LmStore.readModels(spark, dir)
    (u.collect().map(_.getString(0)).toSet, b.count())
  }

  test("freeze -> mutate -> restore returns every member to the frozen state") {
    val mdir = tmp("rel-manifest")
    val lm = tmp("rel-lm") + "/s"
    val ev = tmp("rel-ev") + "/s"
    val tbl = tmp("rel-tbl") + "/t"
    LmStore.init(spark, lm, c0, "text")
    EvalStore.init(spark, ev, "suite_a", c0, "text", n = 2)
    TableSink.upsert(spark, tbl,
      Seq((1L, 10.0, 0L)).toDF("id", "v", "__v"), Seq("id"), "__v")

    val members = Seq(Release.Member("lm", lm), Release.Member("evalstore", ev),
      Release.Member("table", tbl))
    Release.freeze(spark, mdir, "v1", members)
    assert(Release.list(mdir) === Seq("v1"))
    assert(Release.members(mdir, "v1") === members)
    val lmAt = lmState(lm)
    val evAt = EvalStore.probe(spark, ev, b1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // a recorded release is immutable
    val e = intercept[IllegalArgumentException](
      Release.freeze(spark, mdir, "v1", members))
    assert(e.getMessage.contains("already recorded"))

    // mutate every member
    LmStore.append(spark, lm, b1, "text")
    EvalStore.register(spark, ev, "suite_b", b1, "text")
    TableSink.upsert(spark, tbl,
      Seq((2L, 20.0, 1L)).toDF("id", "v", "__v"), Seq("id"), "__v")
    assert(lmState(lm) !== lmAt)

    assert(Release.verify(spark, mdir, "v1").filter(!col("ok")).count() === 0)
    Release.restore(spark, mdir, "v1")
    assert(lmState(lm) === lmAt, "LM must return to the frozen model")
    assert(EvalStore.probe(spark, ev, b1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === evAt,
      "registry must return to the frozen suite set")
    val like = spark.range(0).select(lit(0L).as("id"), lit(0.0).as("v"))
    assert(TableSink.read(spark, tbl, like).count() === 1L,
      "table must return to the frozen generation")
  }

  test("a cell-store member that moved on since the freeze verifies pinned and restores") {
    import graft.operators.SemDedupStore
    val emb = graft.core.Fixtures.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val mdir = tmp("rel-manifest-sem")
    val sem = tmp("rel-sem") + "/s"
    SemDedupStore.init(spark, sem, emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nlist = 4, numBuckets = 8)
    def members() = SemDedupStore.kernel.read(spark, sem).count()
    val at = members()
    Release.freeze(spark, mdir, "v1", Seq(Release.Member("semdedup", sem)))
    SemDedupStore.absorb(spark, sem, emb.filter(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", version = 1L)
    assert(members() > at)
    assert(Release.verify(spark, mdir, "v1").filter(!col("ok")).count() === 0)
    Release.restore(spark, mdir, "v1")
    assert(members() === at, "the member table must return to the frozen generation")
  }

  test("restore refuses a half-restorable release before anything mutates") {
    val mdir = tmp("rel-manifest2")
    val lm = tmp("rel-lm2") + "/s"
    val ev = tmp("rel-ev2") + "/s"
    LmStore.init(spark, lm, c0, "text")
    EvalStore.init(spark, ev, "suite_a", c0, "text", n = 2)
    Release.freeze(spark, mdir, "v1",
      Seq(Release.Member("lm", lm), Release.Member("evalstore", ev)))
    // Tear one member's pin out from under the release.
    EvalStore.dropSnapshot(ev, "v1")
    val rep = Release.verify(spark, mdir, "v1")
    assert(rep.filter(!col("ok")).count() === 1)
    val lmBefore = lmState(lm)
    LmStore.append(spark, lm, b1, "text")
    val e = intercept[IllegalArgumentException](Release.restore(spark, mdir, "v1"))
    assert(e.getMessage.contains("half-restorable"))
    assert(lmState(lm) !== lmBefore, "no member may have been rolled back")
  }

  test("a failed freeze cleans up via the member-list drop and re-runs green") {
    val mdir = tmp("rel-manifest4")
    val lm = tmp("rel-lm4") + "/s"
    LmStore.init(spark, lm, c0, "text")
    val members = Seq(Release.Member("lm", lm),
      Release.Member("evalstore", tmp("rel-ev4") + "/never-inited"))
    // The second member has no store → its snapshot throws AFTER the
    // first member took the tag; no manifest commits.
    intercept[Exception](Release.freeze(spark, mdir, "v1", members))
    assert(Release.list(mdir).isEmpty, "a failed freeze must not record a release")
    assert(graft.sources.DeltaParts.snapshots(lm).contains("v1"),
      "the member snapshotted before the failure holds the tag")
    // The manifest-keyed drop has nothing to read — the member-list
    // overload cleans the half-taken tag (tolerant of never-tagged members).
    intercept[IllegalArgumentException](Release.drop(spark, mdir, "v1"))
    Release.drop(spark, members, "v1")
    assert(!graft.sources.DeltaParts.snapshots(lm).contains("v1"))
    // And the fixed constellation freezes green.
    Release.freeze(spark, mdir, "v1", Seq(Release.Member("lm", lm)))
    assert(Release.list(mdir) === Seq("v1"))
  }

  test("a freeze re-run refuses to re-point a table member that moved on") {
    val mdir = tmp("rel-manifest5")
    val lm = tmp("rel-lm5") + "/never-inited"
    val tbl = tmp("rel-tbl5") + "/t"
    TableSink.upsert(spark, tbl,
      Seq((1L, 10.0, 0L)).toDF("id", "v", "__v"), Seq("id"), "__v")
    val members = Seq(Release.Member("table", tbl), Release.Member("lm", lm))
    // The lm member has no store → freeze fails AFTER the table member
    // took the tag; no manifest commits (the crash-mid-freeze shape).
    intercept[Exception](Release.freeze(spark, mdir, "v1", members))
    assert(Release.list(mdir).isEmpty)
    assert(TableSink.listSnapshots(tbl).contains("v1"))
    // Re-run over an UNCHANGED table: the pre-check accepts the
    // half-taken tag as a no-op and the freeze completes.
    LmStore.init(spark, lm, c0, "text")
    Release.freeze(spark, mdir, "v1", members)
    assert(Release.list(mdir) === Seq("v1"))
    Release.drop(spark, mdir, "v1")
    // Now the dangerous shape: half-taken tag, THEN the table mutates.
    // A bare TableSink.snapshot would silently re-point the tag at the
    // post-mutation generation — the freeze must refuse instead.
    TableSink.snapshot(tbl, "v2")
    TableSink.upsert(spark, tbl,
      Seq((2L, 20.0, 1L)).toDF("id", "v", "__v"), Seq("id"), "__v")
    val e = intercept[IllegalArgumentException](
      Release.freeze(spark, mdir, "v2", Seq(Release.Member("table", tbl))))
    assert(e.getMessage.contains("refusing to re-point"))
    assert(Release.list(mdir).isEmpty, "the refused freeze must not commit")
  }

  test("drop releases every pin and deletes the manifest; unknown kinds refuse") {
    val mdir = tmp("rel-manifest3")
    val lm = tmp("rel-lm3") + "/s"
    LmStore.init(spark, lm, c0, "text")
    Release.freeze(spark, mdir, "v1", Seq(Release.Member("lm", lm)))
    Release.drop(spark, mdir, "v1")
    assert(Release.list(mdir).isEmpty)
    assert(!graft.sources.DeltaParts.snapshots(lm).contains("v1"))
    intercept[IllegalArgumentException](Release.members(mdir, "v1"))
    val e = intercept[IllegalArgumentException](Release.freeze(spark, mdir, "v2",
      Seq(Release.Member("nope", lm))))
    assert(e.getMessage.contains("unknown store kind"))
  }
}
