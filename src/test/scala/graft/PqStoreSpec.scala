package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfAnn, PqOps, PqStore}

/** PQ at rest: the stored probe must be indistinguishable from the
  * in-memory search over the same reconstruction, appends fold in
  * O(batch) under the fixed (cells, codebook), removals never serve,
  * and the codebook round-trips. */
class PqStoreSpec extends AnyFunSuite with SparkSpec {

  private val Dim = 64
  private lazy val ed = graft.core.Fixtures.load(spark, sf(), "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    .localCheckpoint(true)
  private lazy val base = ed.filter(col("vec_id") % 5 =!= 0).localCheckpoint(true)
  private lazy val extra = ed.filter(col("vec_id") % 5 === 0).localCheckpoint(true)
  // Cells and codebook are FITTED on the base slice — the store
  // contract is fixed parameters between rebuilds.
  private lazy val cells = IvfAnn.buildCells(base, "vec_id", "embedding", nlist = 8)
  private lazy val cb = {
    val wc = IvfAnn.assignCells(base, "vec_id", "embedding", cells)
      .join(broadcast(cells), col("cell") === col("cell_id"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("cell_vec"), (x, y) => x - y).as("resid"))
    PqOps.trainCodebooks(wc, "vec_id", "resid", m = 8, ksub = 16, dim = Dim)
  }
  private lazy val queries = ed.filter(col("vec_id") < 10).localCheckpoint(true)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("pqstore").toString + "/ix"

  private def coded(of: DataFrame): DataFrame = PqStore.encodeResiduals(
    IvfAnn.assignCells(of, "vec_id", "embedding", cells),
    cells, "vec_id", "embedding", cb, Dim)

  private def memorySearch(of: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val recon = coded(of)
      .join(broadcast(cells), col("cell") === col("cell_id"))
      .select(col("cell"), col("vec_id"),
        zip_with(col("cell_vec"), PqOps.reconstruct(col("codes"), cb),
          (a, b) => a + b).as("embedding"))
    IvfAnn.annSearch(queries, recon, cells, "vec_id", "embedding", k, nprobe)
  }

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("stored probe == in-memory search over the same reconstruction") {
    val dir = tmp()
    PqStore.write(spark, dir, coded(base), "vec_id", numBuckets = 16)
    val stored = PqStore.search(dir, queries, cells, cb, "vec_id", "embedding",
      k = 5, nprobe = 3)
    assert(rows(stored) === rows(memorySearch(base, 5, 3)))
  }

  test("append folds new ids in O(batch): search == one-shot store over the union") {
    val dir = tmp()
    PqStore.write(spark, dir, coded(base), "vec_id", numBuckets = 16)
    PqStore.append(spark, dir, extra, cells, "vec_id", "embedding", cb, Dim,
      version = 1L)
    val stored = PqStore.search(dir, queries, cells, cb, "vec_id", "embedding",
      k = 5, nprobe = 3)
    assert(rows(stored) === rows(memorySearch(ed, 5, 3)))
  }

  test("removed ids never serve; survivors answer as a fresh store") {
    val dir = tmp()
    PqStore.write(spark, dir, coded(ed), "vec_id", numBuckets = 16)
    val victims = ed.filter(col("vec_id") % 3 === 0)
    PqStore.remove(spark, dir, victims.select("vec_id"), "vec_id")
    val stored = PqStore.search(dir, queries, cells, cb, "vec_id", "embedding",
      k = 5, nprobe = 3)
    assert(stored.join(victims.select(col("vec_id").as("neighbor_id")),
      Seq("neighbor_id"), "left_semi").isEmpty)
    assert(rows(stored) === rows(memorySearch(ed.filter(col("vec_id") % 3 =!= 0), 5, 3)))
  }

  test("append refuses colliding ids loudly; the store is untouched") {
    val dir = tmp()
    PqStore.write(spark, dir, coded(base), "vec_id", numBuckets = 16)
    PqStore.append(spark, dir, extra, cells, "vec_id", "embedding", cb, Dim,
      version = 1L)
    // Re-appending ids the store already holds: the one silent-corruption
    // door the store family never allows — must refuse, not double-encode.
    val e = intercept[IllegalArgumentException](
      PqStore.append(spark, dir, extra, cells, "vec_id", "embedding", cb, Dim,
        version = 2L))
    assert(e.getMessage.contains("already holds"))
    assert(rows(PqStore.search(dir, queries, cells, cb, "vec_id", "embedding",
      k = 5, nprobe = 3)) === rows(memorySearch(ed, 5, 3)),
      "the refused append must not have mutated the store")
    // Exactly one live copy per id (no second generation of codes).
    val like = spark.range(0).select(lit(0L).as("cell"),
      lit(0L).as("vec_id"), array().cast("array<tinyint>").as("codes"))
    val dupIds = graft.sources.TableSink.read(spark, dir, like)
      .groupBy("vec_id").count().filter(col("count") > 1)
    assert(dupIds.isEmpty, "every id must have exactly one live row")
  }

  test("remove-then-append of the same ids is the legal re-home path; a sidecar-less store adopts on append") {
    val dir = tmp()
    PqStore.write(spark, dir, coded(ed), "vec_id", numBuckets = 16)
    PqStore.remove(spark, dir, extra.select("vec_id"), "vec_id")
    // Simulate a pre-sidecar store: drop the sidecar — append must
    // adopt it (one column-pruned backfill) and still answer correctly.
    graft.sources.IdLayoutSidecar.drop(dir)
    PqStore.append(spark, dir, extra, cells, "vec_id", "embedding", cb, Dim,
      version = 1L)
    assert(rows(PqStore.search(dir, queries, cells, cb, "vec_id", "embedding",
      k = 5, nprobe = 3)) === rows(memorySearch(ed, 5, 3)))
    // And the adopted sidecar now refuses a second copy.
    val e = intercept[IllegalArgumentException](
      PqStore.append(spark, dir, extra, cells, "vec_id", "embedding", cb, Dim,
        version = 2L))
    assert(e.getMessage.contains("already holds"))
  }

  test("a probe opens only the probed cells' buckets") {
    val dir = tmp()
    PqStore.write(spark, dir, coded(ed), "vec_id", numBuckets = 16)
    val probed = IvfAnn.probedCellIds(queries, cells, "vec_id", "embedding", 2)
    val opened = graft.sources.TableSink.bucketIdsFor(
      spark, dir, probed.map(_.toString)).size
    assert(probed.nonEmpty && opened <= probed.size)
    assert(opened < 16, s"probe opened all $opened buckets — no pruning")
  }

  test("appends trip needsRebuild; maintain refits cells+codebook once and the store becomes self-contained") {
    val dir = tmp()
    PqStore.write(spark, dir, coded(base), "vec_id", numBuckets = 16)
    assert(!PqStore.needsRebuild(dir, maxAddedFraction = 0.2),
      "a fresh fit must not cue a rebuild")
    // extra is 1/4 of base → trips a 0.2 threshold, not the 0.5 default.
    PqStore.append(spark, dir, extra, cells, "vec_id", "embedding", cb, Dim,
      version = 1L)
    assert(PqStore.needsRebuild(dir, maxAddedFraction = 0.2),
      "the append volume must trip the staleness cue")
    val refit = PqStore.maintain(spark, dir, ed, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, dim = Dim, maxAddedFraction = 0.2)
    assert(refit.isDefined, "a tripped cue must fire exactly one rebuild")
    assert(!PqStore.needsRebuild(dir, maxAddedFraction = 0.2),
      "rebuild must reset the accounting")
    assert(PqStore.maintain(spark, dir, ed, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, dim = Dim, maxAddedFraction = 0.2).isEmpty,
      "an immediate re-maintain must be a no-op")
    val (cells2, cb2) = refit.get
    // Self-contained: the fit reads back through the manifest pointer
    // and equals what rebuild returned.
    val rCells = PqStore.readCells(spark, dir)
    def cellMap(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cellMap(rCells) == cellMap(cells2),
      "readCells must resolve the refit cells through the manifest pointer")
    val rCb = PqStore.readCodebook(spark, dir)
    assert(rCb.zip(cb2).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.toSeq == y.toSeq } },
      "readCodebook must resolve the refit codebook")
    // The rebuilt store probes exactly like an in-memory search under
    // the SAME refit (cells2, cb2) over the union.
    val stored = PqStore.search(dir, queries, rCells, rCb,
      "vec_id", "embedding", k = 5, nprobe = 3)
    val recon2 = PqStore.encodeResiduals(
        IvfAnn.assignCells(ed, "vec_id", "embedding", cells2),
        cells2, "vec_id", "embedding", cb2, Dim)
      .join(broadcast(cells2), col("cell") === col("cell_id"))
      .select(col("cell"), col("vec_id"),
        zip_with(col("cell_vec"), PqOps.reconstruct(col("codes"), cb2),
          (a, b) => a + b).as("embedding"))
    val mem = IvfAnn.annSearch(queries, recon2, cells2,
      "vec_id", "embedding", k = 5, nprobe = 3)
    assert(rows(stored) === rows(mem),
      "the rebuilt store must probe exactly like the in-memory refit search")
  }

  test("fsck: caller-held-fit and rebuilt stores audit clean; a vanished fit codebook is flagged") {
    val dir = tmp()
    PqStore.write(spark, dir, coded(base), "vec_id", numBuckets = 16)
    def bad(df: DataFrame): Set[String] = df.filter(!col("ok"))
      .select("check").collect().map(_.getString(0)).toSet
    assert(bad(PqStore.fsck(spark, dir)).isEmpty,
      "a never-rebuilt store's caller-held fit must not flag")
    PqStore.rebuild(spark, dir, ed, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, dim = Dim)
    assert(bad(PqStore.fsck(spark, dir)).isEmpty,
      "a healthy rebuilt store must audit clean")
    // corruption: the live fit's codebook vanishes → probes impossible
    val fit = graft.sources.IndexMeta.cellsPtr(dir)
      .getOrElse(fail("a rebuilt store must carry a fit pointer"))
    graft.sources.DeltaParts.rmDir(s"$dir/$fit/codebook")
    assert(bad(PqStore.fsck(spark, dir)) === Set("fit_codebook_resolves"))
  }

  test("a held writer lease refuses a concurrent append; state serves after release") {
    val dir = tmp()
    PqStore.write(spark, dir, coded(base), "vec_id", numBuckets = 16)
    graft.sources.WriterLease.withLease(dir, "spec-holder") {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() =>
        try { PqStore.append(spark, dir, extra, cells, "vec_id", "embedding",
          cb, Dim, version = 1L) }
        catch { case x: Throwable => err.set(x) })
      t.start(); t.join(60000)
      assert(err.get() != null && err.get()
        .isInstanceOf[graft.sources.WriterLease.ConcurrentWriterException],
        s"expected a loud concurrent-writer refusal, got ${err.get()}")
    }
    PqStore.append(spark, dir, extra, cells, "vec_id", "embedding", cb, Dim,
      version = 1L)
    val stored = PqStore.search(dir, queries, cells, cb, "vec_id", "embedding",
      k = 5, nprobe = 3)
    assert(rows(stored) === rows(memorySearch(ed, 5, 3)))
  }

  test("codebook round-trips through the sidecar parquet") {
    val dir = tmp()
    PqStore.writeCodebook(spark, dir, cb)
    val back = PqStore.readCodebook(spark, dir)
    assert(back.length === cb.length)
    assert(back.zip(cb).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.toSeq == y.toSeq } })
  }

  test("snapshot pins codes+fit; restore rolls back; _codebook frozen once tagged") {
    val dir = tmp()
    PqStore.write(spark, dir, coded(base), "vec_id", numBuckets = 16)
    PqStore.writeCodebook(spark, dir, cb)
    PqStore.snapshot(dir, "v1")
    assert(PqStore.snapshotPinned(dir, "v1"))
    val before = rows(PqStore.search(dir, queries, cells, cb, "vec_id",
      "embedding", k = 5, nprobe = 8))
    // `_codebook` is pinned state now — a rewrite must refuse.
    val e = intercept[IllegalArgumentException](
      PqStore.writeCodebook(spark, dir, cb))
    assert(e.getMessage.contains("pinned state"))
    // Mutate, then roll back: the restored search replays byte-identically.
    PqStore.append(spark, dir, extra, cells, "vec_id", "embedding", cb, Dim,
      version = 1L)
    assert(rows(PqStore.search(dir, queries, cells, cb, "vec_id", "embedding",
      k = 5, nprobe = 8)) !== before, "the append must be visible live")
    PqStore.restore(dir, "v1")
    assert(rows(PqStore.search(dir, queries, cells, cb, "vec_id", "embedding",
      k = 5, nprobe = 8)) === before)
    PqStore.dropSnapshot(dir, "v1")
    assert(!PqStore.snapshotPinned(dir, "v1"))
  }

  test("snapshot is idempotent-or-refuse: unchanged re-take no-op, moved store refuses") {
    val dir = tmp()
    PqStore.write(spark, dir, coded(base), "vec_id", numBuckets = 16)
    PqStore.snapshot(dir, "v1")
    val pinned = graft.sources.TableSink.listSnapshots(dir)("v1")
    // Re-take over an UNCHANGED store: a crashed Release.freeze re-run —
    // must be a no-op, never a re-point.
    PqStore.snapshot(dir, "v1")
    assert(graft.sources.TableSink.listSnapshots(dir)("v1") === pinned)
    // Mutate, then re-take the same tag: silent re-pointing would commit
    // post-mutation state under the old name — must refuse loudly.
    PqStore.append(spark, dir, extra, cells, "vec_id", "embedding", cb, Dim,
      version = 1L)
    val e = intercept[IllegalArgumentException](PqStore.snapshot(dir, "v1"))
    assert(e.getMessage.contains("refusing to re-point"))
    assert(graft.sources.TableSink.listSnapshots(dir)("v1") === pinned,
      "the refused snapshot must not have moved the pin")
    // Rollback-retry (the crash shape the pre-check must NOT block):
    // restore republishes the pinned state under a NEW generation with
    // identical content — re-taking the tag is a no-op completion, not
    // a refusal (content compare, not sequence compare).
    PqStore.restore(dir, "v1")
    assert(!graft.sources.TableSink.currentSeq(dir).contains(pinned),
      "restore publishes a new generation")
    PqStore.snapshot(dir, "v1")
    assert(graft.sources.TableSink.listSnapshots(dir)("v1") === pinned)
  }

  test("restore drops the sidecar before the flip: at each crash point, across a rebuild, a colliding append refuses and no id serves twice") {
    import graft.sources.{IdLayoutSidecar, TableSink}
    val dir = tmp()
    PqStore.write(spark, dir, coded(base), "vec_id", numBuckets = 16)
    PqStore.snapshot(dir, "v1")
    val before = rows(PqStore.search(dir, queries, cells, cb, "vec_id", "embedding",
      k = 5, nprobe = 8))
    // The rebuild re-homes every row, and the re-seeded sidecar maps
    // each id to its refit cell.
    PqStore.rebuild(spark, dir, base, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, dim = Dim)
    val clash = base.filter(col("vec_id") % 7 === 0)
    val like = spark.range(0).select(lit(0L).as("cell"),
      lit(0L).as("vec_id"), array().cast("array<tinyint>").as("codes"))
    def holds(liveCells: DataFrame, liveCb: PqOps.Codebook): Unit = {
      val e = intercept[IllegalArgumentException](
        PqStore.append(spark, dir, clash, liveCells, "vec_id", "embedding", liveCb,
          Dim, version = 9L))
      assert(e.getMessage.contains("already holds"), e.getMessage)
      assert(TableSink.read(spark, dir, like).groupBy("vec_id").count()
        .filter(col("count") > 1).isEmpty, "every id must have exactly one live row")
    }
    // Crash point 1: sidecar dropped, table not flipped (the rebuilt
    // generation and its fit stay live).
    IdLayoutSidecar.drop(dir)
    holds(PqStore.readCells(spark, dir), PqStore.readCodebook(spark, dir))
    // Crash point 2: sidecar dropped and table flipped, not backfilled.
    IdLayoutSidecar.drop(dir)
    TableSink.restore(dir, "v1")
    holds(cells, cb)
    // The restore re-run completes: sidecar re-seeded over the restored
    // layout, the pre-rebuild state serves exactly.
    PqStore.restore(dir, "v1")
    assert(IdLayoutSidecar.exists(dir))
    holds(cells, cb)
    assert(rows(PqStore.search(dir, queries, cells, cb, "vec_id", "embedding",
      k = 5, nprobe = 8)) === before)
  }
}
