package graft

import graft.operators.{IvfAnn, SimilarityOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF ANN quality: recall against the exact brute-force kNN must be
  * reasonable and must improve as more cells are probed. */
class AnnSpec extends AnyFunSuite with SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("cosine sketch: near-identical vectors collide, opposite vectors never do") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Seq.tabulate(16)(i => math.sin(i + 1.0))
    val vecs = Seq(
      (1L, base), (2L, base.map(_ * 1.0001)),        // near-dup pair
      (3L, base.map(-_)),                            // antipode
      (4L, Seq.tabulate(16)(i => math.cos(3.0 * i))) // unrelated
    ).toDF("vec_id", "embedding")
    val sk = vecs.select(col("vec_id"),
      graft.operators.SimilarityOps.cosineSketch(col("embedding"), 16).as("sk"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sk(1L) == sk(2L), "scaled copy has the identical sketch")
    assert((sk(1L) ^ sk(3L)) == 0xffff, "antipode flips every bit")
    val pairs = graft.operators.SimilarityOps.sketchCandidatePairs(vecs, "vec_id", "embedding", 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("knnJoinCosine: over-threshold broadcast side re-routes through the cell join, stays exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = Seq.tabulate(400)(i => (i.toLong, Seq.fill(32)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 10)
    def hinted(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.child.output.map(_.name)
    }
    // Reference run on the normal broadcast path (default 10MB threshold).
    val direct = SimilarityOps.knnJoinCosine(q, vecs, "vec_id", "embedding", 5)
    assert(hinted(direct).nonEmpty, "the direct path broadcasts its small side")
    val exact = pairs(direct)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try {
      val routed = SimilarityOps.knnJoinCosine(q, vecs, "vec_id", "embedding", 5,
        broadcastQueries = false, annNlist = 8)
      // No broadcast hint is left: the cells are picked map-side by the
      // centroid kernel, and neither the corpus (neighbor_id/cv) nor the
      // query (query_id/qv) relation is broadcast.
      assert(hinted(routed).isEmpty, s"the re-route broadcast ${hinted(routed)}")
      assert(pairs(routed) == exact, "full-probe cell join must equal brute force")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("IVF recall ≥ 0.7 at nprobe=8/nlist=16 and improves with nprobe") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet").repartition(8).cache()
    val q = e.filter(col("vec_id") < 20)
    val exact = pairs(SimilarityOps.knnJoinCosine(q, e, "vec_id", "embedding", 5))
    val cells = IvfAnn.buildCells(e, "vec_id", "embedding", nlist = 16)
    val corpus = IvfAnn.assignCells(e, "vec_id", "embedding", cells)
    def recall(np: Int): Double = {
      val ann = pairs(IvfAnn.annSearch(q, corpus, cells, "vec_id", "embedding", 5, np))
      (ann & exact).size.toDouble / exact.size
    }
    val r2 = recall(2); val r8 = recall(8)
    assert(r8 >= 0.7, s"recall at nprobe=8 was $r8")
    assert(r8 > r2, s"recall must improve with probes: nprobe2=$r2 nprobe8=$r8")
    // full probe = exact search
    assert(recall(16) == 1.0, "probing all cells must equal brute force")
  }

  test("IVF-SQ8: cells carry tinyint codes, probe recall matches the float IVF") {
    import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType}
    val e = spark.read.parquet(sf() + "/embeddings.parquet").repartition(8).cache()
    val q = e.filter(col("vec_id") < 20)
    val cells = IvfAnn.buildCells(e, "vec_id", "embedding", nlist = 16)
    val corpus = IvfAnn.assignCells(e, "vec_id", "embedding", cells)
    val sq8 = IvfAnn.quantizeCells(corpus, "vec_id", "embedding")
    // The storage claim is structural: codes are BYTES, scale one double.
    assert(sq8.schema("codes").dataType == ArrayType(ByteType),
      s"cells must carry int8 codes, got ${sq8.schema("codes").dataType}")
    assert(sq8.schema("scale").dataType == DoubleType)
    assert(sq8.columns.toSet == Set("cell", "vec_id", "scale", "codes"),
      "no float vector column survives in the quantized store")
    val exact = pairs(SimilarityOps.knnJoinCosine(q, e, "vec_id", "embedding", 5))
    val fl = pairs(IvfAnn.annSearch(q, corpus, cells, "vec_id", "embedding", 5, 8))
    val qz = pairs(IvfAnn.annSearchQuantized(q, sq8, cells, "vec_id", "embedding", 5, 8))
    val rFl = (fl & exact).size.toDouble / exact.size
    val rQz = (qz & exact).size.toDouble / exact.size
    assert(rQz >= 0.7, s"quantized recall at nprobe=8 was $rQz")
    assert(math.abs(rQz - rFl) <= 0.1,
      s"int8 rounding must not change recall materially: float=$rFl quant=$rQz")
  }

  test("persisted IVF-SQ8 index: stored probe == in-memory probe, opening fewer files") {
    import graft.sources.TableSink
    import spark.implicits._
    val e = spark.read.parquet(sf() + "/embeddings.parquet").repartition(8).cache()
    val cells = IvfAnn.buildCells(e, "vec_id", "embedding", nlist = 16)
    val corpus = IvfAnn.assignCells(e, "vec_id", "embedding", cells)
    val sq8 = IvfAnn.quantizeCells(corpus, "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    IvfAnn.writeIndex(spark, dir, sq8, "vec_id", numBuckets = 16)
    val q = e.filter(col("vec_id") < 2)
    val stored = IvfAnn.annSearchQuantizedStored(dir, q, cells, "vec_id", "embedding",
      k = 5, nprobe = 3)
    val mem = IvfAnn.annSearchQuantized(q, sq8, cells, "vec_id", "embedding",
      k = 5, nprobe = 3)
    def full(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full(stored) == full(mem),
      "file-pruned probe must return the identical ranked neighbors")
    // File evidence: the probe's bucket read opens a strict subset.
    val probed = IvfAnn.probedCellIds(q, cells, "vec_id", "embedding", 3)
    val like = spark.range(0).select(lit(0L).as("cell"))
    val pruned = TableSink.readBuckets(spark, dir, like,
      TableSink.bucketIdsFor(spark, dir, probed.map(_.toString))).inputFiles.length
    val all = TableSink.read(spark, dir, like).inputFiles.length
    assert(pruned < all, s"probe must skip unprobed cells' files: $pruned of $all")

    // A wrong path or a non-writeIndex table must fail loudly, never
    // return silently-empty neighbor lists.
    val noIdx = intercept[IllegalArgumentException] {
      IvfAnn.annSearchQuantizedStored(dir + "/nope", q, cells, "vec_id", "embedding",
        k = 5, nprobe = 3)
    }
    assert(noIdx.getMessage.contains("no persisted ANN index"))
    val plainDir = java.nio.file.Files.createTempDirectory("plaintbl").toString
    TableSink.upsert(spark, plainDir,
      sq8.withColumn("__v", lit(0L)), Seq("vec_id"), "__v") // key-hash, no layout
    val noLayout = intercept[IllegalArgumentException] {
      IvfAnn.annSearchQuantizedStored(plainDir, q, cells, "vec_id", "embedding",
        k = 5, nprobe = 3)
    }
    assert(noLayout.getMessage.contains("no layout column"))

    // Incremental add: new vectors join their existing cells' buckets —
    // O(batch) maintenance, and the probe finds them immediately.
    def manifest(): Map[Int, String] = {
      val name = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "_CURRENT")).trim
      scala.jdk.CollectionConverters.ListHasAsScala(java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(dir, "_manifests", name))).asScala
        .filter(_.contains('\t'))
        .map { l => val Array(b, p) = l.split('\t'); b.toInt -> p }.toMap
    }
    val before = manifest()
    // duplicate vector 3 under a fresh id: lands in 3's cell, and a probe
    // from vector 3 must now see it at similarity ~1.
    val fresh = e.filter(col("vec_id") === 3)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    IvfAnn.appendToIndex(spark, dir, fresh, cells, "vec_id", "embedding", version = 1L)
    val after = manifest()
    val changed = after.filter { case (b, p) => before.get(b).exists(_ != p) }.keySet ++
      (after.keySet -- before.keySet)
    assert(changed.nonEmpty && changed.size <= 1,
      s"one new vector must dirty exactly its cell's bucket: $changed")
    assert((before.keySet -- changed).forall(b => after(b) == before(b)),
      "all other index buckets keep their files")
    val found = IvfAnn.annSearchQuantizedStored(dir,
        e.filter(col("vec_id") === 3), cells, "vec_id", "embedding", k = 3, nprobe = 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(found.contains(9999L) && found(9999L) > 0.99,
      s"appended vector must be servable immediately: $found")

    // Re-adding an id whose vector moved cells is a layout migration:
    // the old copy must vanish from its old cell in the same commit.
    val like2 = spark.range(0).select(lit(0L).as("vec_id"), lit("").as("__cell_s"))
    def cellOf(id: Long): Set[String] = TableSink.read(spark, dir, like2)
      .filter(col("vec_id") === id).select("__cell_s")
      .collect().map(_.getString(0)).toSet
    val before9999 = cellOf(9999L)
    // move 9999 onto vector 7's embedding (a different cluster)
    val moved = e.filter(col("vec_id") === 7)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    IvfAnn.appendToIndex(spark, dir, moved, cells, "vec_id", "embedding", version = 2L)
    val after9999 = cellOf(9999L)
    assert(after9999.size == 1, s"exactly one copy after the move: $after9999")
    // The fixture must actually migrate cells, or the rehome path went
    // untested (vectors 3 and 7 sit in different IVF cells).
    assert(after9999 != before9999,
      s"fixture must move 9999 to a new cell: $before9999 -> $after9999")
    val moved9999 = IvfAnn.annSearchQuantizedStored(dir,
        e.filter(col("vec_id") === 7), cells, "vec_id", "embedding", k = 3, nprobe = 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(moved9999.contains(9999L) && moved9999(9999L) > 0.99,
      s"moved vector serves from its NEW cell: $moved9999")

    // Incremental REMOVE (dedup verdict / takedown propagation): victims
    // located via the column-pruned (id, cell) scan, only their cells'
    // buckets rewrite, absent ids are no-ops, and the probe never serves
    // a removed vector again.
    val beforeRm = manifest()
    def addedOf(m: String): Long =
      "added=(\\d+)".r.findFirstMatchIn(m).get.group(1).toLong
    val addedBefore = addedOf(TableSink.metaOf(dir).get)
    IvfAnn.removeFromIndex(spark, dir,
      Seq(9999L, 123456789L).toDF("vec_id"), "vec_id")
    val afterRm = manifest()
    val rmChanged = afterRm.filter { case (b, p) => beforeRm.get(b).exists(_ != p) }.keySet
    assert(rmChanged.nonEmpty && rmChanged.size < afterRm.size,
      s"only the victims' buckets rewrite: $rmChanged of ${afterRm.size}")
    val servedAfterRm = IvfAnn.annSearchQuantizedStored(dir,
        e.filter(col("vec_id") === 7), cells, "vec_id", "embedding",
        k = 5, nprobe = 16)
      .collect().map(_.getLong(1)).toSet
    assert(!servedAfterRm.contains(9999L), "removed vector must never serve")
    val likeId = spark.range(0).select(lit(0L).as("vec_id"))
    assert(TableSink.read(spark, dir, likeId)
      .filter(col("vec_id") === 9999L).count() == 0L, "row physically gone")
    // and the removal advanced the staleness accounting by exactly the
    // ONE real victim (deletions are drift away from the fitted
    // distribution — ignoring them would DELAY the rebuild cue; the
    // absent id contributes nothing)
    assert(addedOf(TableSink.metaOf(dir).get) == addedBefore + 1,
      s"removal must count real victims into added: " +
        s"$addedBefore -> ${TableSink.metaOf(dir).get}")
  }

  test("staleness trigger: drifted adds fire needsRebuild; rebuild restores the recall contract") {
    import graft.sources.TableSink
    val e = spark.read.parquet(sf() + "/embeddings.parquet").repartition(8).cache()
    val nTotal = e.count()
    // Centroids fitted on a MINORITY slice of the corpus, then the rest
    // appended under those fixed centroids — the drift scenario the
    // accounting exists to catch (added/base well past the 0.5 default).
    val fitted = e.filter(col("vec_id") % 5 === 0)
    val drifted = e.filter(col("vec_id") % 5 =!= 0)
    val cells0 = IvfAnn.buildCells(fitted, "vec_id", "embedding", nlist = 16)
    val sq80 = IvfAnn.quantizeCells(
      IvfAnn.assignCells(fitted, "vec_id", "embedding", cells0), "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfstale").toString
    IvfAnn.writeIndex(spark, dir, sq80, "vec_id", numBuckets = 16)
    assert(!IvfAnn.needsRebuild(dir),
      "a freshly built index carries no staleness")
    IvfAnn.appendToIndex(spark, dir, drifted, cells0, "vec_id", "embedding",
      version = 1L)
    assert(IvfAnn.needsRebuild(dir),
      "adds past the fraction of the fitted base must cue a rebuild")
    // The rebuild re-fits centroids on the FULL corpus, atomically
    // replaces the index, resets the accounting, and hands back the
    // centroids the store must now be probed with — under which the
    // standard recall contract of this suite holds again.
    val cells1 = IvfAnn.rebuildIndex(spark, dir, e, "vec_id", "embedding", nlist = 16)
    assert(!IvfAnn.needsRebuild(dir), "rebuild must reset the staleness accounting")
    val like = spark.range(0).select(lit(0L).as("vec_id"))
    assert(TableSink.read(spark, dir, like).count() == nTotal,
      "rebuilt index must hold exactly the corpus")
    val q = e.filter(col("vec_id") < 20)
    val exact = pairs(SimilarityOps.knnJoinCosine(q, e, "vec_id", "embedding", 5))
    val stored = pairs(IvfAnn.annSearchQuantizedStored(dir, q, cells1,
      "vec_id", "embedding", k = 5, nprobe = 8))
    val recall = (stored & exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"rebuilt index must restore recall >= 0.7, got $recall")
    // Unknown provenance (no parseable accounting) also cues a rebuild.
    val legacy = java.nio.file.Files.createTempDirectory("ivflegacy").toString
    TableSink.upsert(spark, legacy,
      sq80.withColumn("__cell_s", col("cell").cast("string")).withColumn("__v", lit(0L)),
      Seq("vec_id"), "__v", numBuckets = 16, layoutCol = Some("__cell_s"))
    assert(IvfAnn.needsRebuild(legacy),
      "an index without staleness accounting must report rebuild-needed")
  }

  test("maintain: append → append → maintain fires exactly one rebuild and restores recall") {
    import graft.sources.TableSink
    val e = spark.read.parquet(sf() + "/embeddings.parquet").repartition(8).cache()
    // Fit on a fifth of the corpus (base = n/5); the first append stays
    // under the 0.5 added/base default (n/20 rows → ratio 0.25), the
    // second blows past it — the scheduled maintain call after each
    // cycle must rebuild exactly once, on the second cycle.
    val fitted = e.filter(col("vec_id") % 5 === 0)
    val small = e.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 20 === 1)
    val rest = e.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 20 =!= 1)
    val cells0 = IvfAnn.buildCells(fitted, "vec_id", "embedding", nlist = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfmaint").toString
    IvfAnn.writeIndex(spark, dir, IvfAnn.quantizeCells(
      IvfAnn.assignCells(fitted, "vec_id", "embedding", cells0),
      "vec_id", "embedding"), "vec_id", numBuckets = 16)

    var serving = cells0
    var rebuilds = 0
    def cycle(batch: org.apache.spark.sql.DataFrame, version: Long): Unit = {
      IvfAnn.appendToIndex(spark, dir, batch, serving, "vec_id", "embedding",
        version)
      IvfAnn.maintain(spark, dir, e, "vec_id", "embedding", nlist = 16).foreach { c =>
        serving = c; rebuilds += 1
      }
    }
    cycle(small, 1L)
    assert(rebuilds == 0, "an under-threshold cycle must not rebuild")
    cycle(rest, 2L)
    assert(rebuilds == 1, "the over-threshold cycle must rebuild once")
    // Accounting reset: an immediate re-maintain is a no-op.
    assert(IvfAnn.maintain(spark, dir, e, "vec_id", "embedding", nlist = 16).isEmpty)
    assert(rebuilds == 1)
    // And the rebuilt index serves the full corpus at contract recall
    // under the centroids maintain handed back.
    val like = spark.range(0).select(lit(0L).as("vec_id"))
    assert(TableSink.read(spark, dir, like).count() == e.count())
    val q = e.filter(col("vec_id") < 20)
    val exact = pairs(SimilarityOps.knnJoinCosine(q, e, "vec_id", "embedding", 5))
    val stored = pairs(IvfAnn.annSearchQuantizedStored(dir, q, serving,
      "vec_id", "embedding", k = 5, nprobe = 8))
    val recall = (stored & exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"maintained index must serve recall >= 0.7, got $recall")
  }
}
