package graft

import graft.operators.{IvfAnn, PqOps, PqStore, SemDedupStore}
import graft.pipelines.{Admission, Hybrid}
import graft.sources.{AdditiveStore, BucketedParts, StoreRead, TableSink}
import org.apache.hadoop.fs.Path
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Serving reads run no Spark job before their real query: every store
 * read hands Spark a footer-derived schema ([[StoreRead]]) equal to the
 * one inference would have produced, the BM25 term list collects
 * without a shuffle, and every IVF probe picks its cells map-side with
 * the centroid kernel, in the former window form's exact order.
 */
class ReadJobsSpec extends AnyFunSuite with SparkSpec {

  private class JobCounter extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  }

  /** Counts only the jobs of SQL executions whose plan scans `dir`. */
  private final class ScanJobCounter(dir: String) extends JobCounter {
    private val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    private def scans(p: SparkPlanInfo): Boolean =
      p.metadata.get("Location").exists(l => l.contains(s"$dir]") || l.contains(s"$dir,")) ||
        p.children.exists(scans)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if scans(s.sparkPlanInfo) => execs.add(s.executionId); ()
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .filter(id => execs.contains(id.toLong)).foreach(_ => super.onJobStart(e))
  }

  /** `body`'s result and the number of Spark jobs `c` counted while it ran. */
  private def counted[T](c: JobCounter)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(c)
    try {
      val out = body
      TestBus.drain(sc)
      (out, c.jobs.get)
    } finally sc.removeSparkListener(c)
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = counted(new JobCounter)(body)

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private lazy val hybridDir = {
    val dir = tmp("readjobs_hybrid")
    Hybrid.init(spark, dir, docs, "doc_id", "text", emb, "vec_id", "embedding", nlist = 8)
    dir
  }

  /** A keyed table whose live buckets span three generations of
    * different widths and column orders. */
  private lazy val mixedDir = {
    import spark.implicits._
    val dir = tmp("readjobs_mixed")
    TableSink.upsert(spark, dir, (1L to 12L).map(k => (k, s"v$k", 0L)).toDF("k", "v", "__v"),
      Seq("k"), "__v", numBuckets = 4)
    TableSink.upsert(spark, dir, Seq((3L, "w3", 2.5, 1L)).toDF("k", "v", "extra", "__v"),
      Seq("k"), "__v")
    TableSink.upsert(spark, dir, Seq((2L, Option.empty[Double], "z", "w2", 7)).toDF("__v", "extra", "z", "v", "k")
      .select(col("__v").cast("long"), col("z"), col("k").cast("long"), col("v"), col("extra")),
      Seq("k"), "__v")
    dir
  }

  private def bucketDirs(dir: String, like: DataFrame): Seq[String] =
    TableSink.read(spark, dir, like).inputFiles.map(f => new Path(f).getParent.toString)
      .distinct.sorted.toSeq

  private def inferred(paths: Seq[String], merge: Boolean): StructType =
    spark.read.option("mergeSchema", merge.toString).parquet(paths: _*).schema

  test("the pinned schema equals inference on mixed-width TableSink generations") {
    val like = spark.range(0).select(lit(0L).as("k"))
    val dirs = bucketDirs(mixedDir, like)
    assert(dirs.size >= 3, s"fixture must span several bucket dirs: $dirs")
    for (paths <- Seq(dirs, dirs.reverse); merge <- Seq(true, false))
      assert(StoreRead.parquet(spark, paths, merge).schema == inferred(paths, merge),
        s"merge=$merge over $paths")
    assert(TableSink.read(spark, mixedDir, like).schema == inferred(dirs, merge = true))
    assert(TableSink.read(spark, mixedDir, like).columns.toSet ==
      Set("k", "v", "extra", "z", "__v"))
    // storedSchemaOf reads one bucket (the first by path), as before
    val first = TableSink.storedSchemaOf(spark, mixedDir).get
    assert(dirs.exists(d => inferred(Seq(d), merge = false) == first))
  }

  test("the pinned schema equals inference on partitioned and plain-empty BucketedParts parts") {
    val root = tmp("readjobs_parts")
    val df = spark.range(40).select(col("id").as("h1"), (col("id") * 3).as("x"),
      col("id").cast("string").as("s"), BucketedParts.bucketOf(col("id"), 4).as("__b"))
    BucketedParts.writeBucketed(s"$root/part_00000", df, 4)
    BucketedParts.writeBucketed(s"$root/part_00001", df.filter(lit(false)), 4)
    for (n <- Seq("part_00000", "part_00001"))
      assert(StoreRead.parquet(spark, Seq(s"$root/$n")).schema == inferred(Seq(s"$root/$n"), false), n)
    val old = Seq("part_00000", "part_00001")
      .map(n => spark.read.parquet(s"$root/$n")).reduce(_ unionByName _)
    val now = BucketedParts.readParts(spark, root, Seq("part_00000", "part_00001"))
    assert(now.schema == old.schema)
    assert(now.collect().toSet == old.collect().toSet && now.count() == 40)
  }

  test("the pinned schema equals inference on a multi-part AdditiveStore relation and a string-id store") {
    import spark.implicits._
    val store = AdditiveStore("readjobs", Seq("rel"))
    val dir = tmp("readjobs_additive")
    store.write(Seq((1L, "a")).toDF("a", "b"), dir, "rel", "part_00000")
    store.write(Seq((2L, "b", 3)).toDF("a", "b", "c"), dir, "rel", "part_00001")
    store.write(Seq((3L, "c")).toDF("a", "b"), dir, "rel", "part_00002")
    for (names <- Seq(Seq("part_00000", "part_00001", "part_00002"), Seq("part_00001", "part_00002"))) {
      val paths = names.map(store.path(dir, "rel", _))
      assert(store.read(spark, dir, "rel", names).schema == inferred(paths, merge = false), names)
    }
    val sdir = tmp("readjobs_strid")
    TableSink.upsert(spark, sdir, Seq(("x1", 1.0, 0L), ("x2", 2.0, 0L)).toDF("id", "score", "__v"),
      Seq("id"), "__v", numBuckets = 2)
    val like = spark.range(0).select(lit("").as("id"))
    assert(TableSink.read(spark, sdir, like).schema == inferred(bucketDirs(sdir, like), merge = true))
    assert(TableSink.storedColType(spark, sdir, "id") == StringType)
    assert(TableSink.storedColType(spark, sdir, "absent") == LongType)
  }

  test("building a frame with each rewired store read launches no Spark job") {
    import spark.implicits._
    val like = spark.range(0).select(lit(0L).as("k"))
    TableSink.snapshot(mixedDir, "t1")
    val parts = tmp("readjobs_jobparts")
    BucketedParts.writeBucketed(s"$parts/part_00000",
      spark.range(8).select(col("id").as("h1"), BucketedParts.bucketOf(col("id"), 2).as("__b")), 2)
    val semDir = tmp("readjobs_sem")
    SemDedupStore.init(spark, s"$semDir/s", emb.limit(40), "vec_id", "embedding", nlist = 4)
    val admDir = tmp("readjobs_adm")
    Admission.init(spark, s"$admDir/a", docs.limit(30), "doc_id", "text")
    val store = AdditiveStore("readjobs", Seq("rel"))
    val adir = tmp("readjobs_add2")
    store.write(Seq((1L, "a")).toDF("a", "b"), adir, "rel", "part_00000")
    store.write(Seq((2L, "b")).toDF("a", "b"), adir, "rel", "part_00001")
    val hdir = hybridDir
    val reads: Seq[(String, () => Any)] = Seq(
      "TableSink.read" -> (() => TableSink.read(spark, mixedDir, like)),
      "TableSink.readBuckets" -> (() => TableSink.readBuckets(spark, mixedDir, like, Set(0, 1, 2, 3))),
      "TableSink.readSnapshot" -> (() => TableSink.readSnapshot(spark, mixedDir, "t1")),
      "TableSink.storedSchemaOf" -> (() => TableSink.storedSchemaOf(spark, mixedDir)),
      "TableSink.storedColType" -> (() => TableSink.storedColType(spark, mixedDir, "k")),
      "AdditiveStore.read" -> (() => store.read(spark, adir, "rel", Seq("part_00000", "part_00001"))),
      "BucketedParts.readParts" -> (() => BucketedParts.readParts(spark, parts, Seq("part_00000"))),
      "Hybrid.readCells" -> (() => Hybrid.readCells(spark, hdir)),
      "SemDedupStore.readCentroids" -> (() => SemDedupStore.readCentroids(spark, s"$semDir/s")),
      "Admission.readSpanIndex" -> (() => Admission.readSpanIndex(spark, s"$admDir/a")))
    // Cold (first footer read) and warm (memoized) alike.
    for (round <- 1 to 2; (name, read) <- reads) {
      val (_, jobs) = jobsOf(read())
      assert(jobs == 0, s"$name (round $round) ran $jobs job(s) to build its frame")
    }
  }

  private def localQuery(src: DataFrame): DataFrame = {
    val rows = src.collect().toSeq
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), src.schema)
  }

  private lazy val queries = docs.filter(col("doc_id") % 11 === 0)
    .select(col("doc_id").as("qid"),
      graft.functions.text.firstKTokens(col("text"), 5).as("qtext"))
    .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")

  private def rows(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  test("a one-row local-query Hybrid.search runs at most 11 jobs, with the same rows") {
    val one = queries.orderBy("qid").limit(1)
    val q = localQuery(one)
    def search(df: DataFrame) = Hybrid.search(spark, hybridDir, df, "qid", "qtext", "qvec",
      k = 5, kPerRun = 10, nprobe = 2, maxDfFrac = 1.0)
    val expected = rows(search(one))
    for (_ <- 1 to 2) {
      val (got, jobs) = jobsOf(rows(search(q)))
      assert(jobs <= 11, s"one-row search ran $jobs jobs")
      assert(got == expected && got.size == 5)
    }
  }

  /** The probe's former window form, the reference order: each query
    * id's nprobe best cells by a `row_number()` window over a broadcast
    * crossJoin — (query_id, qv, cell). */
  private def windowCells(queries: DataFrame, cells: DataFrame, nprobe: Int): DataFrame =
    queries.select(col("id").as("query_id"), col("vec").cast("array<double>").as("qv"))
      .crossJoin(broadcast(cells))
      .select(col("query_id"), col("qv"), col("cell_id"),
        graft.functions.vector.cosineSim(col("qv"), col("cell_vec")).as("csim"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(desc("csim"), col("cell_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell_id").as("cell"))

  private def windowProbe(queries: DataFrame, cells: DataFrame, nprobe: Int): Set[Long] =
    windowCells(queries, cells, nprobe).select("cell").distinct()
      .collect().map(_.getLong(0)).toSet

  /** The former top-k composition over [[windowCells]]; `corpusSide` is
    * (cell, neighbor_id, cv). */
  private def windowSearch(queries: DataFrame, cells: DataFrame, corpusSide: DataFrame,
                           k: Int, nprobe: Int): DataFrame =
    windowCells(queries, cells, nprobe).join(corpusSide, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.vector.cosineSim(col("qv"), col("cv")).as("sim"))
      .groupBy("query_id")
      .agg(graft.functions.TopK(k)(col("sim"), col("neighbor_id")).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rk", "n")))
      .select(col("query_id"), col("n.id").as("neighbor_id"),
        col("n.score").as("sim"), (col("rk") + 1).as("rank"))

  /** Search rows with the similarity as text, so NaN equals NaN. */
  private def searchRows(df: DataFrame): Set[(Long, Long, String, Int)] = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), String.valueOf(r.get(2)), r.getInt(3))).toSet

  private val vecSchema = StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(DoubleType))))
  private def vecs(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), vecSchema)

  /** Seven 2-d centroids with tied directions (0 and 5, 2 and 3) and a
    * zero vector (6). */
  private lazy val tiedCells = spark.createDataFrame(java.util.Arrays.asList(
      Row(5L, Seq(2.0, 0.0)), Row(0L, Seq(1.0, 0.0)), Row(2L, Seq(0.0, 1.0)), Row(3L, Seq(0.0, 3.0)),
      Row(4L, Seq(1.0, 1.0)), Row(1L, Seq(-1.0, 0.0)), Row(6L, Seq(0.0, 0.0))),
    StructType(Seq(StructField("cell_id", LongType), StructField("cell_vec", ArrayType(DoubleType)))))

  /** Queries: a tie, a zero vector, NaN, null, -0.0. */
  private val edgeQueries = Seq(
    Row(0L, Seq(1.0, 0.0)), Row(1L, Seq(0.0, 0.0)), Row(2L, Seq(Double.NaN, 1.0)),
    Row(3L, null), Row(4L, Seq(1.0, -1.0)), Row(5L, Seq(0.5, 0.5)), Row(6L, Seq(-0.0, 2.0)))

  test("probedCellIds equals the window form on tied cosines and NaN/null query vectors") {
    for (subset <- edgeQueries.map(Seq(_)) :+ edgeQueries; nprobe <- 0 to 8) {
      val q = vecs(subset)
      val (got, jobs) = jobsOf(IvfAnn.probedCellIds(q, tiedCells, "id", "vec", nprobe))
      assert(got.toSet == windowProbe(q, tiedCells, nprobe), s"queries $subset, nprobe $nprobe")
      assert(got.distinct == got)
      assert(jobs == 0, s"local queries and centroids ran $jobs job(s)")
    }
  }

  test("annSearch and annSearchQuantized return the window form's rows, nprobe 0 through nlist+1") {
    // A corpus on a small grid, so cosines tie often; -0.0 coordinates
    // and a NaN vector included. Ids overlap the query ids (excludeSelf).
    val grid = Seq(-1.0, -0.0, 0.0, 0.5, 2.0)
    val corpus = IvfAnn.assignCells(vecs(
        (for (x <- grid; y <- grid) yield Seq(x, y)).zipWithIndex
          .map { case (v, i) => Row(i.toLong, v) } :+ Row(99L, Seq(Double.NaN, 0.0))),
      "id", "vec", tiedCells)
    val sq8 = IvfAnn.quantizeCells(corpus, "id", "vec")
    val q = vecs(edgeQueries)
    for (nprobe <- 0 to 8) {
      assert(searchRows(IvfAnn.annSearch(q, corpus, tiedCells, "id", "vec", 4, nprobe)) ==
        searchRows(windowSearch(q, tiedCells,
          corpus.select(col("cell"), col("id").as("neighbor_id"), col("vec").as("cv")), 4, nprobe)),
        s"annSearch, nprobe $nprobe")
      assert(searchRows(IvfAnn.annSearchQuantized(q, sq8, tiedCells, "id", "vec", 4, nprobe)) ==
        searchRows(windowSearch(q, tiedCells, sq8.select(col("cell"), col("id").as("neighbor_id"),
          graft.functions.quant.dequantize(col("codes"), col("scale")).as("cv")), 4, nprobe)),
        s"annSearchQuantized, nprobe $nprobe")
    }
  }

  test("each stored search collects the centroids in exactly one job") {
    val vecsIn = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .localCheckpoint(true)
    val fit = IvfAnn.buildCells(vecsIn, "vec_id", "embedding", nlist = 8)
    val cellsDir = tmp("readjobs_cells") + "/cells"
    fit.write.parquet(cellsDir)
    val cells = spark.read.parquet(cellsDir)
    val assigned = IvfAnn.assignCells(vecsIn, "vec_id", "embedding", fit)
    val sq8Dir = tmp("readjobs_sq8")
    IvfAnn.writeIndex(spark, sq8Dir, IvfAnn.quantizeCells(assigned, "vec_id", "embedding"),
      "vec_id", numBuckets = 8)
    val cb = PqOps.trainCodebooks(assigned.join(broadcast(fit), col("cell") === col("cell_id"))
        .select(col("vec_id"), zip_with(col("embedding"), col("cell_vec"), (x, y) => x - y).as("resid")),
      "vec_id", "resid", m = 8, ksub = 16, dim = 64)
    val pqDir = tmp("readjobs_pq") + "/ix"
    PqStore.write(spark, pqDir, PqStore.encodeResiduals(assigned, fit, "vec_id", "embedding", cb, 64),
      "vec_id", numBuckets = 8)
    val q = localQuery(vecsIn.filter(col("vec_id") < 3))
    val hq = localQuery(queries.orderBy("qid").limit(2))
    val hybridCells = new Path(Hybrid.readCells(spark, hybridDir).inputFiles.head).getParent.toString
    val searches: Seq[(String, String, () => DataFrame)] = Seq(
      ("IvfAnn.annSearchQuantizedStored", cellsDir, () => IvfAnn.annSearchQuantizedStored(
        sq8Dir, q, cells, "vec_id", "embedding", k = 5, nprobe = 2)),
      ("PqStore.search", cellsDir, () => PqStore.search(
        pqDir, q, cells, cb, "vec_id", "embedding", k = 5, nprobe = 2)),
      ("Hybrid.search", hybridCells, () => Hybrid.search(spark, hybridDir, hq, "qid", "qtext", "qvec",
        k = 5, kPerRun = 10, nprobe = 2, maxDfFrac = 1.0)))
    for ((name, dir, search) <- searches) {
      val (n, jobs) = counted(new ScanJobCounter(dir.stripPrefix("file:")))(search().collect().length)
      assert(n > 0, s"$name found nothing")
      assert(jobs == 1, s"$name read its centroids in $jobs job(s)")
    }
  }
}
