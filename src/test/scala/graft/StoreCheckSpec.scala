package graft

import graft.sources.{AdditiveLedger, DeltaParts, StoreCheck, TableSink}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Storage fsck: a healthy store audits all-ok; each corruption class
  * (deleted data files, a tag pinning vanished state, rows under the
  * wrong bucket, missing ledger parts) is caught by exactly the check
  * built for it; crash residue (unabsorbed mutations, orphans, a held
  * lease) reports as advisory, not failure. */
class StoreCheckSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def upsert(dir: String, lo: Long, hi: Long, v: Long): Unit =
    TableSink.upsert(spark, dir,
      (lo until hi).map(i => (i, s"p$i")).toDF("k", "payload")
        .withColumn("__v", lit(v)), Seq("k"), "__v")

  private def failures(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.filter(!col("ok")).select("check", "detail")
      .as[(String, String)].collect().toMap

  test("healthy table: referential and deep audits all-ok") {
    val dir = freshDir("fsck-ok")
    upsert(dir, 0, 50, 1)
    TableSink.snapshot(dir, "v1")
    upsert(dir, 50, 80, 2)
    assert(failures(StoreCheck.tableSink(spark, dir)).isEmpty)
    val checks = StoreCheck.tableSink(spark, dir)
      .select("check").as[String].collect().toSet
    assert(checks.contains("snapshot_v1") && checks.contains("writer_lease"))
    assert(failures(StoreCheck.tableSinkDeep(spark, dir, Seq("k"))).isEmpty)
  }

  test("a deleted bucket dir is caught; a vanished pinned manifest too") {
    val dir = freshDir("fsck-missing")
    upsert(dir, 0, 50, 1)
    TableSink.snapshot(dir, "v1")
    upsert(dir, 50, 80, 2)
    // delete one LIVE referenced bucket dir
    val mf = Paths.get(dir, "_manifests",
      Files.readString(Paths.get(dir, "_CURRENT")).trim)
    val rel = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(mf)).asScala.find(_.contains('\t')).get.split('\t')(1)
    DeltaParts.rmDir(s"$dir/$rel")
    val f1 = failures(StoreCheck.tableSink(spark, dir))
    assert(f1.contains("data_files_present"), f1.toString)
    // delete the tag's pinned manifest: the snapshot check must fail
    val pinned = TableSink.listSnapshots(dir)("v1")
    Files.delete(Paths.get(dir, "_manifests", f"m-$pinned%010d"))
    val f2 = failures(StoreCheck.tableSink(spark, dir))
    assert(f2.exists(_._1 == "snapshot_v1"), f2.toString)
  }

  test("a malformed manifest line is REPORTED (ok=false), never thrown") {
    val dir = freshDir("fsck-garble")
    upsert(dir, 0, 20, 1)
    val mf = Paths.get(dir, "_manifests",
      Files.readString(Paths.get(dir, "_CURRENT")).trim)
    // truncated/hand-edited entries: non-integer bucket, an extra tab,
    // an int-overflowing bucket, a Unicode-digit bucket — all must land
    // in the report, none may throw out of the audit
    Files.writeString(mf,
      Files.readString(mf) +
        "oops\tdata/zz\n3\tdata/a\textra\n99999999999\tdata/o\n٣\tdata/u\n" +
        "12data-entry-that-lost-its-tab\n")
    val r = StoreCheck.tableSink(spark, dir)
    val f = failures(r)
    assert(f.contains("manifest_lines_parse"), f.toString)
    assert(f("manifest_lines_parse").contains("5 unparseable"))
    // the audit still renders the rest of the report around the damage
    val checks = r.select("check").as[String].collect().toSet
    assert(checks.contains("data_files_present") && checks.contains("writer_lease"))
  }

  test("rows stored under the wrong bucket: only the deep pass sees it") {
    val dir = freshDir("fsck-deep")
    upsert(dir, 0, 60, 1)
    // simulate a bucket-function drift: move one bucket's files into
    // another bucket's dir (referential checks still fully resolve)
    val mf = Paths.get(dir, "_manifests",
      Files.readString(Paths.get(dir, "_CURRENT")).trim)
    val rels = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(mf)).asScala.filter(_.contains('\t'))
      .map(_.split('\t')(1)).toSeq
    assert(rels.size >= 2, "fixture needs two buckets")
    val (src, dst) = (Paths.get(s"$dir/${rels.head}"), Paths.get(s"$dir/${rels(1)}"))
    val srcFiles = {
      val s = Files.list(src)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.toList finally s.close()
    }
    srcFiles.filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.move(f, dst.resolve("moved-" + f.getFileName.toString)))
    // put a (wrong-bucket) parquet back so the referential check passes
    val back = {
      val s = Files.list(dst)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.find(f => f.getFileName.toString.endsWith(".parquet") &&
          !f.getFileName.toString.startsWith("moved-")).get
      finally s.close()
    }
    Files.copy(back, src.resolve(back.getFileName.toString))
    // both buckets came from ONE write job, so their files share names;
    // scrub Hadoop's .crc siblings or the copied file fails checksum
    // against the stale one the moved-away original left behind
    Seq(src, dst).foreach { d =>
      val s = Files.list(d)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.filter(_.getFileName.toString.endsWith(".crc")).toList
        .foreach(Files.delete)
      finally s.close()
    }
    assert(failures(StoreCheck.tableSink(spark, dir)).isEmpty,
      "referential audit cannot see mis-bucketed rows")
    val deep = failures(StoreCheck.tableSinkDeep(spark, dir, Seq("k")))
    assert(deep.contains("rows_in_declared_bucket"), deep.toString)
  }

  test("ledger store: healthy all-ok; missing part caught; crash residue advisory") {
    val dir = freshDir("fsck-ledger")
    def part(n: String): Unit =
      AdditiveLedger.mutateNamed(dir, Seq(dir), Some(n)) { nn =>
        (1 to 3).toDF("x").write.mode("overwrite").parquet(s"$dir/$nn")
        DeltaParts.add(dir, nn)
      }
    part("part_00000"); part("part_00001")
    DeltaParts.snapshot(dir, "t1")
    part("part_00002")
    assert(failures(StoreCheck.deltaParts(spark, dir)).isEmpty)
    // crash residue: ledgered but not absorbed → advisory (ok = true)
    DeltaParts.add(dir, "part_00003")
    (1 to 3).toDF("x").write.mode("overwrite").parquet(s"$dir/part_00003")
    val rep = StoreCheck.deltaParts(spark, dir)
    assert(failures(rep).isEmpty)
    assert(rep.filter(col("check") === "unfinished_mutations")
      .select("detail").as[String].head().contains("part_00003"))
    // a vanished live part fails; a vanished pinned part fails its tag
    DeltaParts.rmDir(s"$dir/part_00001")
    val f = failures(StoreCheck.deltaParts(spark, dir))
    assert(f.contains("part_dirs_present") && f.exists(_._1 == "snapshot_t1"),
      f.toString)
  }

  test("composite stores self-audit: admission funnel and card store") {
    val store = freshDir("fsck-admission")
    def good(i: Long): String =
      (s"the quick start and most of this is a fine piece num$i" +:
        (0 until 55).map(j => f"w$i%02dx$j%02d")).mkString(" ")
    val docs = (1L to 10L).map(i => (i, good(i))).toDF("doc_id", "text")
    pipelines.Admission.init(spark, store, docs, "doc_id", "text")
    pipelines.Admission.run(spark, store,
      (11L to 13L).map(i => (i, good(i))).toDF("doc_id", "text"),
      "doc_id", "text")
    val rep = pipelines.Admission.fsck(spark, store)
    assert(failures(rep).isEmpty, failures(rep).toString)
    // both member stores appear in the one report
    val stores = rep.select("store").as[String].collect().toSet
    assert(stores.exists(_.endsWith("span_index")) &&
      stores.exists(_.endsWith("fingerprints")), stores.toString)
    // a vanished span part is caught by the funnel-level audit
    val part = DeltaParts.list(s"$store/span_index").head
    DeltaParts.rmDir(s"$store/span_index/$part")
    assert(failures(pipelines.Admission.fsck(spark, store))
      .contains("part_dirs_present"))

    val cardDir = freshDir("fsck-card")
    graft.operators.CardStore.init(spark, cardDir,
      docs.select(col("doc_id"), lit("s0").as("source"), lit("l0").as("lang"),
        col("text"), length(col("text")).as("n_chars")),
      "source", "lang", "text", "n_chars",
      t => round(length(t).cast("double") / 100.0, 6))
    assert(failures(graft.operators.CardStore.fsck(spark, cardDir)).isEmpty)
  }

  test("every additive store: fsck all-ok after init; a vanished live part is caught") {
    import graft.operators._
    import graft.sources.AdditiveStore
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox naps under the lazy dog"),
      (3L, "an entirely different line of text")).toDF("doc_id", "text")
    val cardDocs = docs.select(col("doc_id"), lit("s0").as("source"),
      lit("l0").as("lang"), col("text"), length(col("text")).as("n_chars"))
    val stores: Seq[(String, AdditiveStore.Lifecycle, String => Unit)] = Seq(
      ("lines", LineStore, d => LineStore.init(spark, d, docs, "doc_id", "text")),
      ("lm", LmStore, d => LmStore.init(spark, d, docs, "text")),
      ("stats", StatsStore, d => StatsStore.init(spark, d,
        docs.select(lit("g").as("g"), col("doc_id").as("v")), "g", "v")),
      ("eval", EvalStore, d => EvalStore.init(spark, d, "suite_a", docs, "text", n = 3)),
      ("card", CardStore, d => CardStore.init(spark, d, cardDocs,
        "source", "lang", "text", "n_chars", t => length(t).cast("double"))),
      ("bm25", Bm25Store, d => Bm25Store.init(spark, d, docs, "doc_id", "text")),
      ("ngram", NgramStore, d => NgramStore.init(spark, d, docs, "text",
        maxN = 3, numBuckets = 4)),
      ("spanpos", SpanPosStore, d => SpanPosStore.init(spark, d, docs, "doc_id",
        "text", k = 3, numBuckets = 4)),
      ("sa", SaStore, d => SaStore.init(spark, d, docs, "doc_id", "text",
        numBuckets = 4)))
    stores.foreach { case (kind, store, init) =>
      val dir = freshDir(s"fsck-$kind")
      init(dir)
      val rep = store.fsck(spark, dir)
      assert(failures(rep).isEmpty, s"$kind: ${failures(rep)}")
      store.kernel.meta.foreach { m =>
        assert(rep.filter(col("check") === m.check && col("ok")).count() === 1,
          s"$kind: meta row")
      }
      val root = store.kernel.roots(dir).last
      DeltaParts.rmDir(s"$root/${DeltaParts.list(dir).head}")
      assert(failures(store.fsck(spark, dir)).contains("part_dirs_present"), kind)
    }
  }

  test("a held lease reports advisory with the holder, never a failure") {
    val dir = freshDir("fsck-lease")
    upsert(dir, 0, 20, 1)
    graft.sources.WriterLease.withLease(dir, "fsck-spec") {
      val rep = StoreCheck.tableSink(spark, dir)
      assert(failures(rep).isEmpty)
      assert(rep.filter(col("check") === "writer_lease")
        .select("detail").as[String].head().contains("fsck-spec"))
    }
  }
}
