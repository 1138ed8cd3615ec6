package graft

import graft.pipelines.Admission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The standing-store admission ([[Admission.run]]) must equal the
 * in-memory reference composition ([[Admission.runAgainst]], the
 * oracle-checked pipe_admission_e2e semantics) batch for batch:
 * init(corpus); run(b1); run(b2) ≡ runAgainst(b1, corpus);
 * runAgainst(b2, corpus ∪ admitted(b1)). Compaction must not change
 * answers.
 */
class AdmissionStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // Curation-passing text (AdmissionSpec's recipe): >= 50 distinct words,
  // sane word lengths, stopwords present.
  private def goodText(seed: Char): String = {
    val filler = (0 until 55).map(i => s"${seed}word" + ('a' + i % 26).toChar + ('a' + i / 26).toChar)
    ("the quick start and most of this is a fine piece" +: filler).mkString(" ")
  }
  private val boiler = "alpha beta gamma delta epsilon zeta eta theta"

  private def df(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def collectVerdicts(v: DataFrame): Map[Long, (String, Long, Long, String)] =
    v.collect().map(r => r.getLong(0) ->
      (r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap

  test("run == runAgainst across two batches; compaction changes nothing") {
    val corpus = df(Seq(
      101L -> goodText('r'),
      102L -> (goodText('s') + " " + boiler),
      103L -> "zz junk"))
    val b1 = df(Seq(
      1L -> goodText('r'),                    // exact copy of corpus 101 → duplicate
      2L -> (goodText('p') + " " + boiler),   // novel, shares boiler → admitted+scrubbed
      3L -> "zz"))                            // fails curation → rejected
    // b2 exercises the INCREMENTAL part: 11 duplicates a doc ADMITTED in
    // b1 (only the store knows it), 12 shares b1-admitted boilerplate.
    val b2 = df(Seq(
      11L -> (goodText('p') + " " + boiler),  // == b1 doc 2 → duplicate via store
      12L -> (goodText('q') + " " + boiler),  // novel; boiler now n_docs>=2 in store
      13L -> goodText('t')))                  // novel, clean → admitted unscathed

    val store = java.nio.file.Files.createTempDirectory("admission-store").toString
    Admission.init(spark, store, corpus, "doc_id", "text")

    val got1 = collectVerdicts(Admission.run(spark, store, b1, "doc_id", "text"))
    val want1 = collectVerdicts(Admission.runAgainst(b1, corpus, "doc_id", "text"))
    assert(got1 == want1, s"batch 1 diverged:\n store=$got1\n ref  =$want1")
    assert(got1(1L)._1 == "duplicate" && got1(2L)._1 == "admitted" && got1(3L)._1 == "rejected")
    assert(got1(2L)._3 >= 8, s"boiler span must scrub from doc 2: ${got1(2L)}")

    // reference corpus grows by b1's ADMITTED originals only
    val corpus2 = corpus.unionByName(b1.filter(col("doc_id") === 2L))
    val got2 = collectVerdicts(Admission.run(spark, store, b2, "doc_id", "text"))
    val want2 = collectVerdicts(Admission.runAgainst(b2, corpus2, "doc_id", "text"))
    assert(got2 == want2, s"batch 2 diverged:\n store=$got2\n ref  =$want2")
    assert(got2(11L)._1 == "duplicate", "store must remember b1's admitted doc")
    assert(got2(12L)._1 == "admitted" && got2(12L)._3 >= 8,
      s"boilerplate shared with a b1-admitted doc must scrub: ${got2(12L)}")
    // 13 admits; its n_removed is the shared goodText INTRO prefix (11
    // tokens, >= minDocs across the corpus) — store and reference agree
    // via got2 == want2 above.
    assert(got2(13L)._1 == "admitted")

    // compaction is a pure layout change
    Admission.compact(spark, store)
    val b3 = df(Seq(
      21L -> (goodText('u') + " " + boiler),       // novel, boiler scrubs
      22L -> (goodText('q') + " " + boiler)))      // exact copy of b2's admitted 12
    val corpus3 = corpus2.unionByName(b2.filter(col("doc_id").isin(12L, 13L)))
    val got3 = collectVerdicts(Admission.run(spark, store, b3, "doc_id", "text"))
    val want3 = collectVerdicts(Admission.runAgainst(b3, corpus3, "doc_id", "text"))
    assert(got3 == want3, s"post-compaction diverged:\n store=$got3\n ref  =$want3")
    assert(got3(21L)._1 == "admitted" && got3(21L)._3 >= 8)
    assert(got3(22L)._1 == "duplicate",
      "compacted store must still remember b2's admitted doc 12")
  }

  test("unadmit inverts an absorption: verdicts return to the pre-admission state") {
    val corpus = df(Seq(
      401L -> goodText('r'),
      402L -> (goodText('s') + " " + boiler)))
    val b1 = df(Seq(2L -> (goodText('p') + " " + boiler)))
    val store = java.nio.file.Files.createTempDirectory("admission-unadmit").toString
    Admission.init(spark, store, corpus, "doc_id", "text")
    val v1 = collectVerdicts(Admission.run(spark, store, b1, "doc_id", "text"))
    assert(v1(2L)._1 == "admitted")

    // Probe batch: an exact copy of the absorbed doc + a doc sharing
    // its goodText('p') spans — both verdicts depend on whether the
    // absorption is still standing.
    val probe = df(Seq(
      31L -> (goodText('p') + " " + boiler),
      32L -> (goodText('p') + " extra tail of fresh words here today")))
    val withB1 = collectVerdicts(Admission.runAgainst(probe,
      corpus.unionByName(b1), "doc_id", "text"))
    val withoutB1 = collectVerdicts(Admission.runAgainst(probe, corpus, "doc_id", "text"))
    assert(withB1 != withoutB1, "fixture must make the absorption observable")

    // Un-admit b1's content, replay the named removal (must be a no-op),
    // then the store must answer as if b1 was never absorbed.
    Admission.unadmit(spark, store, b1, "doc_id", "text", name = Some("rm_b1"))
    Admission.unadmit(spark, store, b1, "doc_id", "text", name = Some("rm_b1"))
    val got = collectVerdicts(Admission.run(spark, store, probe, "doc_id", "text"))
    assert(got == withoutB1,
      s"post-unadmit store must equal the never-absorbed reference:\n" +
        s" store=$got\n ref  =$withoutB1")

    // Compaction drops the zeroed digests physically and changes nothing.
    val zeroed = Admission.readSpanIndex(spark, store)
      .filter(col("n_docs") <= 0 && col("n_occ") <= 0).count()
    Admission.compact(spark, store)
    assert(Admission.readSpanIndex(spark, store)
      .filter(col("n_docs") <= 0 && col("n_occ") <= 0).count() == 0L,
      s"compaction must drop the $zeroed zeroed digests")
  }

  test("streaming ingest == batch reference; replay is exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val corpus = df(Seq(301L -> goodText('r'), 302L -> (goodText('s') + " " + boiler)))
    val store = java.nio.file.Files.createTempDirectory("admission-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("admission-ckpt").toString
    Admission.init(spark, store, corpus, "doc_id", "text")

    val mem = MemoryStream[(Long, String)]
    val q = Admission.stream(spark, store,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    mem.addData(41L -> goodText('r'), 42L -> (goodText('w') + " " + boiler))
    q.processAllAvailable()
    mem.addData(51L -> (goodText('w') + " " + boiler), 52L -> "zz")
    q.processAllAvailable()
    q.stop()

    // the per-epoch verdict log equals the batch reference law
    val v0 = collectVerdicts(spark.read.parquet(s"$store/verdicts/batch_0"))
    assert(v0(41L)._1 == "duplicate" && v0(42L)._1 == "admitted")
    val v1 = collectVerdicts(spark.read.parquet(s"$store/verdicts/batch_1"))
    val want1 = collectVerdicts(Admission.runAgainst(
      df(Seq(51L -> (goodText('w') + " " + boiler), 52L -> "zz")),
      corpus.unionByName(df(Seq(42L -> (goodText('w') + " " + boiler)))),
      "doc_id", "text"))
    assert(v1 == want1, s"epoch 1 diverged:\n stream=$v1\n ref   =$want1")
    assert(v1(51L)._1 == "duplicate", "epoch 1 must see epoch 0's admitted doc")

    // replay epoch 1 (crash-after-commit): verdicts identical from the
    // committed log — NOT recomputed against a store that now holds the
    // batch's own fingerprints — and the store state does not change.
    val partsBefore = spark.read.parquet(s"$store/span_index/part_b1").count()
    val replay = collectVerdicts(Admission.runCommitted(spark, store,
      df(Seq(51L -> (goodText('w') + " " + boiler), 52L -> "zz")),
      "doc_id", "text", batchId = 1L))
    assert(replay == v1, "replay must return the committed verdicts")
    assert(spark.read.parquet(s"$store/span_index/part_b1").count() == partsBefore)
    // a third batch still answers correctly after the replay
    val v2 = collectVerdicts(Admission.run(spark, store,
      df(Seq(61L -> (goodText('w') + " " + boiler))), "doc_id", "text"))
    assert(v2(61L)._1 == "duplicate")
  }

  test("keep-first span policy: run == runAgainst == stream; corpus copy survives, batch copies scrub by presence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // The PRODUCTION DEFAULT is all-copies (spanKeepFirst = false) —
    // decided and documented in docs/PLANS.md round 17: the funnel's
    // span stage is the Lee et al. ExactSubstr training-text scrub
    // ("remove every copy at the threshold"), and keep-first's
    // canonical-survivor choice depends on batch boundaries/ordering
    // where all-copies does not. Keep-first stays the opt-in for
    // corpus-curation flows that must retain one canonical copy.
    assert(!Admission.Config().spanKeepFirst,
      "the documented production default is the all-copies scrub")
    val cfgKF = Admission.Config(spanKeepFirst = true)
    val bnov = "bnov1 bnov2 bnov3 bnov4 bnov5 bnov6 bnov7 bnov8"
    val corpus = df(Seq(101L -> (goodText('s') + " " + boiler)))
    val b1 = df(Seq(
      2L -> (goodText('p') + " " + boiler),  // boiler held by the corpus → ALL batch copies scrub (presence)
      3L -> (goodText('q') + " " + bnov),    // corpus-novel span, duplicated within the batch:
      4L -> (goodText('t') + " " + bnov)))   //   doc 3's min-(id,pos) copy survives, doc 4's scrubs

    val store = java.nio.file.Files.createTempDirectory("admission-kf").toString
    Admission.init(spark, store, corpus, "doc_id", "text", cfgKF)
    val got = collectVerdicts(Admission.run(spark, store, b1, "doc_id", "text", cfgKF))
    val want = collectVerdicts(Admission.runAgainst(b1, corpus, "doc_id", "text", cfgKF))
    assert(got == want, s"keep-first law diverged:\n store=$got\n ref  =$want")
    assert(got(2L)._3 >= 8, s"corpus-held boiler must scrub from doc 2: ${got(2L)}")
    assert(got(3L)._4.contains("bnov1"),
      s"the batch-canonical copy of a corpus-novel span must SURVIVE: ${got(3L)}")
    assert(!got(4L)._4.contains("bnov1"),
      s"the non-canonical batch copy must scrub: ${got(4L)}")

    // With the DEFAULT all-copies policy the canonical copy scrubs too —
    // the flag is load-bearing, not a synonym.
    val storeAC = java.nio.file.Files.createTempDirectory("admission-ac").toString
    Admission.init(spark, storeAC, corpus, "doc_id", "text")
    val ac = collectVerdicts(Admission.run(spark, storeAC, b1, "doc_id", "text"))
    assert(!ac(3L)._4.contains("bnov1"),
      s"all-copies must scrub doc 3's copy as well: ${ac(3L)}")

    // The streaming form rides the same cfg (MemoryStream-pinned): a
    // second epoch sees the first epoch's admitted docs as the corpus
    // side of the keep-first rule.
    val ckpt = java.nio.file.Files.createTempDirectory("admission-kf-ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = Admission.stream(spark, store,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      cfg = cfgKF)
    mem.addData(11L -> (goodText('u') + " " + bnov)) // bnov now store-held → scrubs by presence
    q.processAllAvailable()
    q.stop()
    val v0 = collectVerdicts(spark.read.parquet(s"$store/verdicts/batch_0"))
    val want0 = collectVerdicts(Admission.runAgainst(
      df(Seq(11L -> (goodText('u') + " " + bnov))),
      corpus.unionByName(b1.filter(col("doc_id").isin(2L, 3L, 4L))),
      "doc_id", "text", cfgKF))
    assert(v0 == want0, s"streaming keep-first diverged:\n stream=$v0\n ref   =$want0")
    assert(!v0(11L)._4.contains("bnov1"),
      s"a store-held span must scrub from a later epoch by presence: ${v0(11L)}")
  }

  test("ngram report stage: columns ride run == runAgainst == stream; report, never gate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // The reference corpus the ∞-gram store indexes — OUTSIDE the
    // admission store, its own lifecycle (the DeconStage shape).
    val memPhrase = "m1 m2 m3 m4 m5 m6"
    val reference = df(Seq(9001L -> ("lead tokens " + memPhrase),
      9002L -> ("other lead " + memPhrase)))
    val ngramDir = java.nio.file.Files.createTempDirectory("adm-ngram").toString + "/store"
    graft.operators.NgramStore.init(spark, ngramDir, reference, "text", maxN = 4)
    val cfg = Admission.Config(ngram = Some(Admission.NgramStage(ngramDir)))

    val corpus = df(Seq(101L -> goodText('r')))
    val b1 = df(Seq(
      1L -> (goodText('p') + " " + memPhrase), // tail is verbatim in the reference
      2L -> goodText('q'),                      // no reference overlap at the tail
      3L -> "zz"))                              // rejected — the report still covers it
    val store = java.nio.file.Files.createTempDirectory("admission-ng").toString
    Admission.init(spark, store, corpus, "doc_id", "text", cfg)

    def collectFull(v: DataFrame): Map[Long, (String, Int, Long)] =
      v.select(col("doc_id"), col("verdict"),
          col("ngram_match_len"), col("ngram_n_occ"))
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getInt(2), r.getLong(3))).toMap

    val got = Admission.run(spark, store, b1, "doc_id", "text", cfg)
    assert(got.columns.takeRight(2).toSeq ===
      Seq("ngram_match_len", "ngram_n_occ"))
    val g = collectFull(got)
    val want = collectFull(Admission.runAgainst(b1, corpus, "doc_id", "text", cfg))
    assert(g === want, s"ngram-stage law diverged:\n store=$g\n ref  =$want")
    // The report equals the store's own probe (maxN = 4 saturation).
    assert(g(1L)._2 === 4 && g(1L)._3 === 2L,
      s"doc 1's tail is verbatim in both reference docs: ${g(1L)}")
    assert(g(3L)._1 === "rejected" && g(3L)._2 === 0,
      "a rejected doc still carries its (zero) report")
    // Report, never gate: verdicts identical to a stage-off funnel.
    val storeOff = java.nio.file.Files.createTempDirectory("admission-ngoff").toString
    Admission.init(spark, storeOff, corpus, "doc_id", "text")
    val off = collectVerdicts(Admission.run(spark, storeOff, b1, "doc_id", "text"))
    assert(g.view.mapValues(_._1).toMap === off.view.mapValues(_._1).toMap,
      "the stage must not change any verdict")

    // The streaming form rides the same cfg; the committed verdict log
    // carries the report columns.
    val ckpt = java.nio.file.Files.createTempDirectory("admission-ng-ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = Admission.stream(spark, store,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      cfg = cfg)
    mem.addData(11L -> (goodText('u') + " lead " + memPhrase))
    q.processAllAvailable()
    q.stop()
    val v0 = spark.read.parquet(s"$store/verdicts/batch_0")
    assert(v0.columns.contains("ngram_match_len"),
      "the committed verdict history must carry the report")
    val r0 = collectFull(v0)
    assert(r0(11L)._2 === 4, s"the streamed doc's tail saturates maxN: ${r0(11L)}")
  }

  test("exact span policy: run == runAgainst across batches; store grows/shrinks with absorb/unadmit; refusals loud") {
    val cfgEx = Admission.Config(exactSpans = Some(Admission.ExactSpanStage(
      minLen = 8, maxLen = 256)))
    // Variable-length plants: a 9-token corpus-shared run (the exact
    // policy reports its TRUE extent) and an 11-token batch-internal
    // run (the saDupLengths leg of the union coverage).
    val span9 = (1 to 9).map(j => s"ex$j").mkString(" ")
    val span11 = (1 to 11).map(j => s"bx$j").mkString(" ")
    val corpus = df(Seq(101L -> (goodText('r') + " " + span9)))
    val b1 = df(Seq(
      2L -> (goodText('p') + " " + span9),   // corpus-shared 9-run scrubs
      3L -> (goodText('q') + " " + span11),  // batch-internal 11-run, copy A
      4L -> (goodText('t') + " " + span11),  // batch-internal 11-run, copy B
      5L -> "zz"))                           // rejected
    val store = java.nio.file.Files.createTempDirectory("admission-exact").toString
    Admission.init(spark, store, corpus, "doc_id", "text", cfgEx)

    val got1 = collectVerdicts(Admission.run(spark, store, b1, "doc_id", "text", cfgEx))
    val want1 = collectVerdicts(Admission.runAgainst(b1, corpus, "doc_id", "text", cfgEx))
    assert(got1 == want1, s"exact-policy law diverged:\n store=$got1\n ref  =$want1")
    assert(got1(2L)._1 == "admitted" && got1(2L)._3 >= 9,
      s"the 9-token corpus-shared run must scrub at its true extent: ${got1(2L)}")
    assert(!got1(2L)._4.contains("ex1"), s"span tokens must leave: ${got1(2L)}")
    assert(got1(3L)._3 >= 11 && got1(4L)._3 >= 11,
      s"the batch-internal 11-run scrubs BOTH copies (all-copies, occ >= 2): " +
        s"${got1(3L)} / ${got1(4L)}")
    assert(got1(5L)._1 == "rejected")

    // Batch 2 sees batch 1's ADMITTED spans via the standing SaStore.
    val b2 = df(Seq(11L -> (goodText('u') + " " + span11)))
    val got2 = collectVerdicts(Admission.run(spark, store, b2, "doc_id", "text", cfgEx))
    val want2 = collectVerdicts(Admission.runAgainst(b2,
      corpus.unionByName(b1.filter(col("doc_id").isin(2L, 3L, 4L))),
      "doc_id", "text", cfgEx))
    assert(got2 == want2, s"batch-2 exact law diverged:\n store=$got2\n ref  =$want2")
    assert(got2(11L)._3 >= 11,
      s"a batch-1-admitted span must scrub from batch 2: ${got2(11L)}")

    // Unadmit the span11 carriers; after maintain (compacts the
    // tombstones), the store answers as if they were never absorbed.
    Admission.unadmit(spark, store, b1.filter(col("doc_id").isin(3L, 4L)),
      "doc_id", "text", cfgEx, name = Some("rm_b1ex"))
    Admission.maintain(spark, store, cfgEx)
    val got3 = collectVerdicts(Admission.run(spark, store, b2
        .withColumn("doc_id", col("doc_id") + 10L), "doc_id", "text", cfgEx))
    val want3 = collectVerdicts(Admission.runAgainst(
      b2.withColumn("doc_id", col("doc_id") + 10L),
      corpus.unionByName(b1.filter(col("doc_id") === 2L))
        .unionByName(b2), "doc_id", "text", cfgEx))
    assert(got3 == want3, s"post-unadmit exact law diverged:\n store=$got3\n ref  =$want3")

    // Config refusals: the exact policy replaces the fixed-k knobs.
    val e1 = intercept[IllegalArgumentException](Admission.Config(
      spanKeepFirst = true, exactSpans = Some(Admission.ExactSpanStage())))
    assert(e1.getMessage.contains("exactSpans"))
    val e2 = intercept[IllegalArgumentException](Admission.Config(
      minDocs = 3, exactSpans = Some(Admission.ExactSpanStage())))
    assert(e2.getMessage.contains("exactSpans"))

    // fsck covers the exact store; snapshot pins it.
    assert(Admission.fsck(spark, store, cfgEx).filter(!col("ok")).isEmpty)
    Admission.snapshot(store, "vex")
    assert(Admission.snapshotPinned(store, "vex"))
  }

  test("exact attribution report: columns ride run == runAgainst == stream; report, never gate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val span9 = (1 to 9).map(j => s"at$j").mkString(" ")
    val cfgA = Admission.Config(exactSpans = Some(Admission.ExactSpanStage(
      minLen = 8, maxLen = 256, attributeSites = 2)))
    // THREE corpus carriers of the 9-token tail — more sites than the cap.
    val corpus = df(Seq(
      101L -> (goodText('r') + " " + span9),
      102L -> (goodText('s') + " " + span9),
      103L -> (goodText('t') + " " + span9)))
    val b1 = df(Seq(
      1L -> (goodText('p') + " " + span9), // tail verbatim in all three
      2L -> goodText('q'),                 // no tail overlap
      3L -> "zz"))                         // rejected — the report still covers it
    val store = java.nio.file.Files.createTempDirectory("admission-attr").toString
    Admission.init(spark, store, corpus, "doc_id", "text", cfgA)

    def collectAttr(v: DataFrame): Map[Long, (String, Int, Seq[(Long, Int)])] =
      v.select(col("doc_id"), col("verdict"), col("sa_match_len"), col("sa_sites"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2),
          r.getSeq[org.apache.spark.sql.Row](3)
            .map(s => (s.getLong(0), s.getInt(1))).toSeq))).toMap

    val got = Admission.run(spark, store, b1, "doc_id", "text", cfgA)
    assert(got.columns.takeRight(2).toSeq === Seq("sa_match_len", "sa_sites"))
    val g = collectAttr(got)
    val want = collectAttr(Admission.runAgainst(b1, corpus, "doc_id", "text", cfgA))
    assert(g === want, s"attribution law diverged:\n store=$g\n ref  =$want")
    assert(g(1L)._2 === 9 && g(1L)._3.length === 2,
      s"unbounded match with the site cap holding: ${g(1L)}")
    assert(g(1L)._3.map(_._1) === Seq(101L, 102L),
      s"sites deterministic by (doc_id, pos): ${g(1L)}")
    assert(g(2L)._2 < 9 && g(3L)._1 === "rejected" && g(3L)._3.isEmpty,
      s"no-match and rejected docs carry (0-ish, empty) reports: $g")
    // Report, never gate: verdicts identical to the attribution-off policy.
    val off = collectVerdicts(Admission.runAgainst(b1, corpus, "doc_id", "text",
      Admission.Config(exactSpans = Some(Admission.ExactSpanStage(
        minLen = 8, maxLen = 256)))))
    assert(g.view.mapValues(_._1).toMap === off.view.mapValues(_._1).toMap,
      "the report must not change any verdict")

    // Streaming rides the same cfg; the committed verdict log carries the
    // report, computed against the GROWN store (batch 1's admitted copy of
    // the span is now the lowest-id site, still capped).
    val ckpt = java.nio.file.Files.createTempDirectory("admission-attr-ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = Admission.stream(spark, store,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      cfg = cfgA)
    mem.addData(11L -> (goodText('u') + " " + span9))
    q.processAllAvailable()
    q.stop()
    val v0 = spark.read.parquet(s"$store/verdicts/batch_0")
    assert(v0.columns.contains("sa_sites"),
      "the committed verdict history must carry the attribution report")
    val r0 = collectAttr(v0)
    assert(r0(11L)._2 === 9 && r0(11L)._3.map(_._1) === Seq(1L, 101L),
      s"the absorbed batch-1 copy must attribute as the lowest-id site: ${r0(11L)}")
  }

  test("exact policy: a committed batch's replay completes after a crash-window unadmit") {
    import graft.sources.{AdditiveLedger, DeltaParts}
    val cfgEx = Admission.Config(exactSpans = Some(Admission.ExactSpanStage(
      minLen = 8, maxLen = 256)))
    val corpus = df(Seq(101L -> goodText('r')))
    val b1 = df(Seq(2L -> goodText('p')))
    val store = java.nio.file.Files.createTempDirectory("admission-exre").toString
    Admission.init(spark, store, corpus, "doc_id", "text", cfgEx)
    val out1 = collectVerdicts(Admission.runCommitted(spark, store, b1,
      "doc_id", "text", 1L, cfgEx))
    assert(out1(2L)._1 == "admitted")
    // Takedown of the admitted content: tombstones its id in the exact store.
    Admission.unadmit(spark, store, b1, "doc_id", "text", cfgEx,
      name = Some("rm_x"))
    // Reproduce the crash window "exact-store append completed, span-ledger
    // record not yet landed": under the exact policy the span delta part is
    // an empty shell, so rewinding part_b1 out of the span ledgers IS that
    // state — the exact store's own _absorbed record still holds part_b1.
    val span = s"$store/span_index"
    DeltaParts.publish(span, DeltaParts.list(span).filterNot(_ == "part_b1"))
    val abs = AdditiveLedger.absorbedDir(span)
    DeltaParts.publish(abs, DeltaParts.list(abs).filterNot(_ == "part_b1"))
    // The replay must complete idempotently — the absorbed exact-store
    // append skips its pre-flight (whose tombstone-clash check
    // legitimately fails for state the LATER unadmit changed) — and
    // return the batch's ORIGINAL committed verdicts.
    val replay = collectVerdicts(Admission.runCommitted(spark, store, b1,
      "doc_id", "text", 1L, cfgEx))
    assert(replay === out1,
      s"replay must read back the committed verdicts:\n got=$replay\n want=$out1")
    // …and it must NOT resurrect the unadmitted content in the OTHER
    // legs: the exact store's absorbed record proves the fingerprint
    // upsert already ran once, so the replay skips it — a fresh
    // submission of the taken-down text is novel again (a resurrected
    // fingerprint would verdict it 'duplicate' forever while the exact
    // store keeps saying removed).
    val resub = collectVerdicts(Admission.runCommitted(spark, store,
      df(Seq(42L -> goodText('p'))), "doc_id", "text", 2L, cfgEx))
    assert(resub(42L)._1 == "admitted",
      s"taken-down content must be re-admittable after the replay: $resub")
  }

  test("delta-name counter never rewinds onto an absorbed name across compactions") {
    // init → run(part_00001) → compact → epoch batch (part_b0) → compact
    // sweeps every numeric orphan dir; a ledger/disk-only counter would
    // rewind and eventually regenerate part_00001 — which the absorbed
    // record knows — and absorb would silently DROP that new batch.
    val store = java.nio.file.Files.createTempDirectory("admission-rewind").toString
    Admission.init(spark, store, df(Seq(501L -> goodText('r'))), "doc_id", "text")
    assert(collectVerdicts(Admission.run(spark, store,
      df(Seq(511L -> goodText('s'))), "doc_id", "text"))(511L)._1 == "admitted")
    Admission.compact(spark, store)
    assert(collectVerdicts(Admission.runCommitted(spark, store,
      df(Seq(521L -> goodText('t'))), "doc_id", "text", batchId = 0L))(521L)._1 == "admitted")
    Admission.compact(spark, store)   // second compact sweeps numeric orphans
    // two more sequential runs — each MUST absorb (verdicts prove it:
    // an exact duplicate of each batch is then rejected as duplicate)
    assert(collectVerdicts(Admission.run(spark, store,
      df(Seq(531L -> goodText('u'))), "doc_id", "text"))(531L)._1 == "admitted")
    assert(collectVerdicts(Admission.run(spark, store,
      df(Seq(541L -> goodText('v'))), "doc_id", "text"))(541L)._1 == "admitted")
    val dupCheck = collectVerdicts(Admission.run(spark, store,
      df(Seq(551L -> goodText('u'), 552L -> goodText('v'))), "doc_id", "text"))
    assert(dupCheck(551L)._1 == "duplicate" && dupCheck(552L)._1 == "duplicate",
      s"a rewound counter dropped an absorbed batch from the stores: $dupCheck")
  }

  test("ingest fan-out: admitted docs refresh the BM25 and LSH band indexes O(batch)") {
    import graft.operators.{Bm25, Bm25Store, DedupOps}
    val corpus = df(Seq(401L -> goodText('r'), 402L -> goodText('s')))
    val store = java.nio.file.Files.createTempDirectory("fanout").toString
    val bm25Dir = java.nio.file.Files.createTempDirectory("fanout-bm25").toString
    Admission.init(spark, store, corpus, "doc_id", "text")
    Bm25Store.init(spark, bm25Dir, corpus, "doc_id", "text")

    val batch = df(Seq(
      411L -> (goodText('z') + " uniquetokenxyz"),   // admitted
      412L -> goodText('r')))                        // duplicate of 401
    val verdicts = Admission.run(spark, store, batch, "doc_id", "text")
    // the production fan-out: ONLY the admitted originals flow into the
    // retrieval indexes — each refresh O(batch), standing state unread
    val admitted = batch.join(
      verdicts.filter(col("verdict") === "admitted").select("doc_id"), "doc_id")
    Bm25Store.append(spark, bm25Dir, admitted, "doc_id", "text")

    // the admitted doc is retrievable with CURRENT statistics...
    val q = Seq((1L, "uniquetokenxyz")).toDF("qid", "qtext")
    val hits = Bm25.searchIndex(Bm25Store.readIndex(spark, bm25Dir), q,
      "qid", "qtext", k = 5, maxDfFrac = 1.0).collect()
    assert(hits.map(_.getLong(1)).toSeq == Seq(411L))
    // ...and the duplicate never entered any index
    val idx = Bm25Store.readIndex(spark, bm25Dir)
    assert(idx.filter(col("doc_id") === 412L).isEmpty)
    assert(idx.select("n_docs").distinct().head().getLong(0) == 3L,
      "corpus stats must count exactly corpus + admitted")
    // the LSH band index refreshes from the same admitted frame
    val bandDir = java.nio.file.Files.createTempDirectory("fanout-band").toString
    DedupOps.refreshBandIndexStored(spark, bandDir, corpus, "doc_id", "text",
      shingleN = 3, k = 4, bands = 4, version = 0L)
    DedupOps.refreshBandIndexStored(spark, bandDir, admitted, "doc_id", "text",
      shingleN = 3, k = 4, bands = 4, version = 1L)
    val band = graft.sources.TableSink.read(spark, bandDir,
      spark.range(0).select(lit(0L).as("doc_id"), lit(0).as("band"),
        lit("").as("bv"), lit(0L).as("__v")))
    val ids = band.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == Set(401L, 402L, 411L), s"band index must hold corpus + admitted only: $ids")
  }

  test("ingest fan-out: semantic store probes and absorbs the admitted docs' embeddings") {
    import graft.operators.SemDedupStore
    import graft.pipelines.NewsPipeline
    def embed(d: DataFrame) = d.select(col("doc_id"),
      NewsPipeline.hashEmbedding(col("text")).as("embedding"))
    val corpus = df(Seq(801L -> goodText('r'), 802L -> goodText('s')))
    val semDir = java.nio.file.Files.createTempDirectory("fanout-sem").toString
    SemDedupStore.init(spark, semDir, embed(corpus), "doc_id", "embedding", nlist = 2)
    // 812 repeats corpus 801's text → identical hash embedding → cosine
    // 1.0 ≥ eps → semantic duplicate; 811 is novel.
    val batch = df(Seq(811L -> goodText('z'), 812L -> goodText('r')))
    val v1 = SemDedupStore.probe(spark, semDir, embed(batch),
        "doc_id", "embedding", eps = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(v1 == Map(811L -> true, 812L -> false), s"semantic probe wrong: $v1")
    // The admission fan-out: only the semantically-novel doc absorbs;
    // a later repeat of IT is then caught by the standing store.
    SemDedupStore.absorb(spark, semDir,
      embed(batch.filter(col("doc_id") === 811L)), "doc_id", "embedding",
      version = 1L)
    val v2 = SemDedupStore.probe(spark, semDir,
        embed(df(Seq(821L -> goodText('z')))), "doc_id", "embedding", eps = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(v2 == Map(821L -> false),
      s"a repeat of an absorbed doc must be a semantic duplicate: $v2")
  }

  test("init refuses a previously-used store dir (run-once contract, loud)") {
    val store = java.nio.file.Files.createTempDirectory("admission-reinit").toString
    Admission.init(spark, store, df(Seq(601L -> goodText('r'))), "doc_id", "text")
    // Use the store (absorbed ledger + verdict history accumulate)...
    Admission.runCommitted(spark, store, df(Seq(611L -> goodText('s'))),
      "doc_id", "text", batchId = 1L)
    // ...then a re-init must refuse instead of resetting fingerprints and
    // the span base under the surviving _absorbed/verdicts history (a
    // replayed batchId would silently return the old life's verdicts).
    val e = intercept[IllegalStateException](
      Admission.init(spark, store, df(Seq(601L -> goodText('r'))), "doc_id", "text"))
    assert(e.getMessage.contains("already initialized"), e.getMessage)
  }

  test("snapshot tag pins the span inventory and fingerprints across runs and compaction sweeps") {
    import graft.sources.{DeltaParts, TableSink}
    val store = java.nio.file.Files.createTempDirectory("admission-snap").toString
    val corpus = df(Seq(701L -> (goodText('r') + " " + boiler)))
    Admission.init(spark, store, corpus, "doc_id", "text")
    def spanRows(tag: Option[String]) =
      Admission.readSpanIndex(spark, store, tag).collect().map(_.toSeq).toSet
    val pinnedSpan = spanRows(None)
    val pinnedFps = TableSink.read(spark, s"$store/fingerprints",
      spark.range(0).select(lit("").as("__fp"))).select("__fp")
      .collect().map(_.getString(0)).toSet
    Admission.snapshot(store, "train-1")
    // Mutate: two run+compact cycles so the second compact's sweep
    // removes the first cycle's unpinned orphan parts.
    Admission.run(spark, store, df(Seq(711L -> goodText('s'))), "doc_id", "text")
    Admission.compact(spark, store)
    Admission.run(spark, store, df(Seq(721L -> goodText('t'))), "doc_id", "text")
    Admission.compact(spark, store)
    assert(spanRows(Some("train-1")) == pinnedSpan,
      "read-at-tag must replay the pinned span inventory byte-identically")
    assert(spanRows(None) != pinnedSpan, "live reads must see the grown inventory")
    val fpsAtTag = TableSink.readSnapshot(spark, s"$store/fingerprints", "train-1")
      .select("__fp").collect().map(_.getString(0)).toSet
    assert(fpsAtTag == pinnedFps,
      "fingerprint snapshot must replay the tagged generation")
    // Restore: both stores roll back to the tag; a new batch duplicating
    // the ROLLED-BACK (721) content is novel again, while corpus content
    // from before the tag still blocks.
    Admission.restore(spark, store, "train-1")
    assert(spanRows(None) == pinnedSpan, "restored span reads equal the pinned state")
    val post = collectVerdicts(Admission.run(spark, store,
      df(Seq(731L -> goodText('t'), 732L -> (goodText('r') + " " + boiler))),
      "doc_id", "text"))
    assert(post(731L)._1 == "admitted",
      s"content absorbed only after the tag must be novel post-restore: $post")
    assert(post(732L)._1 == "duplicate",
      s"pre-tag corpus content must still block post-restore: $post")
    Admission.dropSnapshot(store, "train-1")
    assert(DeltaParts.pinned(s"$store/span_index").isEmpty)
  }

  test("semantic stage: four-stage precedence; run == runAgainst with the stage on; members grow O(batch) in the same call") {
    import graft.functions.VectorMeanFast
    import graft.pipelines.NewsPipeline
    // The stage's embedding is the deterministic bag-of-words hash, so a
    // word PERMUTATION is the perfect semantic duplicate: different text
    // (exact-novel, different fingerprint), identical embedding (cosine
    // exactly 1.0) — the rewording case the fingerprint can never catch.
    val vecsFor = (d: DataFrame) => d.select(col("doc_id"),
      NewsPipeline.hashEmbedding(col("text")).as("embedding"))
    def permute(t: String): String = t.split(" ").reverse.mkString(" ")
    val corpus = df(Seq(901L -> goodText('r'), 902L -> (goodText('s') + " " + boiler)))
    // Caller-pinned centroids so the in-memory and standing forms judge
    // under the identical fixed fit (the initWithCentroids seam).
    val cents = vecsFor(corpus)
      .groupBy(pmod(col("doc_id"), lit(2)).as("cid"))
      .agg(VectorMeanFast(col("embedding").cast("array<double>")).as("cvec"))
    val cfg = Admission.Config(sem = Some(Admission.SemStage(vecsFor,
      eps = 0.99, centroids = Some(cents))))
    val store = java.nio.file.Files.createTempDirectory("admission-sem").toString
    Admission.init(spark, store, corpus, "doc_id", "text", cfg)
    val b1 = df(Seq(
      1L -> goodText('r'),          // exact copy of 901 → duplicate (exact beats semantic)
      2L -> permute(goodText('r')), // bag of 901 → cos 1.0 → semantic_duplicate
      3L -> "zz",                   // fails curation → rejected (beats everything)
      4L -> goodText('t')))         // novel bag → admitted
    val got1 = collectVerdicts(Admission.run(spark, store, b1, "doc_id", "text", cfg))
    val want1 = collectVerdicts(Admission.runAgainst(b1, corpus, "doc_id", "text", cfg))
    assert(got1 == want1, s"batch 1 diverged:\n store=$got1\n ref  =$want1")
    assert(got1(1L)._1 == "duplicate" && got1(2L)._1 == "semantic_duplicate" &&
      got1(3L)._1 == "rejected" && got1(4L)._1 == "admitted",
      s"four-stage precedence: $got1")
    // O(batch) maintenance in the SAME run call: the member store grew by
    // the admitted doc only — rejected/duplicate/semantic-dup docs never
    // anchor later verdicts.
    val like = spark.range(0).select(lit(0L).as("cluster_id"), lit(0L).as("id"),
      array().cast("array<double>").as("v"), lit("").as("__cl_s"))
    val members = graft.sources.TableSink.read(spark,
        s"${Admission.semDir(store)}/members", like)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(members == Set(901L, 902L, 4L),
      s"members must be corpus + admitted only: $members")
    // Incremental: a permutation of the b1-ADMITTED doc — only the store
    // knows that doc — is a semantic duplicate in batch 2.
    val b2 = df(Seq(11L -> permute(goodText('t')), 12L -> goodText('u')))
    val corpus2 = corpus.unionByName(b1.filter(col("doc_id") === 4L))
    val got2 = collectVerdicts(Admission.run(spark, store, b2, "doc_id", "text", cfg))
    val want2 = collectVerdicts(Admission.runAgainst(b2, corpus2, "doc_id", "text", cfg))
    assert(got2 == want2, s"batch 2 diverged:\n store=$got2\n ref  =$want2")
    assert(got2(11L)._1 == "semantic_duplicate" && got2(12L)._1 == "admitted",
      s"store must semantically remember b1's admitted doc: $got2")
    // One-namespace guard: stage-4 member versions are pure functions
    // of the batch NAME, and run() (counter names) vs runCommitted()
    // (batch-id names) number independently — mixing them on one store
    // could roll a newer vector back, so it must refuse loudly.
    val e = intercept[IllegalArgumentException](
      Admission.runCommitted(spark, store,
        df(Seq(21L -> goodText('v'))), "doc_id", "text", batchId = 7L, cfg))
    assert(e.getMessage.contains("cannot interleave"), e.getMessage)
  }

  test("semantic stage: the member store rides snapshot/restore (anchors forgotten, sidecar rebuilt)") {
    import graft.functions.VectorMeanFast
    import graft.pipelines.NewsPipeline
    val vecsFor = (d: DataFrame) => d.select(col("doc_id"),
      NewsPipeline.hashEmbedding(col("text")).as("embedding"))
    def permute(t: String): String = t.split(" ").reverse.mkString(" ")
    val corpus = df(Seq(951L -> goodText('r'), 952L -> goodText('s')))
    val cents = vecsFor(corpus)
      .groupBy(pmod(col("doc_id"), lit(2)).as("cid"))
      .agg(VectorMeanFast(col("embedding").cast("array<double>")).as("cvec"))
    val cfg = Admission.Config(sem = Some(Admission.SemStage(vecsFor,
      eps = 0.99, centroids = Some(cents))))
    val store = java.nio.file.Files.createTempDirectory("admission-sem-snap").toString
    Admission.init(spark, store, corpus, "doc_id", "text", cfg)
    Admission.snapshot(store, "pre-b1")
    def verdictOf(id: Long, text: String): String =
      collectVerdicts(Admission.run(spark, store,
        df(Seq(id -> text)), "doc_id", "text", cfg))(id)._1
    assert(verdictOf(41L, goodText('t')) == "admitted")
    assert(verdictOf(51L, permute(goodText('t'))) == "semantic_duplicate",
      "the absorbed anchor must catch its rewording")
    // Roll every store back to the tag: the semantic anchor 41 is
    // forgotten, so the same rewording now admits.
    Admission.restore(spark, store, "pre-b1")
    assert(verdictOf(61L, permute(goodText('t'))) == "admitted",
      "post-restore the rolled-back anchor must not fire")
    // The sidecar was rebuilt from the restored layout, and the store
    // keeps functioning: 61 absorbed above, so a DIFFERENT permutation
    // of the same bag (exact-novel text, identical embedding) is caught
    // semantically — not exactly (61's text was the reversal; this is
    // the rotation).
    assert(graft.sources.IdLayoutSidecar.exists(
      s"${Admission.semDir(store)}/members"),
      "restore must rebuild the id→cluster sidecar")
    def rotate(t: String): String = {
      val w = t.split(" "); (w.drop(1) :+ w.head).mkString(" ")
    }
    assert(verdictOf(71L, rotate(goodText('t'))) == "semantic_duplicate",
      "post-restore absorbs must anchor again")
    Admission.dropSnapshot(store, "pre-b1")
  }

  test("maintain: the semantic member store refits once absorbs trip the accounting; run ≡ runAgainst under the rebuilt centroids") {
    import graft.functions.VectorMeanFast
    import graft.operators.SemDedupStore
    import graft.pipelines.NewsPipeline
    val vecsFor = (d: DataFrame) => d.select(col("doc_id"),
      NewsPipeline.hashEmbedding(col("text")).as("embedding"))
    def permute(t: String): String = t.split(" ").reverse.mkString(" ")
    val corpus = df(Seq(971L -> goodText('r'), 972L -> goodText('s')))
    val cents = vecsFor(corpus)
      .groupBy(pmod(col("doc_id"), lit(2)).as("cid"))
      .agg(VectorMeanFast(col("embedding").cast("array<double>")).as("cvec"))
    val cfg = Admission.Config(sem = Some(Admission.SemStage(vecsFor,
      eps = 0.99, centroids = Some(cents), nlist = 2)))
    val store = java.nio.file.Files.createTempDirectory("admission-maint").toString
    Admission.init(spark, store, corpus, "doc_id", "text", cfg)
    assert(!Admission.maintain(spark, store, cfg),
      "a fresh fit must not fire the semantic rebuild")
    // absorb ~the fitted volume (base = 2 corpus docs): trips at 0.5
    val b1 = df(Seq(81L -> goodText('t'), 82L -> goodText('u')))
    val v1 = collectVerdicts(Admission.run(spark, store, b1, "doc_id", "text", cfg))
    assert(v1(81L)._1 == "admitted" && v1(82L)._1 == "admitted")
    assert(Admission.maintain(spark, store, cfg),
      "absorbing the fitted volume again must fire exactly one rebuild")
    assert(!Admission.maintain(spark, store, cfg),
      "an immediate re-maintain must be a no-op")
    // Post-refit, the funnel keeps the equality law — under the
    // REBUILT centroids (the fixed init-time fit is superseded).
    val cents2 = SemDedupStore.readCentroids(spark, Admission.semDir(store))
    val cfg2 = Admission.Config(sem = Some(Admission.SemStage(vecsFor,
      eps = 0.99, centroids = Some(cents2), nlist = 2)))
    val probe = df(Seq(91L -> permute(goodText('t')), 92L -> goodText('v')))
    val corpus2 = corpus.unionByName(b1)
    val got = collectVerdicts(Admission.run(spark, store, probe, "doc_id", "text", cfg))
    val want = collectVerdicts(Admission.runAgainst(probe, corpus2, "doc_id", "text", cfg2))
    assert(got == want, s"post-refit diverged:\n store=$got\n ref  =$want")
    assert(got(91L)._1 == "semantic_duplicate" && got(92L)._1 == "admitted",
      s"post-refit verdicts: $got")
  }

  test("contamination stage: precedence, no absorb of benchmark text, run == runAgainst") {
    import graft.operators.EvalStore
    val corpus = df(Seq(101L -> goodText('r')))
    // The benchmark registry holds copies of the 'c' and 'r' texts.
    // n = 12: the shared 11-token goodText intro alone can never form a
    // full 12-gram, so only same-seed texts overlap.
    val bench = df(Seq(900L -> goodText('c'), 901L -> goodText('r')))
    val registry = java.nio.file.Files.createTempDirectory("adm-registry").toString + "/r"
    EvalStore.init(spark, registry, "suite_v1", bench, "text", n = 12)
    val cfg = Admission.Config(decon = Some(Admission.DeconStage(registry)))

    val b1 = df(Seq(
      1L -> goodText('c'),   // novel but in-benchmark → contaminated
      2L -> goodText('r'),   // exact corpus copy AND in-benchmark → contaminated beats duplicate
      3L -> "zz",            // fails curation → rejected (beats contaminated)
      4L -> goodText('x')))  // clean → admitted
    val store = java.nio.file.Files.createTempDirectory("admission-decon").toString
    Admission.init(spark, store, corpus, "doc_id", "text", cfg)
    val got = collectVerdicts(Admission.run(spark, store, b1, "doc_id", "text", cfg))
    val want = collectVerdicts(Admission.runAgainst(b1, corpus, "doc_id", "text", cfg))
    assert(got == want, s"decon diverged:\n store=$got\n ref  =$want")
    assert(got(1L)._1 == "contaminated" && got(2L)._1 == "contaminated" &&
      got(3L)._1 == "rejected" && got(4L)._1 == "admitted", s"verdicts: $got")

    // Benchmark text must never absorb: retire the suite (screen off) and
    // resubmit — if doc 1's text had entered the stores it would now read
    // 'duplicate'; it must admit. Doc 2's text was in the corpus at init,
    // so IT stays duplicate — the store remembers the corpus, not the
    // contaminated submission.
    EvalStore.deregister(spark, registry, "suite_v1", bench, "text")
    val b2 = df(Seq(21L -> goodText('c'), 22L -> goodText('r')))
    val got2 = collectVerdicts(Admission.run(spark, store, b2, "doc_id", "text", cfg))
    assert(got2(21L)._1 == "admitted",
      s"contaminated text must not have been absorbed: ${got2(21L)}")
    assert(got2(22L)._1 == "duplicate", s"corpus copy must stay duplicate: ${got2(22L)}")
  }

  test("streaming ingest screens contamination (decon cfg rides foreachBatch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.EvalStore
    implicit val sq = spark.sqlContext
    val corpus = df(Seq(301L -> goodText('r')))
    val store = java.nio.file.Files.createTempDirectory("admission-dstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("admission-dstream-ckpt").toString
    val registry = java.nio.file.Files.createTempDirectory("adm-dstream-reg").toString + "/r"
    EvalStore.init(spark, registry, "suite", df(Seq(900L -> goodText('c'))),
      "text", n = 12)
    val cfg = Admission.Config(decon = Some(Admission.DeconStage(registry)))
    Admission.init(spark, store, corpus, "doc_id", "text", cfg)

    val mem = MemoryStream[(Long, String)]
    val q = Admission.stream(spark, store,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L), cfg)
    mem.addData(41L -> goodText('c'), 42L -> goodText('w'))
    q.processAllAvailable()
    mem.addData(51L -> goodText('c')) // resubmitted benchmark text
    q.processAllAvailable()
    q.stop()

    val v0 = collectVerdicts(spark.read.parquet(s"$store/verdicts/batch_0"))
    assert(v0(41L)._1 == "contaminated" && v0(42L)._1 == "admitted", s"epoch 0: $v0")
    // Still contaminated in epoch 1 — and NOT 'duplicate', which would
    // mean epoch 0 had absorbed the benchmark text.
    val v1 = collectVerdicts(spark.read.parquet(s"$store/verdicts/batch_1"))
    assert(v1(51L)._1 == "contaminated", s"epoch 1: $v1")
  }

  test("retroScan -> unadmit: a benchmark registered AFTER ingest takes its data back out") {
    import graft.operators.EvalStore
    val corpus = df(Seq(101L -> goodText('r')))
    val store = java.nio.file.Files.createTempDirectory("admission-retro").toString
    Admission.init(spark, store, corpus, "doc_id", "text")
    // Batch lands BEFORE the benchmark exists — admits cleanly.
    val b1 = df(Seq(1L -> goodText('c')))
    assert(collectVerdicts(Admission.run(spark, store, b1, "doc_id", "text"))(1L)._1
      === "admitted")

    // The benchmark suite arrives later, containing the admitted text.
    val registry = java.nio.file.Files.createTempDirectory("adm-retro-reg").toString + "/r"
    EvalStore.init(spark, registry, "late_bench", df(Seq(900L -> goodText('c'))),
      "text", n = 12)
    // Retro pass over the caller's corpus (base ∪ admitted) finds it...
    val hit = EvalStore.retroScan(spark, registry, corpus.unionByName(b1),
        "doc_id", "text", "late_bench")
      .collect().map(_.getLong(0)).toSet
    assert(hit === Set(1L), s"retroScan must flag exactly the admitted doc: $hit")
    // ...and the takedown inverse removes it from every standing index.
    Admission.unadmit(spark, store, b1.filter(col("doc_id").isin(hit.toSeq: _*)),
      "doc_id", "text")

    // Proof of removal: with the screen ON the text is contaminated (the
    // registry holds it); with the screen OFF it ADMITS — were it still
    // in the fingerprint store it would read 'duplicate'.
    val cfg = Admission.Config(decon = Some(Admission.DeconStage(registry)))
    assert(collectVerdicts(Admission.run(spark, store,
      df(Seq(31L -> goodText('c'))), "doc_id", "text", cfg))(31L)._1 === "contaminated")
    assert(collectVerdicts(Admission.run(spark, store,
      df(Seq(32L -> goodText('c'))), "doc_id", "text"))(32L)._1 === "admitted")

    // With the screen on, the one-call fsck audits the registry too.
    val rep = Admission.fsck(spark, store, cfg)
    assert(rep.filter(!col("ok")).count() === 0)
    assert(rep.filter(col("check") === "gram_size_pinned").count() === 1,
      "the decon config's registry must join the funnel report")
  }

  test("null-text rows are definitely-new (anti-join null semantics), both forms") {
    val corpus = df(Seq(201L -> goodText('v')))
    val batch = Seq((31L, goodText('w')), (32L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("admission-null").toString
    Admission.init(spark, store, corpus, "doc_id", "text")
    val got = collectVerdicts(Admission.run(spark, store, batch, "doc_id", "text"))
    val want = collectVerdicts(Admission.runAgainst(batch, corpus, "doc_id", "text"))
    assert(got == want)
    // null text fails curation (no tokens) → rejected, not a crash
    assert(got(32L)._1 == "rejected")
  }
  test("Config refuses minDocs under keep-first (the threshold would be silently ignored)") {
    val e = intercept[IllegalArgumentException](
      Admission.Config(minDocs = 5, spanKeepFirst = true))
    assert(e.getMessage.contains("minDocs"))
    Admission.Config(minDocs = 5)             // all-copies: threshold applies
    Admission.Config(spanKeepFirst = true)    // keep-first at the default
  }

}
