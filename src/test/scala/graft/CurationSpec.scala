package graft

import graft.operators.CurationOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite with SparkSpec {

  test("repetitionStats: duplicate lines and modal bigram measured, thresholds applied") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\nalpha beta\nalpha beta\ngamma"),   // 3 dup lines of 4
      (2L, "one two three four five six seven eight"),     // clean
      (3L, "spam spam spam spam spam"),                    // one bigram 4/4
      (4L, ""),                                            // empty
    ).toDF("doc_id", "text")
    val got = CurationOps.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(math.abs(got(1L)._1 - 0.5) < 1e-12, "4 lines, 2 distinct -> dup 0.5")
    assert(!got(1L)._3, "over the 0.30 duplicate-line threshold")
    assert(got(2L)._1 == 0.0 && got(2L)._3, "clean doc passes")
    assert(got(3L)._2 == 1.0 && !got(3L)._3, "modal bigram covers all occurrences")
    assert(got(4L) == ((0.0, 0.0, true)), "empty doc: zero signals, kept")
  }

  test("gopherStats: every published signal measured; thresholds compose into keep") {
    import spark.implicits._
    val docs = Seq(
      (1L, "- first point\n- second point\n- third point\nregular closing line"),
      (2L, "spam spam spam spam spam"),               // modal n-grams cover all
      (3L, "some perfectly ordinary prose that nobody would ever filter away"),
      (4L, "so then...\nand more...\nbut fine"),      // 2 of 3 lines ellipsis
      (5L, "# # tag # done"),                         // symbol-heavy, short words
      (6L, ""),                                       // empty
    ).toDF("doc_id", "text")
    // Length/alpha/stop gates relaxed: this test exercises the
    // repetition/structure signals on deliberately tiny fixtures; the
    // paper-default gates get their own test below.
    val got = CurationOps.gopherStats(docs, "doc_id", "text",
        minWords = 1, minAlphaFrac = 0.0, minStopHits = 0)
      .collect().map(r => r.getLong(0) -> r).toMap
    def d(id: Long, c: String) = got(id).getAs[Double](c)
    assert(math.abs(d(1, "bullet_line_frac") - 0.75) < 1e-12, "3 of 4 lines bulleted")
    assert(d(1, "ellipsis_line_frac") == 0.0)
    // "spam spam spam spam spam": doclen 24; top 2-gram "spam spam"
    // (len 9) × 4 occurrences = 36 chars → 1.5 — overlapping occurrences
    // legitimately exceed 1, exactly as in the published char-fraction
    // implementations.
    assert(math.abs(d(2, "top_2gram_frac") - 36.0 / 24) < 1e-12 &&
      math.abs(d(2, "top_3gram_frac") - 42.0 / 24) < 1e-12 &&
      math.abs(d(2, "top_4gram_frac") - 38.0 / 24) < 1e-12,
      "char-weighted modal n-gram fractions")
    assert(!got(2L).getAs[Boolean]("keep"))
    assert(d(3, "top_2gram_frac") == 0.0,
      "all-distinct grams: nothing repeats, so the repetition fraction is 0")
    assert(got(3L).getAs[Boolean]("keep"), "ordinary prose passes every rule")
    assert(math.abs(d(4, "ellipsis_line_frac") - 2.0 / 3) < 1e-12)
    assert(!got(4L).getAs[Boolean]("keep"), "over the 0.30 ellipsis-line bound")
    assert(math.abs(d(5, "symbol_word_ratio") - 0.6) < 1e-12, "3 '#' over 5 words")
    assert(d(5, "mean_word_len") == 2.0)
    assert(!got(5L).getAs[Boolean]("keep"))
    assert(d(6, "mean_word_len") == 0.0 && !got(6L).getAs[Boolean]("keep"),
      "empty docs fail the mean-word-length band")
    // Paragraph repetition: 2 of 3 paragraphs identical → dup frac 1/3,
    // and the repeated occurrence carries its char share.
    val p = CurationOps.gopherStats(Seq(
        (9L, "unique opening paragraph\n\nsame closing words\n\nsame closing words"),
      ).toDF("doc_id", "text"), "doc_id", "text").collect()(0)
    assert(math.abs(p.getAs[Double]("dup_paragraph_frac") - 1.0 / 3) < 1e-12)
    val expChar = 1.0 - (24.0 + 18.0) / (24.0 + 18.0 + 18.0)
    assert(math.abs(p.getAs[Double]("dup_paragraph_char_frac") - expChar) < 1e-12,
      "chars of the repeated paragraph occurrence over all paragraph chars")
    assert(!p.getAs[Boolean]("keep"), "over the 0.30 dup-paragraph bound")
    // Line-repetition agrees with the narrower operator; the modal-gram
    // columns intentionally differ (occurrence- vs char-weighted).
    val narrow = CurationOps.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    docs.collect().map(_.getLong(0)).foreach { id =>
      assert(d(id, "dup_line_frac") == narrow(id)._1)
    }
  }

  test("gopherStats paper defaults: word-count band, alpha fraction, stop-word gate") {
    import spark.implicits._
    val filler = (1 to 58).map(i => f"word$i%02dxyz")           // distinct, alphabetic
    val numbers = (100 to 157).map(_.toString)                  // distinct, no alpha
    val noStops = (1 to 60).map(i => f"token$i%02dqrs")
    val docs = Seq(
      (1L, ("the and" +: filler).mkString(" ")),                // 60 words, clean → keep
      (2L, "the and just ten short words sit right here now"),  // under the 50-word gate
      (3L, ("the and" +: numbers).mkString(" ")),               // alpha frac 2/60 < 0.8
      (4L, noStops.mkString(" ")),                              // zero stop-word hits
    ).toDF("doc_id", "text")
    val got = CurationOps.gopherStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Int]("n_words") == 60 &&
      got(1L).getAs[Double]("alpha_word_frac") == 1.0 &&
      got(1L).getAs[Int]("n_stop_hits") == 2 &&
      got(1L).getAs[Boolean]("keep"),
      s"a clean 60-word doc passes the full rule set: ${got(1L)}")
    assert(!got(2L).getAs[Boolean]("keep") && got(2L).getAs[Int]("n_words") == 10,
      "the 50-word band rejects short docs under paper defaults")
    assert(!got(3L).getAs[Boolean]("keep") &&
      math.abs(got(3L).getAs[Double]("alpha_word_frac") - 2.0 / 60) < 1e-12,
      "digit-run docs fail the alphabetic-word fraction")
    assert(!got(4L).getAs[Boolean]("keep") && got(4L).getAs[Int]("n_stop_hits") == 0,
      "a doc with no stop words fails the stop-word gate")
  }

  test("occurrence- vs char-weighted modal grams: verdicts genuinely differ") {
    import spark.implicits._
    // A LONG bigram repeated 3× among 12 one-char fillers: 3 of 17 bigram
    // occurrences (0.176 < 0.20 → occurrence rule keeps) but 105 of 131
    // characters (0.80 ≥ 0.20 → char rule rejects) — the case Table A1's
    // character form exists to catch.
    val docs = Seq((1L,
      "intercontinental telecommunications intercontinental telecommunications " +
        "intercontinental telecommunications a b c d e f g h j k l m"))
      .toDF("doc_id", "text")
    val occ = CurationOps.repetitionStats(docs, "doc_id", "text").collect()(0)
    assert(math.abs(occ.getAs[Double]("top_bigram_frac") - 3.0 / 17) < 1e-12)
    assert(occ.getAs[Boolean]("keep"), "occurrence-weighted rule keeps the doc")
    val ch = CurationOps.gopherStats(docs, "doc_id", "text").collect()(0)
    assert(math.abs(ch.getAs[Double]("top_2gram_frac") - 105.0 / 131) < 1e-12,
      s"3 × 35-char occurrences over 131 stream chars: ${ch.getAs[Double]("top_2gram_frac")}")
    assert(!ch.getAs[Boolean]("keep"), "char-weighted rule rejects the same doc")
  }

  test("c4LineClean: line predicate and page flags match the published rules") {
    import spark.implicits._
    val text = Seq(
      "this line has enough words and ends properly.",
      "short line.",                                   // < 5 words
      "this one has plenty of words but no terminal punctuation",
      "enable javascript to see this content please.", // javascript line
      "was it a question with enough words though?").mkString("\n")
    val df = Seq((1L, text),
      (2L, "lorem ipsum filler with a full stop here."),
      (3L, "function f() { return 1; } plus prose sentence here.")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        CurationOps.c4LineClean(col("text")).as("clean"),
        CurationOps.c4DocFlags(col("text")).as("f"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getStruct(2).getBoolean(0), r.getStruct(2).getBoolean(1))).toMap
    assert(got(1L)._1 == Seq(
      "this line has enough words and ends properly.",
      "was it a question with enough words though?").mkString("\n"),
      s"only punctuated, >=5-word, non-javascript lines survive: ${got(1L)._1}")
    assert(!got(1L)._2 && !got(1L)._3)
    assert(got(2L)._2, "lorem ipsum flagged")
    assert(got(3L)._3, "curly brace flagged")
  }

  test("bpePairCounts: frequency-weighted adjacent pairs from the word dict") {
    import spark.implicits._
    // "banana" ×2, "bana" ×1, "x" ×1 (no pairs):
    //   an: 2·2 + 1 = 5, na: 2·2 + 1 = 5, ba: 2 + 1 = 3, nan via "banana"? —
    //   pairs of "banana": ba an na an na; of "bana": ba an na.
    val docs = Seq((1L, "banana bana x"), (2L, "banana")).toDF("doc_id", "text")
    val got = CurationOps.bpePairCounts(docs, "text", 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("an" -> 5L, "na" -> 5L, "ba" -> 3L),
      s"count desc then pair asc: $got")
  }

  test("bpeMerges: sequential dependence, asc tie-break, greedy left-to-right application") {
    import spark.implicits._
    // Ties: (u,v) and (x,y) both count 2 → (u,v) first (pair asc).
    val tied = Seq((1L, "xy xy uv uv")).toDF("doc_id", "text")
    val gotTied = CurationOps.bpeMerges(tied, "text", 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(gotTied == Seq((1, "u", "v", 2L), (2, "x", "y", 2L)),
      s"count desc then pair asc: $gotTied")
    // Sequential dependence + greedy overlap: "aaa" has (a,a) twice
    // (overlapping count), but ONE greedy left-to-right application
    // yields "aa a" — the second merge must see (aa, a), proving each
    // iteration re-counts the MERGED dict, not the original.
    val seqd = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val gotSeq = CurationOps.bpeMerges(seqd, "text", 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // Asked for 3 merges, but after (a,a) then (aa,a) every word is one
    // symbol — exhaustion must end the loop early with exactly 2 rows.
    assert(gotSeq == Seq((1, "a", "a", 4L), (2, "aa", "a", 2L)),
      s"greedy application then re-count, early stop on exhaustion: $gotSeq")
  }

  test("bpeMerges == independent token-level reference on seeded random corpora") {
    import spark.implicits._
    // Reference implementation in plain Scala lists: Sennrich's learn_bpe
    // on token sequences — pair counts with overlap, argmax (count desc,
    // pair asc), token-greedy left-to-right application.
    def reference(texts: Seq[String], merges: Int): Seq[(Int, String, String, Long)] = {
      var dict: Map[List[String], Long] = texts
        .flatMap(_.toLowerCase.trim.split("\\s+").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, ws) =>
          w.split("").filter(_.nonEmpty).toList -> ws.size.toLong }
      def mergeWord(w: List[String], l: String, r: String): List[String] = w match {
        case a :: b :: rest if a == l && b == r => (a + b) :: mergeWord(rest, l, r)
        case a :: rest => a :: mergeWord(rest, l, r)
        case Nil => Nil
      }
      (1 to merges).iterator.map { rank =>
        val counts = dict.toSeq.flatMap { case (w, f) =>
          w.zip(w.drop(1)).map(p => p -> f) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        if (counts.isEmpty) None
        else {
          val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
          dict = dict.toSeq.map { case (w, f) => mergeWord(w, l, r) -> f }
            .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          Some((rank, l, r, cnt))
        }
      }.takeWhile(_.isDefined).flatten.toSeq
    }
    val rng = new scala.util.Random(77)
    for (trial <- 1 to 5) {
      val texts = Seq.fill(2 + rng.nextInt(4))(
        Seq.fill(1 + rng.nextInt(6))(
          Seq.fill(1 + rng.nextInt(5))("abc".charAt(rng.nextInt(3))).mkString
        ).mkString(" "))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = CurationOps.bpeMerges(docs, "text", 4)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val want = reference(texts, 4)
      assert(got == want, s"trial $trial: corpus=$texts\n  engine=$got\n  reference=$want")
    }
  }

  test("bpeTrain: local fold == distributed per-merge loop (merge table AND dict)") {
    import spark.implicits._
    val docs = graft.core.Fixtures.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text")).limit(200)
    // maxLocalDict = 0 forces the distributed escalation; the default
    // routes the same training through the driver-local fold. Identical
    // greedy semantics must mean identical artifacts.
    val (mLocal, dLocal) =
      CurationOps.bpeTrain(docs, "text", merges = 24, keepDict = true)
    val (mDist, dDist) = CurationOps.bpeTrain(docs, "text", merges = 24,
      keepDict = true, maxLocalDict = 0)
    assert(mLocal == mDist, "merge tables must be identical")
    def dictRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(dictRows(dLocal) === dictRows(dDist), "final dicts must be identical")
  }

  test("bpeTrain: a 1k-merge training run completes in seconds under the local fold") {
    // The production concern the local fold exists for: a 30k-merge
    // vocabulary as 30k sequential driver-paced Spark jobs is a
    // scheduling disaster. Under the fold, 1k merges over the fixture
    // corpus must be interactive — the bound is deliberately generous
    // (CI hosts vary); the old per-merge-job path took minutes.
    val docs = graft.core.Fixtures.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val t0 = System.nanoTime()
    val (out, _) = CurationOps.bpeTrain(docs, "text", merges = 1000, keepDict = false)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.nonEmpty && out.size <= 1000)
    assert(secs < 60.0, f"1k merges took $secs%.1f s — driver pacing regressed")
  }

  test("bpeEncode: per-doc token counts shrink under the learned merges") {
    import spark.implicits._
    // 2 merges on "banana"-heavy text: (an) then (ban? or na?) — counts:
    //   after merge1 (a,n): banana → b an an a (4 syms), bana → b an a (3)
    //   pairs: (b,an):3, (an,an):2, (an,a):3 → merge2 = (an,a)? ties:
    //   (an,a):1+2=3 [banana:1 via "an a"? banana= b an an a → (b,an),(an,an),(an,a); bana= b an a → (b,an),(an,a)]
    //   → (an,a): 2·1+1=3, (b,an): 2+1=3 → tie → (an,a) < (b,an)? 'an'<'b' asc → (an,a).
    val docs = Seq((1L, "banana banana bana"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val got = CurationOps.bpeEncode(docs, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1: 3 words; banana → b an an a → merge2(an,a): " b an an a " has
    // " an a " at the SECOND an → b an ana (3 syms); bana → b ana (2)
    assert(got(1L) == ((3L, 3L + 3L + 2L)), s"doc1 segmentation: $got")
    assert(got(2L) == ((0L, 0L)), "empty doc encodes to zero")
    assert(got(3L) == ((1L, 1L)), "single-char word is one token")
  }

  test("bpeStore/bpeEncodeStored: stored encode == direct encode; unseen words " +
    "replay the stored merges; the encode path reads no corpus-sized state") {
    import spark.implicits._
    import graft.sources.TableSink
    val corpusDir = java.nio.file.Files.createTempDirectory("bpe_corpus").toString
    Seq((1L, "banana banana bana ban"), (2L, "bandana banana"), (3L, ""))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val dir = java.nio.file.Files.createTempDirectory("bpe_store").toString
    CurationOps.bpeStore(spark, dir, corpus, "text", 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // (1) Train-store-encode over the training corpus is the identical
    // function: the stored dict IS the trainer's final dict.
    assert(rows(CurationOps.bpeEncodeStored(spark, dir, corpus, "doc_id", "text")) ==
      rows(CurationOps.bpeEncode(corpus, "doc_id", "text", 3)),
      "stored encode diverged from direct encode on the training corpus")
    // (2) Unseen words segment by replaying the stored merge table —
    // checked against a plain-Scala apply_bpe (Sennrich et al. 2016:
    // apply each learned merge greedily left-to-right, in rank order).
    val mLike = spark.range(0).select(lit(0).as("merge_rank"),
      lit("").as("l_sym"), lit("").as("r_sym"), lit(0L).as("cnt"))
    val merges = TableSink.read(spark, s"$dir/merges", mLike)
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.length == 3, s"expected 3 stored merges, got $merges")
    def applyBpe(word: String): Long = {
      var syms = word.split("").filter(_.nonEmpty).toList
      for ((l, r) <- merges) {
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toList
      }
      syms.length.toLong
    }
    val batch = Seq((10L, "banabanana zq banana"), (11L, "nan")).toDF("doc_id", "text")
    val got = rows(CurationOps.bpeEncodeStored(spark, dir, batch, "doc_id", "text"))
    val want = Seq(
      (10L, 3L, applyBpe("banabanana") + applyBpe("zq") + applyBpe("banana")),
      (11L, 1L, applyBpe("nan")))
    assert(got == want, s"unseen-word replay: got $got, want $want")
    // (3) The encode plan's file reads are the vocab-sized store ONLY —
    // never the training corpus (train once, encode forever).
    val files = CurationOps.bpeEncodeStored(spark, dir, batch, "doc_id", "text").inputFiles
    assert(files.nonEmpty && files.forall(_.contains(dir)),
      s"encode should read only the stored vocab tables: $files")
    assert(files.forall(f => !f.contains(corpusDir)),
      "encode path must not read the training corpus")
  }

  test("unigramCrossEntropy: hand-computed add-1 model scores; empty docs score 0") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "")).toDF("doc_id", "text")
    val model = CurationOps.unigramModel(docs, "text")  // a:2 b:1 → N=3 V=2
    val got = CurationOps.unigramCrossEntropy(docs, model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val expected = math.log(5) - (2 * math.log(3) + math.log(2)) / 3
    assert(got(1L)._1 == 3L && math.abs(got(1L)._2 - expected) < 1e-12,
      s"H = ln(N+V) − mean ln(c+1): ${got(1L)}")
    assert(got(2L) == ((0L, 0.0)), "token-less docs score 0 with n_tokens 0")
    // An unseen token carries the full ln(N+V) surprise (ln(0+1) = 0).
    val other = Seq((3L, "zzz")).toDF("doc_id", "text")
    val g3 = CurationOps.unigramCrossEntropy(other, model, "doc_id", "text")
      .collect()(0).getDouble(2)
    assert(math.abs(g3 - math.log(5)) < 1e-12)
  }

  test("decontaminateByEmbedding: near-eval vectors flagged; empty eval admits all") {
    import spark.implicits._
    val train = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val eval_ = Seq((100L, Seq(1.0, 0.01))).toDF("vec_id", "embedding")
    val got = CurationOps.decontaminateByEmbedding(train, eval_, "vec_id", "embedding", 0.9)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(got(1L)._2 && got(1L)._1 > 0.99, s"paraphrase-close embedding flagged: $got")
    assert(!got(2L)._2 && got(2L)._1 < 0.011, s"orthogonal embedding admitted: $got")
    val none = CurationOps.decontaminateByEmbedding(
        train, eval_.filter(col("vec_id") < 0), "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getDouble(1), r.getBoolean(2))).toSet
    assert(none == Set((0.0, false)), "empty eval set: max_sim 0, nothing flagged")
  }

  test("decontaminate: exact n-gram overlap flags only true hits") {
    import spark.implicits._
    val eval_ = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "he saw the quick brown fox yesterday"),  // shares 2 distinct 3-grams
      (2L, "quick brown dog sits quietly"),          // no 3-gram overlap
      (3L, ""),                                      // no grams at all
    ).toDF("doc_id", "text")
    val got = CurationOps.decontaminate(train, eval_, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L) == ((2L, true)), "'the quick brown' and 'quick brown fox' hit")
    assert(got(2L) == ((0L, false)))
    assert(got(3L) == ((0L, false)), "gram-less docs still get a row")
  }

  test("redactPii: emails, IPs, phones replaced in the documented order") {
    import spark.implicits._
    val df = Seq(
      "mail me at a.b+c@ex-ample.org now",
      "server 10.0.255.7 is down",
      "call 555-010-4242 today",
      "clean text with no pii at all",
      "scores were 2019 2020 2021 and 10 9\n8 7 in the end",
      "reach us at +1 (555) 010-1234 or abroad",
      "plain spaced 555 010 1234 works",
      "card 4111111111111111 is a run, not a phone",
    ).toDF("text")
    val got = df.select(CurationOps.redactPii(col("text"))).collect().map(_.getString(0))
    assert(got(0) == "mail me at <EMAIL> now")
    assert(got(1) == "server <IP> is down")
    assert(got(2) == "call <PHONE> today")
    assert(got(3) == "clean text with no pii at all")
    assert(got(4) == "scores were 2019 2020 2021 and 10 9\n8 7 in the end",
      "digit runs spanning whitespace are ordinary text, not phones")
    assert(got(5) == "reach us at <PHONE> or abroad",
      "spaced international format is redacted whole, not just its tail")
    assert(got(6) == "plain spaced <PHONE> works")
    assert(got(7) == "card <PHONE> is a run, not a phone",
      "a long contiguous run is still one redaction (no partial spaced match)")
    // An IP must NOT be half-eaten by the phone pattern.
    val both = Seq("ip 10.0.255.7 phone 555-010-4242 end").toDF("text")
      .select(CurationOps.redactPii(col("text"))).collect()(0).getString(0)
    assert(both == "ip <IP> phone <PHONE> end")
  }

  test("connectedComponents: chains close transitively, separate clusters stay apart") {
    import spark.implicits._
    // 1-2-3-4 is a diameter-3 chain (pairs are NOT a clique); 7-8 apart.
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val comp = graft.operators.DedupOps.connectedComponents(pairs, "id_a", "id_b")
    val got = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
    // Empty pair set: empty result, no iteration blow-up.
    val none = graft.operators.DedupOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b")
    assert(none.count() == 0)
    // The distributed loop (forced via the driver-cutoff conf) computes
    // the SAME min-label fixpoint as the driver union-find path — the
    // r20 size-adaptive closure's equality law.
    val key = graft.operators.DedupOps.CcDriverMaxEdgesConf
    spark.conf.set(key, "0")
    try {
      val loop = graft.operators.DedupOps.connectedComponents(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(loop == got)
      // Out-of-budget propagation must THROW, never return partial labels.
      intercept[IllegalStateException] {
        graft.operators.DedupOps.connectedComponents(pairs, "id_a", "id_b", maxIter = 0)
      }
    } finally spark.conf.unset(key)
    // The driver path ignores maxIter (it always converges): no throw.
    assert(graft.operators.DedupOps.connectedComponents(pairs, "id_a", "id_b",
      maxIter = 0).count() == 6)
  }

  test("connectedComponents refuses a driver-edge cutoff above Int.MaxValue - 1") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (7L, 8L)).toDF("id_a", "id_b")
    val key = graft.operators.DedupOps.CcDriverMaxEdgesConf
    try {
      // Long.MaxValue used to wrap limit(n + 1) to limit(0) and collect
      // unbounded; any value above Int.MaxValue - 1 cannot be bounded.
      Seq(Long.MaxValue, Int.MaxValue.toLong).foreach { v =>
        spark.conf.set(key, v.toString)
        val e = intercept[IllegalArgumentException](
          graft.operators.DedupOps.connectedComponents(pairs, "id_a", "id_b"))
        assert(e.getMessage.contains(key) && e.getMessage.contains(v.toString))
      }
      spark.conf.set(key, (Int.MaxValue - 1).toString)
      assert(graft.operators.DedupOps.connectedComponents(pairs, "id_a", "id_b")
        .count() == 4)
    } finally spark.conf.unset(key)
  }

  test("canonicalizeUrl: two crawls of one page collide; distinct pages do not") {
    import spark.implicits._
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/Docs/1/?utm_source=a&id=7#frag",
      "https://www.example.com/Docs/1?id=7",          // same page, clean form
      "http://example.com:80/a/",
      "http://example.com/a",
      "https://example.com/b?utm_x=1",                // utm-only query drops
      "relative/path/no-scheme",                      // no prefix: passes through
      "http://example.com/a:443/b",                   // ':443' in the PATH is data
      "https://example.com/x?t=1:80",                 // ':80' in the QUERY is data
    ).toDF("url")
    val got = urls.select(CurationOps.canonicalizeUrl(col("url"))).collect().map(_.getString(0))
    assert(got(0) == "https://www.example.com/Docs/1/?id=7")
    assert(got(1) == "https://www.example.com/Docs/1?id=7")
    assert(got(2) == got(3), "default port + trailing slash normalize away")
    assert(got(4) == "https://example.com/b")
    assert(got(5) == "relative/path/no-scheme")
    assert(got(6) == "http://example.com/a:443/b",
      "a port-shaped token in the path must survive — stripping it would " +
        "collide distinct pages and silently drop one at dedup")
    assert(got(7) == "https://example.com/x?t=1:80")
    // Authorities that legitimately contain ':' still get their default
    // port stripped: userinfo and bracketed IPv6 hosts.
    val auth = Seq(
      "http://user:pw@example.com:80/a",
      "http://user:pw@example.com/a",
      "http://[2001:db8::1]:80/a",
      "http://[2001:db8::1]/a",
    ).toDF("url").select(CurationOps.canonicalizeUrl(col("url"))).collect().map(_.getString(0))
    assert(auth(0) == auth(1), s"userinfo URLs must collide: ${auth(0)} vs ${auth(1)}")
    assert(auth(2) == auth(3), s"IPv6 URLs must collide: ${auth(2)} vs ${auth(3)}")
    // Case: path case is PRESERVED (only scheme+host lowercase).
    assert(got(0).contains("/Docs/"))
  }

  test("vocabTopK: counts and deterministic ties") {
    import spark.implicits._
    val docs = Seq("b a a", "c b a", "c").toDF("text")
    val got = CurationOps.vocabTopK(docs, "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 3L), ("b", 2L)), "count desc, then token asc beats c")
  }

  test("chunkTokens: full coverage, exact overlap, no degenerate tails, empty docs vanish") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),  // n=10: starts 1,5 at size 8/stride 4
      (2L, "a b c"),                                   // n < size: one chunk
      (3L, ""), (4L, "   ")                            // no tokens: no chunks
    ).toDF("doc_id", "text")
    val out = graft.operators.CurationOps.chunkTokens(docs, "doc_id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(!out.exists(_._1 >= 3L), "token-less docs emit no chunks")
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._2).toSeq == Seq(0, 1))
    assert(d1(0)._3 == (1 to 8).map(i => s"t$i").mkString(" "))
    assert(d1(1)._3 == (5 to 10).map(i => s"t$i").mkString(" "), "final chunk reaches token n")
    assert(d1.map(_._4).toSeq == Seq(8, 6))
    val d2 = out.filter(_._1 == 2L)
    assert(d2.toSeq == Seq((2L, 0, "a b c", 3)), s"short doc is one whole chunk: ${d2.toSeq}")
    // property: at stride <= size the chunk union covers every token index
    val covered = d1.flatMap { case (_, cid, _, nt) => (cid * 4 + 1) to (cid * 4 + nt) }.toSet
    assert(covered == (1 to 10).toSet)
  }

  test("chunkTokens == independent reference on seeded random ragged corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val seps = Seq(" ", "  ", "\t", "\n", "", " \t ")
    val docs = (1 to 40).map { i =>
      val n = rnd.nextInt(30)
      val body = (1 to n).map(j => s"w$j")
        .mkString(seps(rnd.nextInt(seps.length)))
      (i.toLong, seps(rnd.nextInt(seps.length)) + body)
    }.toDF("doc_id", "text")
    def refToks(t: String): Seq[String] =
      t.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((size, stride) <- Seq((8, 8), (8, 4), (5, 3), (16, 16), (3, 1))) {
      val out = graft.operators.CurationOps.chunkTokens(docs, "doc_id", "text", size, stride)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
        .groupBy(_._1)
      texts.foreach { case (id, t) =>
        val toks = refToks(t)
        val chunks = out.getOrElse(id, Array.empty).sortBy(_._2)
        withClue(s"doc $id size $size stride $stride: ") {
          if (toks.isEmpty) assert(chunks.isEmpty)
          else {
            // reference: starts 1, 1+stride, ... <= max(1, n - size + stride)
            val starts = 1 to math.max(1, toks.size - size + stride) by stride
            assert(chunks.length == starts.size)
            chunks.zip(starts).foreach { case ((_, cid, text0, nt), s0) =>
              val want = toks.slice(s0 - 1, s0 - 1 + size)
              assert(text0 == want.mkString(" "), s"chunk $cid")
              assert(nt == want.size)
            }
          }
        }
      }
    }
  }

  test("packSequences: per-shard token stream chunks exactly, docs span budgets") {
    import spark.implicits._
    // Single shard so the stream order is just doc_id order.
    val docs = Seq(
      (1L, Seq.fill(10)("w").mkString(" ")),  // tokens [0,10)
      (2L, Seq.fill(10)("w").mkString(" ")),  // [10,20)
      (3L, Seq.fill(20)("w").mkString(" ")),  // [20,40) — spans the 32 cut
      (4L, ""),                               // zero tokens: dropped
    ).toDF("doc_id", "text")
    val got = CurationOps.packSequences(docs, "doc_id", "text", budget = 32, shards = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "empty doc packs nowhere")
    assert(got(1L) == ((10, 0L, 0L, 0L)))
    assert(got(2L) == ((10, 0L, 0L, 10L)))
    assert(got(3L) == ((20, 0L, 1L, 20L)), "doc 3 spans sequences 0 and 1")
    // Budget accounting: every shard's stream positions tile without gaps.
    val big = (1L to 200L).map(i => (i, Seq.fill((i % 7 + 1).toInt)("t").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = CurationOps.packSequences(big, "doc_id", "text", budget = 16, shards = 4)
      .collect()
    packed.groupBy(_.getLong(1)).foreach { case (shard, rows) =>
      val total = rows.map(_.getInt(2)).sum
      val maxEnd = rows.map(r => r.getLong(3) * 16 + r.getLong(5) + r.getInt(2)).max
      assert(maxEnd == total, s"shard $shard stream must tile: end $maxEnd vs total $total")
    }
  }

  test("packSequencesGlobal: equals single-shard packing (the exact global stream)") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, Seq.fill((i % 7 + 1).toInt)("t").mkString(" ")))
      .toDF("doc_id", "text")
      .repartition(8) // scrambled input: global order must be re-established
    val global = CurationOps.packSequencesGlobal(docs, "doc_id", "text", budget = 16)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val single = CurationOps.packSequences(docs, "doc_id", "text", budget = 16, shards = 1)
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(global == single,
      "global packing must equal the shards=1 stream exactly")
    // Stream tiles with no gaps: last doc's end == total token count.
    val total = global.values.map(_._1).sum
    val maxEnd = global.values.map(v => v._2 * 16 + v._4 + v._1).max
    assert(maxEnd == total)
  }

  test("temperatureMixture: tail domains keep a larger fraction than head, deterministic") {
    import spark.implicits._
    // head: 400 rows, tail: 100 rows
    val df = ((1 to 400).map(i => (i.toLong, "head")) ++
      (401 to 500).map(i => (i.toLong, "tail"))).toDF("id", "dom")
    val out = CurationOps.temperatureMixture(df, "dom", col("id"),
      alpha = 0.5, targetFraction = 0.5, salt = "t|")
    val rates = out.select("dom", "keep_frac").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("tail") > rates("head"),
      s"alpha<1 must upweight the tail domain, got $rates")
    assert(rates.values.forall(r => r > 0 && r <= 1.0))
    // Deterministic: the same call yields the same kept set.
    val k1 = out.select("id").collect().map(_.getLong(0)).toSet
    val k2 = CurationOps.temperatureMixture(df, "dom", col("id"),
      alpha = 0.5, targetFraction = 0.5, salt = "t|")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(k1 == k2)
    // Expected size ~ targetFraction * total; generous tolerance.
    assert(k1.size > 150 && k1.size < 350, s"kept ${k1.size} of 500 at target 0.5")
  }

  test("temperatureMixture: null domains are a domain of their own, not dropped") {
    import spark.implicits._
    val df = ((1 to 300).map(i => (i.toLong, "head")) ++
      (301 to 400).map(i => (i.toLong, null.asInstanceOf[String]))).toDF("id", "dom")
    val out = CurationOps.temperatureMixture(df, "dom", col("id"),
      alpha = 0.5, targetFraction = 0.5, salt = "t|").cache()
    val nullRows = out.filter(col("dom").isNull)
    assert(nullRows.count() > 0, "the null-domain shard must be sampled, not vanish")
    val nullRate = nullRows.select("keep_frac").distinct().collect()
    assert(nullRate.length == 1, "one tempered rate for the null shard")
    val headRate = out.filter(col("dom") === "head")
      .select("keep_frac").distinct().collect()(0).getDouble(0)
    assert(nullRate(0).getDouble(0) > headRate,
      "the null shard is the tail here and must be upweighted like any tail domain")
    out.unpersist()
  }

  test("dsirLogWeights: on-target docs outweigh off-target ones; token-less raw doc scores the neutral 0") {
    import spark.implicits._
    val target = Seq(
      (100L, "quantum physics research papers"),
      (101L, "quantum field theory research")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "quantum physics research"),          // features shared with target
      (2L, "cheap pills buy now cheap pills"),   // no target features at all
      (3L, "")).toDF("doc_id", "text")
    val got = CurationOps.dsirLogWeights(raw, target, "doc_id", "text", buckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "every raw doc gets a weight")
    assert(got(1L) > 0.0 && got(2L) < 0.0,
      s"target-aligned features raise the log-ratio, unseen ones lower it: $got")
    assert(got(3L) == 0.0, "no features -> neutral weight, not a dropped row")
  }

  test("dsirLogWeights: weights depend only on hashed feature counts — permuting raw doc ids leaves values fixed") {
    import spark.implicits._
    val target = Seq((9L, "alpha beta gamma")).toDF("doc_id", "text")
    val raw = Seq((1L, "alpha beta"), (2L, "delta epsilon")).toDF("doc_id", "text")
    val swapped = Seq((2L, "alpha beta"), (1L, "delta epsilon")).toDF("doc_id", "text")
    val a = CurationOps.dsirLogWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = CurationOps.dsirLogWeights(swapped, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a(1L) == b(2L) && a(2L) == b(1L), "weight rides the text, not the id")
  }

  test("pplBuckets: tercile labels replay the cumulative-count threshold semantic; token-less docs bucket 'empty'") {
    import spark.implicits._
    val docs = ((1 to 9).map { i =>
      (i.toLong, ("common " * 3 + s"rare$i " * i).trim, "a")
    } ++ Seq((10L, "   ", "a")) ++ (11 to 14).map { i =>
      (i.toLong, ("shared " * 2 + s"odd$i").trim, "b")
    }).toDF("doc_id", "text", "lang")
    val model = CurationOps.unigramModel(docs, "text")
    val got = CurationOps.pplBuckets(docs, model, "doc_id", "text", "lang")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(got.length == 14, "one row per document")
    assert(got.find(_._1 == 10L).get._4 == "empty",
      "unscorable docs get their own bucket, not a fake head assignment")
    // Replay the oracle's exact threshold rule — smallest ce whose
    // cumulative count reaches ceil(n/3) / ceil(2n/3) per language —
    // and demand the engine's percentile-sketch labels match it. This
    // IS the DuckDB replay contract for x_ppl_buckets.
    got.filter(_._4 != "empty").groupBy(_._2).foreach { case (lang, rs) =>
      val ces = rs.map(_._3).sorted
      val n = ces.length
      val t1 = ces(math.ceil(n / 3.0).toInt - 1)
      val t2 = ces(math.ceil(2 * n / 3.0).toInt - 1)
      rs.foreach { case (id, _, ce, b) =>
        val exp = if (ce <= t1) "head" else if (ce <= t2) "middle" else "tail"
        assert(b == exp, s"doc $id lang $lang ce $ce: engine said $b, replay says $exp")
      }
    }
    // The 9-doc language must actually split — a degenerate all-head
    // assignment would satisfy the replay only if the data were flat.
    val aBuckets = got.filter(r => r._2 == "a" && r._4 != "empty").map(_._4).distinct
    assert(aBuckets.toSet == Set("head", "middle", "tail"))
  }

  test("lossSpans: multi-turn boundaries, trailing marker, marker-free text") {
    import spark.implicits._
    val docs = Seq(
      // two turns; spans = after each assistant: up to next marker/end
      (1L, "user: hi there assistant: hello back user: more assistant: done now"),
      // trailing assistant: with no content -> that span drops
      (2L, "user: q assistant: a user: q2 assistant:"),
      // no markers at all -> no spans
      (3L, "just plain text with no roles"),
      // assistant-first (no leading user turn) still masks correctly
      (4L, "assistant: unprompted reply")
    ).toDF("doc_id", "text")
    val got = CurationOps.lossSpans(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3))).toSet
    // doc 1 tokens: user:(1) hi(2) there(3) assistant:(4) hello(5) back(6)
    //   user:(7) more(8) assistant:(9) done(10) now(11)
    // doc 2: user:(1) q(2) assistant:(3) a(4) user:(5) q2(6) assistant:(7)
    // doc 4: assistant:(1) unprompted(2) reply(3)
    assert(got === Set((1L, 5, 6), (1L, 10, 11), (2L, 4, 4), (4L, 2, 3)))
  }

  test("htmlExtract: blocks drop with contents, tags->spaces before entity decode, &amp; last") {
    import spark.implicits._
    val cases = Seq(
      1L -> "<p>plain <b>bold</b>&nbsp;text</p>",
      2L -> "<script>if (a<b) { run(); }</script>after",
      3L -> "<STYLE media=\"x\">h1 > p { }</STYLE>kept",
      4L -> "a<!-- <p>gone</p> -->b",
      // decoded &lt; stays literal text (tags stripped FIRST)
      5L -> "&lt;p&gt;not a tag&lt;/p&gt;",
      // double-encoded survives one level: &amp;lt; -> &lt;
      6L -> "&amp;lt;kept&amp;gt; &amp; done",
      7L -> "",
      8L -> "no markup at all")
    val got = cases.toDF("id", "h")
      .select(col("id"), CurationOps.htmlExtract(col("h")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "plain bold text")
    assert(got(2L) === "after", "script contents incl. tag-like '<b)' must drop")
    assert(got(3L) === "kept", "style is case-insensitive")
    assert(got(4L) === "a b", "comments drop with contents")
    assert(got(5L) === "<p>not a tag</p>")
    assert(got(6L) === "&lt;kept&gt; & done")
    assert(got(7L) === "")
    assert(got(8L) === "no markup at all")
  }

  test("htmlExtract: mismatched and unclosed script/style blocks cannot leak contents") {
    import spark.implicits._
    val cases = Seq(
      // Mismatched close: '</style>' must NOT close a '<script>' block —
      // the whole run through the real '</script>' drops.
      1L -> "<script>var a = 1;</style>var b = 2;</script>after",
      // Unclosed trailing script: contents must not fall through to the
      // tag-stripper as text.
      2L -> "before<script>var secret = token();",
      3L -> "before<style>h1 { color: red }",
      // Style closed by '</script>' — same rule, other kind.
      4L -> "<style>p { }</script>p { still css }</style>kept")
    val got = cases.toDF("id", "h")
      .select(col("id"), CurationOps.htmlExtract(col("h")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "after", "a '</style>' must not close a script block")
    assert(got(2L) === "before", "unclosed script drops to end of input")
    assert(got(3L) === "before", "unclosed style drops to end of input")
    assert(got(4L) === "kept", "a '</script>' must not close a style block")
  }

  test("htmlExtract: leftmost-scan alternation — neither hiding direction can swallow visible text") {
    import spark.implicits._
    val cases = Seq(
      // An unclosed <script> open tag INSIDE a comment must not anchor
      // the script alternative and eat the visible text up to the next
      // real </script>: the comment starts first, so it wins the scan.
      1L -> "<!-- add <script> here --> visible <script>x = 1;</script>after",
      // The legacy hide-from-old-browsers idiom: the script block
      // starts first and consumes the whole thing, comment included.
      2L -> "<script><!-- var a = 1; --></script>kept",
      // A commented-out STYLE open tag, same rule for the other kind.
      3L -> "<!-- <style> --> shown <style>p { }</style>end",
      // The SYMMETRIC direction a comments-FIRST ordered pass gets
      // wrong: a comment OPENER inside script source must not pair
      // with a later real comment closer and swallow '</script>keep
      // me' — the script block starts first, so it wins the scan.
      4L -> "<script>var a = \"<!--\";</script>keep me<!-- note -->tail",
      // Same direction for style source.
      5L -> "<style>/* <!-- */ p { }</style>mid<!-- x -->end")
    val got = cases.toDF("id", "h")
      .select(col("id"), CurationOps.htmlExtract(col("h")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "visible after",
      "a commented '<script>' must not swallow the visible text")
    assert(got(2L) === "kept", "script block consumes its inner comment")
    assert(got(3L) === "shown end",
      "a commented '<style>' must not swallow the visible text")
    assert(got(4L) === "keep me tail",
      "a '<!--' inside script source must not swallow the text after the block")
    assert(got(5L) === "mid end",
      "a '<!--' inside style source must not swallow the text after the block")
  }
}
