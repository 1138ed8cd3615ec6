package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Corpus-growth scaling harness (round-19 verdict task 1): MEASURE the
 * central architectural claim — a standing store's serve leg stays
 * ~flat (bucket/cell/level-pruned, O(batch)) as the corpus grows,
 * while the in-memory twin that re-derives corpus state per call grows
 * ~linearly. Until this harness, that claim rested on plan inspection
 * and spec pins; test data tops out at sf0.1, so the curve had never
 * been recorded.
 *
 * Method: the sf0.1 `documents`/`embeddings` tables are grown by
 * RE-KEYED UNION (copy i shifts ids by i·10^7 and salts document text
 * with a copy-distinct trailing token, so texts are near- but not
 * exact-duplicates across copies); the QUERY batch is fixed (the base
 * slice's `% 17 == 0` docs / `% 20 == 0` vectors), so any serve-leg
 * growth is attributable to corpus size alone. Store bucket counts
 * scale with the corpus (16·m, capped at 256) — the documented
 * production sizing posture ("a few GB per bucket"): the claim under
 * test is "serve cost tracks batch size under corpus-proportional
 * sizing", not "one fixed 16-bucket layout absorbs any corpus".
 *
 * Per (store, scale): init timed once (the one-time build, expected
 * ~linear), serve and twin timed as the median of 3 noop-sink passes
 * with a block-manager sweep between (the Bench protocol). Output: one
 * JSON line per measurement on stdout plus a combined artifact at
 * SPARK_GRAFT_SCALE_OUT (default `scaling.json`).
 *
 * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_SCALES
 * (default "1,8,64"), SPARK_GRAFT_SCALE_STORES (comma filter),
 * SPARK_GRAFT_CPUS (default 32).
 */
object ScaleCurve {

  private def timeOnce(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Median-of-3 timed evaluations of `df()` through the noop sink. */
  private def timeServe(spark: SparkSession, keep: collection.Set[Int],
                        df: () => DataFrame): Double = {
    val ts = (1 to 3).map { _ =>
      val t = timeOnce(df().write.format("noop").mode("overwrite").save())
      Bench.sweep(spark, keep); t
    }.sorted
    ts(1)
  }

  private def grow(df: DataFrame, m: Int, idCol: String,
                   saltTextCol: Option[String]): DataFrame = {
    val copies = (0 until m).map { i =>
      val shifted = df.withColumn(idCol, col(idCol) + lit(i * 10000000L))
      saltTextCol.fold(shifted)(tc =>
        shifted.withColumn(tc, concat(col(tc), lit(s" cp$i"))))
    }
    copies.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,8,64")
      .split(",").map(_.trim.toInt).toSeq
    val only = sys.env.get("SPARK_GRAFT_SCALE_STORES")
      .map(_.split(",").map(_.trim).toSet)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scaling.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Pinned-frame registry: every harness-owned checkpoint registers
    // its persisted RDD ids here so sweeps never evict them.
    val pinned = scala.collection.mutable.Set[Int]()
    def pin(df: DataFrame): DataFrame = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val c = df.localCheckpoint(true)
      pinned ++= spark.sparkContext.getPersistentRDDs.keySet.diff(before)
      c
    }
    val baseDocs = QShared.T(spark, sfDir, "documents")
      .select("doc_id", "text")
    val baseVecs = QShared.T(spark, sfDir, "embeddings")
      .select("vec_id", "embedding", "label")
    val queries = pin(baseDocs.filter(col("doc_id") % 17 === 0))
      // fixed probe batch across scales (~300 docs)
    val bmQueries = pin(baseDocs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"),
        graft.functions.text.firstKTokens(col("text"), 5).as("qtext")))
    val vecQueries = pin(baseVecs.filter(col("vec_id") % 20 === 0)
      .select("vec_id", "embedding"))
    val globalPinned = pinned.toSet

    val tmpRoot = java.nio.file.Files
      .createTempDirectory("graft_scale").toString
    def dirFor(store: String, m: Int) = s"$tmpRoot/${store}_x$m"
    def nbFor(m: Int) = math.min(256, 16 * m)

    val out = new StringBuilder
    def record(store: String, m: Int, corpusRows: Long, initS: Double,
               serveS: Double, twinS: Double): Unit = {
      val line = s"""{"store":"$store","scale":$m,"corpus_rows":$corpusRows,""" +
        s""""init_s":$initS,"serve_s":$serveS,"twin_s":$twinS}"""
      println(s"[scale] $line")
      out.append(line).append('\n')
    }

    // One measurement block per store family. Each scale gets a FRESH
    // store dir (stores are init-once) and a freshly materialized grown
    // corpus (localCheckpoint — growth cost is charged to neither leg).
    for (m <- scales) {
      val corpus = pin(grow(baseDocs, m, "doc_id", Some("text"))
        .repartition(cpus.toInt))
      val nRows = corpus.count()
      val vecs = pin(grow(baseVecs, m, "vec_id", None)
        .repartition(cpus.toInt))
      val nVecs = vecs.count()
      Bench.sweep(spark, pinned)

      def run(store: String, dirAs: Option[String] = None)(
          init: String => Unit)(
          serve: String => DataFrame)(twin: () => DataFrame): Unit =
        if (only.forall(_.contains(store))) {
          val dir = dirFor(dirAs.getOrElse(store), m)
          val iS = timeOnce(init(dir)); Bench.sweep(spark, pinned)
          val sS = timeServe(spark, pinned, () => serve(dir))
          val tS = timeServe(spark, pinned, twin)
          record(store, m, if (store == "semdedup" || store == "ivf") nVecs
            else nRows, iS, sS, tS)
        }

      // Suffix-array store: binary-lifted window ledger, bucket-pruned
      // two-window certificate probes vs the in-memory union-SA probe.
      run("sa_probe") { dir =>
        graft.operators.SaStore.init(spark, dir, corpus, "doc_id", "text",
          numBuckets = nbFor(m))
      } { dir =>
        graft.operators.SaStore.probe(spark, dir, queries, "doc_id", "text")
      } { () =>
        graft.operators.SuffixArrayOps.longestCorpusMatch(
          corpus, "doc_id", "text", queries, "doc_id", "text")
      }

      // The admission form: per-position dup lengths off the SAME
      // store (shared with sa_probe — one init, two probe forms) vs
      // the union-SA in-memory derivation (the exact funnel's linear
      // control). Init re-runs only when sa_probe was filtered out.
      run("sa_duplen", dirAs = Some("sa_probe")) { dir =>
        if (!graft.sources.StoreFs.get.exists(s"$dir/_PARTS") &&
            !graft.sources.StoreFs.get.exists(dir))
          graft.operators.SaStore.init(spark, dir, corpus, "doc_id", "text",
            numBuckets = nbFor(m))
      } { dir =>
        graft.operators.SaStore.probeDupLengths(spark, dir, queries,
          "doc_id", "text", minLen = 8)
      } { () =>
        graft.operators.SuffixArrayOps.dupLengthsAgainst(
          corpus, "doc_id", "text", queries, "doc_id", "text", minLen = 8)
      }

      // ∞-gram store: bucket-pruned digest postings vs the in-memory
      // digest-keyed generator over the full corpus.
      run("ngram") { dir =>
        graft.operators.NgramStore.init(spark, dir, corpus, "text",
          maxN = 8, numBuckets = nbFor(m))
      } { dir =>
        graft.operators.NgramStore.probe(spark, dir, queries, "doc_id", "text")
      } { () =>
        graft.operators.InfiniGram.probe(corpus, "doc_id", "text",
          queries, "doc_id", "text", maxN = 8)
      }

      // Positional span store: digest+bucket-pruned maximal-repeat
      // probes vs the per-call corpus-window re-derivation.
      run("spanpos") { dir =>
        graft.operators.SpanPosStore.init(spark, dir, corpus, "doc_id", "text",
          k = 8, numBuckets = nbFor(m))
      } { dir =>
        graft.operators.SpanPosStore.probeMaximalRepeats(spark, dir, queries,
          "doc_id", "text", maxOcc = 64)
      } { () =>
        graft.operators.SpanDedup.maximalRepeatsAgainst(queries, corpus,
          "doc_id", "text", minLen = 8, maxOcc = 64)
      }

      // BM25: term-pruned postings-ledger search vs the monolithic
      // rebuild-and-score twin.
      run("bm25") { dir =>
        graft.operators.Bm25Store.init(spark, dir, corpus, "doc_id", "text")
      } { dir =>
        graft.operators.Bm25.searchIndex(
          graft.operators.Bm25Store.readIndex(spark, dir), bmQueries,
          "qid", "qtext", k = 10, maxDfFrac = 1.0)
      } { () =>
        graft.operators.Bm25.bm25TopK(corpus, bmQueries, "doc_id", "text",
          "qid", "qtext", k = 10, maxDfFrac = 1.0)
      }

      // Semantic-dedup store: cluster-pruned member probes vs
      // SemDedup.incremental against the full vector corpus. (Probe
      // cost tracks TOUCHED-CLUSTER size — sublinear only insofar as
      // the batch touches few clusters; recorded, not assumed.)
      lazy val cents = pin(baseVecs.groupBy("label")
        .agg(graft.functions.VectorMeanFast(
          col("embedding").cast("array<double>")).as("cent")))
      run("semdedup") { dir =>
        graft.operators.SemDedupStore.initWithCentroids(spark, dir, vecs,
          cents, "vec_id", "embedding", "label", "cent")
      } { dir =>
        graft.operators.SemDedupStore.probe(spark, dir, vecQueries,
          "vec_id", "embedding", eps = 0.3)
      } { () =>
        graft.operators.SemDedup.incremental(vecQueries, vecs, cents,
          "vec_id", "embedding", "label", "cent", eps = 0.3)
      }

      // IVF-SQ8 ANN: cell-file-pruned stored probe vs the in-memory
      // assign+search over the full corpus. nlist scales with the
      // corpus like the bucket counts (fixed nprobe → probed fraction
      // shrinks as the corpus grows, the IVF design point).
      lazy val cells = pin(graft.operators.IvfAnn.buildCells(vecs,
        "vec_id", "embedding", nlist = nbFor(m)))
      run("ivf") { dir =>
        val sq8 = graft.operators.IvfAnn.quantizeCells(
          graft.operators.IvfAnn.assignCells(vecs, "vec_id", "embedding",
            cells), "vec_id", "embedding")
        graft.operators.IvfAnn.writeIndex(spark, dir, sq8, "vec_id",
          numBuckets = nbFor(m))
      } { dir =>
        graft.operators.IvfAnn.annSearchQuantizedStored(dir, vecQueries,
          cells, "vec_id", "embedding", k = 5, nprobe = 4)
      } { () =>
        graft.operators.IvfAnn.annSearch(vecQueries,
          graft.operators.IvfAnn.assignCells(vecs, "vec_id", "embedding",
            cells), cells, "vec_id", "embedding", k = 5, nprobe = 4)
      }

      // Scale teardown: this scale's pins (corpus/vecs/cents/cells)
      // release; the cross-scale query batches stay.
      pinned.filterInPlace(globalPinned.contains)
      Bench.sweep(spark, pinned)
    }

    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), out.toString)
    catch { case e: Throwable =>
      System.err.println(s"[scale] could not write $outPath: $e") }
    graft.sources.DeltaParts.rmDir(tmpRoot)
    spark.stop()
  }
}
