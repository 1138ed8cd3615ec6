package newsbench

import graft.pipelines.{Admission, NewsPipeline}
import graft.sources.TableSink
import graft.streaming.StreamingJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.sql.Timestamp
import scala.collection.mutable

/**
 * `ingest`: the reference's dedup + cluster consumer as a closed loop with
 * one producer. Each seeded micro-batch goes through
 * `Admission.runCommitted` (default span policy plus a `SemStage` on
 * `NewsPipeline.hashEmbedding`) against stores `Admission.init` built in
 * set-up from the seed corpus, then its admitted articles go into
 * `StreamingJob` through a MemoryStream and `processAllAvailable`.
 *
 * A run times the first batch of a fresh JVM, as the reference's hourly
 * ingest task meets it: there is no warm-up batch. A batch takes 20–35 s,
 * so at the benchmark's window a run times one. Only a traced pass runs
 * an untimed warm-up batch first, so that its untraced and traced windows
 * both follow one.
 */
object Ingest {
  val CorpusDocs = 300
  val BatchDocs = 100
  /** Cosine at or above which the semantic stage calls a near-duplicate:
    * a 3-word edit of a 60-90 word article stays above it, two articles
    * on one topic stay below. */
  val SemEps = 0.9
  val SemNlist = 8

  val cfg: Admission.Config = Admission.Config(sem = Some(Admission.SemStage(
    d => d.select(col("doc_id"), NewsPipeline.hashEmbedding(col("text")).as("embedding")),
    eps = SemEps, nlist = SemNlist)))

  def params: Seq[(String, Any)] = Seq("corpus_docs" -> CorpusDocs, "batch_docs" -> BatchDocs,
    "mix" -> Gen.Mix.map { case (k, v) => s"$k=$v" }.mkString(","), "sem_eps" -> SemEps,
    "edit_words" -> Gen.EditWords, "topics" -> Gen.NumTopics)

  type Row = (String, String, String, Timestamp)

  /** The streaming job and what it reports, started once per pass. */
  private final class Stream(val root: String, val mem: MemoryStream[Row],
                             val query: StreamingQuery,
                             val st4: mutable.ArrayBuffer[StreamingJob.St4Metrics]) {
    def articles = s"$root/articles"
    def stories = s"$root/stories"
  }

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  /** Stream rows for admitted docs: link, title, text, ingestion time
    * (one second apart, so the TTL dedup's watermark never drops one). */
  private def rows(docs: Seq[Doc]): Seq[Row] = docs.map { d =>
    (s"d${d.id}", d.text.split(" ").take(5).mkString(" "), d.text,
      new Timestamp(1704067200000L + d.id * 1000L))
  }

  /** The streaming job over an empty stories table, started once. */
  private def startStream(spark: SparkSession, root: String): Stream = {
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Row]
    val st4 = mutable.ArrayBuffer.empty[StreamingJob.St4Metrics]
    val q = StreamingJob.start(mem.toDF().toDF("link", "title", "txt", "ingestion_time"),
      s"$root/articles", s"$root/stories", s"$root/checkpoint",
      trigger = Trigger.ProcessingTime(0L), onBatch = m => st4.synchronized(st4 += m))
    new Stream(root, mem, q, st4)
  }

  def run(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val gen = new Gen(ctx.seed)
    val corpus = gen.corpus(CorpusDocs)
    // The admission stores are the costly build, made once; the streaming
    // job is started anew for each set-up, the previous one stopped.
    var started = Option.empty[Stream]
    val (admission, st) = ctx.setUp { root =>
      Admission.init(spark, s"$root/admission", docsFrame(spark, corpus), "doc_id", "text", cfg)
      s"$root/admission"
    } { (_, root) =>
      started.foreach(_.query.stop())
      started = Some(startStream(spark, root))
      started.get
    }
    // Texts the fingerprint store holds: the corpus, then every admitted doc.
    val stored = mutable.HashSet.empty[String] ++= corpus.map(_.text)
    val pool = mutable.ArrayBuffer.empty[Doc] ++= corpus.filter(_.kind == Gen.Fresh)
    var lastId = 0L
    /** The next batch (its id is the admission commit id); a warm-up batch
      * when `acc` is None. */
    def batchOp(acc: Option[Acc], r: Report): Unit = {
      lastId += 1
      val id = lastId
      val batch = gen.batch(BatchDocs, pool.toIndexedSeq)
      ctx.attempt("ingest.batch") {
        val (verdicts, tAdm) = ctx.call("pipelines.admission") {
          Admission.runCommitted(spark, admission, docsFrame(spark, batch),
            "doc_id", "text", id, cfg).select("doc_id", "verdict").collect()
            .map(row => row.getLong(0) -> row.getString(1)).toMap
        }
        val admitted = batch.filter(d => verdicts.get(d.id).contains("admitted"))
        val (_, tSt4) = ctx.call("streaming.st4_batch") {
          st.mem.addData(rows(admitted))
          st.query.processAllAvailable()
        }
        acc match {
          case Some(a) =>
            a.batchS += tAdm + tSt4; a.admS += tAdm; a.st4S += tSt4
            a.docs += batch.size; a.admitted += admitted.size
            if (a.batchS.size == 1)
              r.e2e("store_mb") = (storeSizes(admission, st).values.map(_._2).sum / 1e6, "MB", 1)
          case None => r.e2e("warmup_s") = (tAdm + tSt4, "s", 1)
        }
        val bad = Checks.verdicts(batch, verdicts, stored) ++
          Checks.landed(admitted.map(d => s"d${d.id}"), landedStories(spark, st.articles, admitted))
        stored ++= admitted.map(_.text)
        pool ++= admitted.filter(_.kind == Gen.Fresh)
        bad
      }
    }
    try {
      if (ctx.tracer.isDefined) ctx.warmUp(batchOp(None, ctx.report))
      // One batch outlasts the window: a traced run has room for one
      // untraced and one traced batch.
      ctx.windows(split = false) { r =>
        val a = new Acc
        val st4Start = st.st4.synchronized(st.st4.size)
        val progStart = Option(st.query.lastProgress).map(_.batchId).getOrElse(-1L)
        ctx.loop() { _ => batchOp(Some(a), r) }
        r.timing("batch_s", "s", a.batchS.toSeq)
        r.e2e("docs_per_s") = (a.docs / a.batchS.sum, "1/s", a.batchS.size)
        r.e2e("work_per_s") = r.e2e("docs_per_s")
        r.e2e("op_ms.p50") = (Stats.median(a.batchS.toSeq) * 1000, "ms", a.batchS.size)
        r.e2e("admission_s.p50") = (Stats.median(a.admS.toSeq), "s", a.admS.size)
        r.e2e("st4_s.p50") = (Stats.median(a.st4S.toSeq), "s", a.st4S.size)
        if (ctx.tracing) {
          r.layer("pipelines.admission.admitted_frac") = (a.admitted.toDouble / a.docs, "ratio")
          val ms = st.st4.synchronized(st.st4.drop(st4Start).toList).filter(_.nBatch > 0)
          if (ms.nonEmpty) {
            r.layer("streaming.st4.candidate_frac") = (ms.map(m => m.nCandidates.toDouble / math.max(1L, m.nStories)).sum / ms.size, "ratio")
            val withFiles = ms.filter(_.tableFiles > 0)
            if (withFiles.nonEmpty)
              r.layer("streaming.st4.file_frac") = (withFiles.map(m => m.candidateFiles.toDouble / m.tableFiles).sum / withFiles.size, "ratio")
            r.layer("streaming.st4.basis_refreshes") = (ms.count(_.basisRefreshed).toDouble, "count")
          }
          val prog = st.query.recentProgress.filter(p => p.numInputRows > 0 && p.batchId > progStart)
            .groupBy(_.batchId).values.map(_.last).toSeq
          def dur(k: String) = prog.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
          if (prog.nonEmpty) {
            r.layer("streaming.progress.add_batch_ms") = (Stats.median(dur("addBatch")), "ms")
            r.layer("streaming.progress.wal_commit_ms") = (Stats.median(dur("walCommit")), "ms")
          }
          storeSizes(admission, st).foreach { case (k, (f, b)) =>
            r.layer(s"sources.$k.files") = (f.toDouble, "count")
            r.layer(s"sources.$k.mb") = (b / 1e6, "MB")
          }
        }
      }
    } finally st.query.stop()
    (corpus ++ pool).map(_.text)
  }

  /** Timings of one measuring window. */
  private final class Acc {
    val batchS, admS, st4S = mutable.ArrayBuffer.empty[Double]
    var docs, admitted = 0L
  }

  /** Files and bytes per store root. */
  private def storeSizes(admission: String, st: Stream): Map[String, (Long, Long)] = {
    val (sf, sb) = Ctx.dirStats(st.stories)
    val (mf, mb) = Ctx.dirStats(graft.serve.Serve.idMapDir(st.stories))
    Map("admission" -> Ctx.dirStats(admission), "articles" -> Ctx.dirStats(st.articles),
      "stories" -> (sf + mf, sb + mb))
  }

  /** link → story_id for the given docs as the articles table holds them
    * (reading only the buckets their links hash to). */
  private def landedStories(spark: SparkSession, articles: String, docs: Seq[Doc]): Map[String, String] = {
    import spark.implicits._
    val links = docs.map(d => s"d${d.id}")
    val like = spark.range(0).select(lit("").as("link"), lit("").as("story_id"))
    TableSink.readBuckets(spark, articles, like, TableSink.keyBucketIdsFor(articles, links.toDF("link")))
      .filter(col("link").isin(links: _*))
      .select("link", "story_id").collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }
}
