package newsbench

import graft.pipelines.{Hybrid, NewsPipeline}
import graft.serve.Serve
import graft.sources.TableSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import scala.collection.mutable

/**
 * `serve`: the API gateway as a closed loop with one client and
 * Zipf-skewed users. The stores it reads are written in set-up the way the
 * batch pipeline leaves them: a key-hash stories table, the recommendations
 * table laid out by user, and the hybrid retrieval stores over the
 * articles. Operations follow the fixed [[Cycle]] (the seed picks users,
 * stories and queries, not the op order), and the window times whole
 * cycles, so it holds the same mix of calls on every seed.
 */
object ServeLoad {
  val Articles = 300
  val Stories = 60
  val Users = 200
  /** Users u0..u(KnownUsers-1) have stored recommendations; the rest get
    * the latest-stories fallback. */
  val KnownUsers = 160
  val TopN = 10
  /** Every fifth recommendations lookup is for a user with none stored
    * (the latest-stories fallback, about 15% faster than a stored lookup),
    * the rest for users with some: a fixed share, so that which users the
    * seed makes hot does not move the lookups' median. */
  val FallbackEvery = 5
  val SearchK = 10
  val UnknownStoryShare = 0.15
  /** The op sequence, repeated: recommendations 50%, story 30%, search
    * 10%, upsert 10%; every type occurs within the first four ops. */
  val Cycle: IndexedSeq[String] =
    IndexedSeq("recs", "story", "search", "upsert", "recs", "story", "recs", "recs", "story", "recs")
  /** Untimed cycles before the window. A fresh JVM's first cycle takes
    * about 1.5 times as long as its later ones, by a share that varies
    * from run to run. Each later cycle is up to 20% faster than the one
    * before it, and that step varies no more for the second cycle than
    * for the third. */
  val WarmCycles = 1
  /** Timed cycles at least. One cycle (about 7 s) gives a five-call
    * median, which a few slow seconds of the host move; and with the
    * clock alone deciding, a slow host got one cycle where a fast one got
    * two. */
  val TimedCycles = 2

  def params: Seq[(String, Any)] = Seq("articles" -> Articles, "stories" -> Stories,
    "users" -> Users, "known_users" -> KnownUsers, "fallback_every" -> FallbackEvery,
    "zipf_s" -> Gen.ZipfS, "top_n" -> TopN,
    "search_k" -> SearchK, "unknown_story_share" -> UnknownStoryShare,
    "cycle" -> Cycle.mkString(","), "warm_cycles" -> WarmCycles,
    "timed_cycles" -> TimedCycles)

  private final class Stores(val root: String, val recs: mutable.Map[String, Map[String, Double]]) {
    def stories = s"$root/stories"
    def recsDir = s"$root/recs"
  }

  def storyId(k: Int) = s"story-$k"

  /** The serving tables: a key-hash stories table (summary = the lead
    * sentence of one member, newest last) and the recommendations table
    * laid out by user, with Zipf-popular stories. */
  private def build(ctx: Ctx, articles: IndexedSeq[Doc], root: String): Stores = {
    val spark = ctx.spark
    import spark.implicits._
    val stories = (0 until Stories).map { k =>
      val lead = articles(k * Articles / Stories).text.split("\\.").head + "."
      (storyId(k), lead, new Timestamp(1704067200000L + k * 60000L), 0L)
    }.toDF("story_id", "summary", "last_updated", "__v")
    TableSink.overwrite(spark, s"$root/stories", stories, Seq("story_id"))
    val z = new Zipf(Stories, Gen.ZipfS, new scala.util.Random(ctx.seed))
    val recs = mutable.Map.empty[String, Map[String, Double]]
    (0 until KnownUsers).foreach { u =>
      val ids = Iterator.continually(storyId(z.next())).distinct.take(TopN).toSeq
      recs(s"u$u") = ids.zipWithIndex.map { case (id, i) => id -> (1.0 - i * 0.05) }.toMap
    }
    Serve.writeRecommendations(spark, s"$root/recs", recsFrame(spark, recs.toSeq), 0L)
    new Stores(root, recs)
  }

  /** The hybrid retrieval stores over the articles — the costliest build,
    * made once per pass. */
  private def buildHybrid(spark: SparkSession, articles: IndexedSeq[Doc], dir: String): String = {
    val docs = Ingest.docsFrame(spark, articles)
    Hybrid.init(spark, dir, docs, "doc_id", "text",
      docs.select(col("doc_id"), NewsPipeline.hashEmbedding(col("text")).as("embedding")),
      "doc_id", "embedding", nlist = 8)
    dir
  }

  private def recsFrame(spark: SparkSession, recs: Seq[(String, Map[String, Double])]): DataFrame = {
    import spark.implicits._
    recs.flatMap { case (u, m) => m.toSeq.map { case (s, sc) => (u, s, sc) } }
      .toDF("user_id", "story_id", "score")
  }

  def run(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val g = new Gen(ctx.seed)
    val articles = g.corpus(Articles)
    val (hybrid, s) = ctx.setUp(root => buildHybrid(spark, articles, s"$root/hybrid"))(
      (_, root) => build(ctx, articles, root))
    val storyIds = (0 until Stories).map(storyId).toSet
    // Zipf over users with and without stored recommendations, each in a
    // seeded order, so the hot users differ per seed.
    val knownOrder = g.shuffle((0 until KnownUsers).map(u => s"u$u"))
    val fallbackOrder = g.shuffle((KnownUsers until Users).map(u => s"u$u"))
    val known = new Zipf(KnownUsers, Gen.ZipfS, new scala.util.Random(ctx.seed + 1))
    val fallback = new Zipf(Users - KnownUsers, Gen.ZipfS, new scala.util.Random(ctx.seed + 3))
    var recsOps = 0
    val storyZ = new Zipf(Stories, Gen.ZipfS, new scala.util.Random(ctx.seed + 2))
    // The gateway's handle on the stories table, opened once: serving
    // never writes it.
    val stories = TableSink.read(spark, s.stories, spark.range(0).select(lit("").as("story_id"),
      lit(null).cast("timestamp").as("last_updated")))
    // Latencies per op type and window time per report (the two untraced
    // windows of a traced run add up), and lookup file counts.
    def perType = mutable.LinkedHashMap(Cycle.distinct.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    var lat = perType
    val lats = mutable.Map.empty[Report, mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]]
    val walls = mutable.Map.empty[Report, Double]
    val files = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    var version = 0L
    var warming = true
    var warmS = 0.0
    def record(k: String, t: Double): Unit = if (warming) warmS += t else lat(k) += t
    def serveOp(op: String): Unit =
      ctx.attempt(s"serve.$op") {
        op match {
          case "recs" =>
            recsOps += 1
            val u = if (recsOps % FallbackEvery == 0) fallbackOrder(fallback.next()) else knownOrder(known.next())
            val (df, t) = ctx.call("serve.recs_lookup") {
              val df = Serve.recommendationsForStored(spark, s.recsDir, stories, u, TopN)
              (df, df.collect())
            }
            record("recs", t)
            if (ctx.tracing) files.getOrElseUpdate("recs_lookup", mutable.ArrayBuffer.empty) += filesOf(df._1, s.recsDir)
            val rows = df._2.map(x => x.getString(0) -> Option(x.get(1)).map(_.asInstanceOf[Double]).getOrElse(Double.NaN)).toSeq
            Checks.recs(rows, TopN, storyIds) ++ s.recs.get(u).toSeq.flatMap(m =>
              if (rows.map(_._1).toSet != m.keySet) Seq(s"user $u got ${rows.size} stored rows, want ${m.size}") else Nil)
          case "story" =>
            val exists = g.nextDouble() >= UnknownStoryShare
            val id = if (exists) storyId(storyZ.next()) else s"story-x${g.nextInt(1000000)}"
            val (df, t) = ctx.call("serve.story_lookup") {
              val df = Serve.storyByIdStored(spark, s.stories, id)
              (df, df.collect())
            }
            record("story", t)
            if (ctx.tracing) files.getOrElseUpdate("story_lookup", mutable.ArrayBuffer.empty) += filesOf(df._1, s.stories)
            Checks.story(id, df._2.length, exists)
          case "search" =>
            import spark.implicits._
            val qtext = articles(g.nextInt(Articles)).text.split(" ").slice(2, 10).mkString(" ")
            val q = Seq((1L, qtext)).toDF("qid", "qtext")
              .withColumn("qvec", NewsPipeline.hashEmbedding(col("qtext")))
            val (n, t) = ctx.call("pipelines.hybrid_search") {
              Hybrid.search(spark, hybrid, q, "qid", "qtext", "qvec", k = SearchK).collect().length
            }
            record("search", t)
            Checks.search(n, SearchK)
          case "upsert" =>
            val u = knownOrder(known.next())
            version += 1
            val fresh = s.recs(u).map { case (id, _) => id -> g.nextDouble() }
            val (_, t) = ctx.call("sources.upsert") {
              Serve.writeRecommendations(spark, s.recsDir, recsFrame(spark, Seq(u -> fresh)), version)
            }
            record("upsert", t)
            s.recs(u) = fresh
            val got = Serve.recommendationsForStored(spark, s.recsDir, stories, u, TopN)
              .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
            Checks.upserted(u, fresh, got)
        }
      }
    // Untimed warm-up: whole cycles of ops before the window.
    ctx.warmUp((0 until WarmCycles * Cycle.size).foreach(i => serveOp(Cycle(i % Cycle.size))))
    warming = false
    if (warmS > 0) ctx.report.e2e("warmup_s") = (warmS, "s", WarmCycles * Cycle.size)
    ctx.windows() { r =>
      lat = lats.getOrElseUpdate(r, perType)
      val t0 = System.nanoTime()
      // Whole cycles, so the window holds the cycle's mix.
      ctx.loop(TimedCycles * Cycle.size, every = Cycle.size) { i =>
        serveOp(Cycle(i % Cycle.size))
        if (!r.e2e.contains("store_mb"))
          r.e2e("store_mb") = (Seq(s.stories, s.recsDir, hybrid).map(d => Ctx.dirStats(d)._2).sum / 1e6, "MB", 1)
      }
      walls(r) = walls.getOrElse(r, 0.0) + (System.nanoTime() - t0) / 1e9
      val all = lat.values.flatten.toSeq
      val reads = Seq("recs", "story", "search").flatMap(lat(_))
      lat.foreach { case (k, xs) => r.timing(s"${k}_ms", "ms", xs.map(_ * 1000).toSeq) }
      r.timing("read_ms", "ms", reads.map(_ * 1000))
      r.e2e("read_ms.p90") = (Stats.percentile(reads, 0.9) * 1000, "ms", reads.size)
      r.e2e("ops_per_s") = (all.size / all.sum, "1/s", all.size)
      // Throughput of the cycle's mix from each op type's median, so where
      // the window happens to end in the cycle does not move it.
      val perCycle = Cycle.map(k => Stats.median(lat(k).toSeq)).sum
      r.e2e("work_per_s") = (Cycle.size / perCycle, "1/s", all.size)
      // The median call of the cycle's mix: each type at its median
      // latency, weighted by its share of the cycle, so neither how many
      // of each type the window held nor a type's outliers move it.
      val share = Cycle.groupBy(identity).map { case (k, v) => k -> v.size.toDouble / Cycle.size }
      r.e2e("op_ms.p50") = (Stats.weightedMedian(lat.toSeq.map { case (k, xs) =>
        (Stats.median(xs.toSeq) * 1000, share(k)) }), "ms", all.size)
      r.e2e("wall_s") = (walls(r), "s", 1)
      if (ctx.tracing) {
        files.foreach { case (k, xs) =>
          r.layer(s"serve.$k.files_frac") = (xs.map(_._1).sum / xs.size, "ratio")
          r.layer(s"serve.$k.input_kb") = (xs.map(_._2).sum / xs.size, "KB")
        }
        Seq("stories" -> s.stories, "recs" -> s.recsDir, "hybrid" -> hybrid).foreach { case (k, d) =>
          val (f, b) = Ctx.dirStats(d)
          r.layer(s"sources.$k.files") = (f.toDouble, "count")
          r.layer(s"sources.$k.mb") = (b / 1e6, "MB")
        }
      }
    }
    articles.map(_.text)
  }

  /** Files the lookup's frame reads over the table's live files, and the
    * kilobytes in them. */
  private def filesOf(df: DataFrame, table: String): (Double, Double) = {
    val spark = df.sparkSession
    val read = df.inputFiles.toSeq.filter(_.contains(table + "/"))
    val live = TableSink.readBuckets(spark, table, spark.range(0).toDF(),
      (0 until TableSink.numBucketsOf(table).getOrElse(0)).toSet).inputFiles.length
    val bytes = read.map(f => new java.io.File(new java.net.URI(f)).length()).sum
    (read.size.toDouble / math.max(1, live), bytes / 1e3)
  }
}
