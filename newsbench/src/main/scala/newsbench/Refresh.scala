package newsbench

import graft.pipelines.NewsPipeline
import graft.serve.Serve
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import scala.collection.mutable

/**
 * `refresh`: the DAG's recluster → summarize → retrain leg over the
 * workload's generated articles and interactions, repeated as a batch
 * job: `NewsPipeline.refreshStories`, `summarize`, `recommendAll`, then a
 * bulk `Serve.writeRecommendations`. Each call's output is materialized
 * inside its own timing, as a pipeline persisting each stage would. The
 * first cycle is an untimed warm-up: it runs the cycle's code once in this
 * JVM and creates the recommendations table the later cycles upsert.
 */
object Refresh {
  val Articles = 400
  val Users = 200
  /** Users beyond the interacting ones, served the popularity fallback. */
  val ColdUsers = 40
  val InteractionsPerUser = 5
  val Clusters = 24
  val MinClusterSize = 3
  val TopN = 10
  val CandK = 20

  def params: Seq[(String, Any)] = Seq("articles" -> Articles, "users" -> Users,
    "cold_users" -> ColdUsers, "interactions_per_user" -> InteractionsPerUser,
    "zipf_s" -> Gen.ZipfS, "clusters" -> Clusters, "top_n" -> TopN, "cand_k" -> CandK)

  private final class Inputs(val root: String, val texts: Seq[String], val articles: DataFrame,
                             val oldStories: DataFrame, val interactions: DataFrame,
                             val users: DataFrame, val userIds: Seq[String]) {
    def recs = s"$root/recs"
  }

  private val Now = lit("2024-01-02 00:00:00").cast("timestamp")

  private def build(ctx: Ctx, root: String): Inputs = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new Gen(ctx.seed)
    val docs = gen.corpus(Articles)
    val links = docs.map(d => s"d${d.id}")
    val articles = docs.map(d => (s"d${d.id}", d.text)).toDF("link", "txt")
      .withColumn("embedding", NewsPipeline.hashEmbedding(col("txt")))
      .localCheckpoint(true)
    // The previous clustering: one story per generated topic.
    val oldStories = docs.groupBy(_.topic).toSeq.map { case (t, ds) =>
      (s"story-t$t", ds.map(d => s"d${d.id}").sorted)
    }.toDF("story_id", "members").localCheckpoint(true)
    val interactions = gen.interactions(Users, links, InteractionsPerUser).map(i =>
      (i.user, i.link, i.eventType, new Timestamp(1704067200000L + i.minute * 60000L)))
      .toDF("user_id", "link", "event_type", "event_time").localCheckpoint(true)
    val userIds = (0 until Users + ColdUsers).map(u => s"u$u")
    new Inputs(root, docs.map(_.text), articles, oldStories, interactions,
      userIds.toDF("user_id").localCheckpoint(true), userIds)
  }

  /** Timings of one report (the two untraced windows of a traced run add
    * up). */
  private final class Acc {
    val cycle = mutable.ArrayBuffer.empty[Double]
    val parts = mutable.LinkedHashMap("refresh_stories_s" -> mutable.ArrayBuffer.empty[Double],
      "summarize_s" -> mutable.ArrayBuffer.empty[Double],
      "recommend_all_s" -> mutable.ArrayBuffer.empty[Double],
      "write_s" -> mutable.ArrayBuffer.empty[Double])
    var storeMb = Option.empty[Double]
  }

  def run(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val (_, in) = ctx.setUp(_ => ())((_, root) => build(ctx, root))
    var cycleId = 0L
    /** One refresh cycle; a warm-up cycle when `acc` is None. */
    def cycleOp(acc: Option[Acc]): Unit = {
      cycleId += 1
      ctx.attempt("refresh.cycle") {
        val ((assign, stories), t1) = ctx.call("pipelines.refresh_stories") {
          val (a, s) = NewsPipeline.refreshStories(in.articles, in.oldStories,
            numClusters = Clusters, minClusterSize = MinClusterSize)
          (a.localCheckpoint(true), s.localCheckpoint(true))
        }
        val st = stories.withColumn("last_updated", Now)
          .withColumn("last_summarized", lit(null).cast("timestamp"))
        val (summaries, t2) = ctx.call("pipelines.summarize") {
          NewsPipeline.summarize(st, in.articles).localCheckpoint(true)
        }
        // Interactions are recorded per article; they count for the story
        // the article belongs to now.
        val inter = in.interactions.join(assign, "link")
          .select("user_id", "story_id", "event_type", "event_time")
        val (recs, t3) = ctx.call("pipelines.recommend_all") {
          NewsPipeline.recommendAll(inter, st, in.users, Now, TopN, CandK).localCheckpoint(true)
        }
        val (_, t4) = ctx.call("sources.upsert") {
          Serve.writeRecommendations(spark, in.recs, recs.select("user_id", "story_id", "score"), cycleId)
        }
        acc.foreach { a =>
          a.cycle += t1 + t2 + t3 + t4
          Seq(t1, t2, t3, t4).zip(a.parts.values).foreach { case (t, b) => b += t }
          if (a.storeMb.isEmpty) a.storeMb = Some(Ctx.dirStats(in.recs)._2 / 1e6)
        }
        if (acc.isEmpty) ctx.report.e2e("warmup_s") = (t1 + t2 + t3 + t4, "s", 1)
        val storyIds = stories.select("story_id").collect().map(_.getString(0)).toSet
        val nSummaries = summaries.count()
        Checks.hybrid(recs.select("user_id", "story_id", "score", "rank").collect()
            .map(x => (x.getString(0), x.getString(1), x.getDouble(2), x.getInt(3))).toSeq,
            in.userIds, TopN, storyIds) ++
          (if (nSummaries != storyIds.size) Seq(s"$nSummaries summaries for ${storyIds.size} stories") else Nil)
      }
    }
    val accs = mutable.Map.empty[Report, Acc]
    ctx.warmUp(cycleOp(None))
    ctx.windows() { r =>
      val a = accs.getOrElseUpdate(r, new Acc)
      ctx.loop() { _ => cycleOp(Some(a)) }
      r.e2e("refresh_s") = (Stats.median(a.cycle.toSeq), "s", a.cycle.size)
      r.e2e("work_per_s") = (Articles / Stats.median(a.cycle.toSeq), "1/s", a.cycle.size)
      r.e2e("op_ms.p50") = (Stats.median(a.cycle.toSeq) * 1000, "ms", a.cycle.size)
      r.e2e("store_mb") = (a.storeMb.get, "MB", 1)
      a.parts.foreach { case (k, xs) => r.e2e(s"$k.p50") = (Stats.median(xs.toSeq), "s", xs.size) }
      if (ctx.tracing) {
        val (f, b) = Ctx.dirStats(in.recs)
        r.layer("sources.recs.files") = (f.toDouble, "count")
        r.layer("sources.recs.mb") = (b / 1e6, "MB")
      }
    }
    in.texts
  }
}
