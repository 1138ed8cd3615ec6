package newsbench

import graft.functions.{text, vector, VectorMeanFast}
import graft.pipelines.NewsPipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The `functions` layer on the workload's own rows: each codegen kernel
 * alone over a cached frame of the workload's article texts, repeated up
 * to [[Rows]] rows, written to the `noop` sink so nothing prunes it.
 * Rows per second is the median of [[Reps]] passes.
 */
object Kernels {
  val Rows = 40000
  val Reps = 3

  def measure(spark: SparkSession, texts: Seq[String]): Seq[(String, Double)] = {
    import spark.implicits._
    val base = texts.toDF("txt").withColumn("i", monotonically_increasing_id())
    val n = base.count()
    val df = base.crossJoin(spark.range(math.max(1L, Rows / n)).toDF("r"))
      .select((col("i") * 1000 + col("r")).as("id"), col("txt"),
        NewsPipeline.hashEmbedding(col("txt")).as("a"),
        NewsPipeline.hashEmbedding(concat(col("txt"), lit(" extra"))).as("b"))
      .cache()
    val rows = df.count().toDouble
    def rate(f: DataFrame => DataFrame): Double = Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      f(df).write.format("noop").mode("overwrite").save()
      rows / ((System.nanoTime() - t0) / 1e9)
    })
    def sel(c: Column): DataFrame => DataFrame = _.select(c)
    try Seq(
      "hash_embed" -> rate(sel(NewsPipeline.hashEmbedding(col("txt")))),
      "fingerprint" -> rate(sel(text.fingerprint(col("txt")))),
      "entities" -> rate(sel(text.entities(col("txt")))),
      "cosine_sim" -> rate(sel(vector.cosineSim(col("a"), col("b")))),
      "vector_mean" -> rate(_.groupBy(col("id") % 64).agg(VectorMeanFast(col("a")).as("m"))))
    finally df.unpersist()
  }
}
