package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PqOps, Rerank, SimilarityOps}

/** Product quantization: codebook/code shape contracts, determinism of
  * encode under a fixed codebook, reconstruction being an actual
  * approximation of the input (not noise), and the refined-search
  * recall band the x_ann_pq gate relies on — at the sf0.001 fixture. */
class PqSpec extends AnyFunSuite with SparkSpec {

  private val Dim = 64
  private lazy val ed = graft.core.Fixtures.load(spark, sf(), "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    .localCheckpoint(true)

  private lazy val cb = PqOps.trainCodebooks(ed, "vec_id", "embedding",
    m = 16, ksub = 16, dim = Dim)

  test("codebook shape: m subspaces × ksub centroids × dim/m coords") {
    assert(cb.length === 16)
    assert(cb.forall(_.length === 16))
    assert(cb.forall(_.forall(_.length === Dim / 16)))
  }

  test("codes: length m, every element in [0, ksub)") {
    val ok = ed.select(PqOps.encode(col("embedding"), cb, Dim).as("codes"))
      .agg(expr("bool_and(size(codes) = 16 and forall(codes, c -> c >= 0 and c < 16))"))
      .collect()(0).getBoolean(0)
    assert(ok)
  }

  test("encode is deterministic under a fixed codebook") {
    val a = ed.select(col("vec_id"), PqOps.encode(col("embedding"), cb, Dim).as("c"))
    val b = ed.select(col("vec_id"), PqOps.encode(col("embedding"), cb, Dim).as("c"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("reconstruction approximates the input (mean cosine well above chance)") {
    val mean = ed.select(graft.functions.vector.cosineSim(col("embedding"),
        PqOps.reconstruct(PqOps.encode(col("embedding"), cb, Dim), cb)).as("c"))
      .agg(avg(col("c"))).collect()(0).getDouble(0)
    // Random unit vectors in 64-dim have |cosine| ~ 0.1; the coded
    // reconstruction must carry real signal.
    assert(mean > 0.5, s"mean reconstruction cosine $mean")
  }

  test("refined search (PQ shortlist 50 -> exact top-5) recall >= 0.8") {
    val recon = ed.select(col("vec_id"),
      PqOps.reconstruct(PqOps.encode(col("embedding"), cb, Dim), cb).as("embedding"))
    val q = ed.filter(col("vec_id") < 20)
    val shortlist = SimilarityOps.knnJoinCosine(q, recon, "vec_id", "embedding", 50)
      .select(col("query_id"), col("neighbor_id").as("doc_id"))
    val refined = Rerank.rerankCosine(shortlist, ed, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("doc_id").as("neighbor_id"))
    val exact = SimilarityOps.knnJoinCosine(q, ed, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val hit = refined.join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / exact.count()
    assert(recall >= 0.8, s"refined recall $recall")
  }

  // Misuse fails at analysis (ExpectsInputTypes), not inside a task.
  private val tinyCb = Array(Array(Array(0.0), Array(1.0)), Array(Array(0.0), Array(1.0)))

  private def refused(c: org.apache.spark.sql.Column, what: String): Unit = {
    import spark.implicits._
    val df = Seq((Seq(1, 0), 1L, Seq(0.0, 1.0))).toDF("icodes", "lsub", "v")
    val e = intercept[org.apache.spark.sql.AnalysisException](df.select(c).collect())
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$what: ${e.getMessage}")
  }

  test("pq reconstruct with int codes fails at analysis") {
    refused(graft.functions.pq.reconstruct(col("icodes"), tinyCb), "int codes")
  }

  test("pq reconstructAdd with int codes fails at analysis") {
    refused(graft.functions.pq.reconstructAdd(col("icodes"), col("v"), tinyCb), "int codes")
  }

  test("pq assignSub with a bigint subspace fails at analysis") {
    refused(graft.functions.pq.assignSub(col("lsub"), col("v"), tinyCb), "bigint subspace")
  }
}
