package graft

import graft.operators.QuantizeOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class QuantizeSpec extends AnyFunSuite with SparkSpec {

  private def quantize(vecs: Seq[Seq[Double]]) = {
    import spark.implicits._
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      .select(col("id"), col("v"), QuantizeOps.int8Scale(col("v")).as("scale"))
      .withColumn("q", QuantizeOps.quantizeInt8(col("v"), col("scale")))
      .withColumn("err", QuantizeOps.maxAbsError(col("v"), col("q"), col("scale")))
      .withColumn("ok", QuantizeOps.errOk(col("v"), col("q"), col("scale")))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getSeq[Int](3), r.getDouble(4), r.getBoolean(5))).toMap
  }

  test("int8 round-trip: codes in [-127,127], reconstruction within scale/2") {
    val got = quantize(Seq(
      Seq(1.0, -0.5, 0.25, 0.0),
      Seq(-3.0, 3.0),                 // extremes hit ±127 exactly
      Seq(1e-8, -1e-8),               // tiny magnitudes still bounded
    ))
    got.values.foreach { case (scale, q, err, ok) =>
      assert(q.forall(c => c >= -127 && c <= 127))
      assert(ok, s"error $err must be within scale/2 = ${scale / 2}")
    }
    // floor(x/scale + 0.5) rounds halves toward +∞: −0.5 maps to −63.5
    // then floor(−63.0) = −63 (not −64) — the documented, engine-
    // unambiguous convention.
    assert(got(0L)._2 == Seq(127, -63, 32, 0), "codes follow floor(x/scale + 0.5)")
    assert(got(1L)._2 == Seq(-127, 127))
  }

  test("zero and empty vectors quantize to zero with zero scale") {
    val got = quantize(Seq(Seq(0.0, 0.0, 0.0), Seq.empty[Double]))
    assert(got(0L) == ((0.0, Seq(0, 0, 0), 0.0, true)))
    assert(got(1L)._1 == 0.0 && got(1L)._2.isEmpty && got(1L)._4)
  }

  test("quantization is deterministic and the plan is map-only") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, Seq.tabulate(16)(j => math.sin(i * 17.0 + j))))
      .toDF("id", "v")
    val q = df.select(col("id"),
      QuantizeOps.quantizeInt8(col("v"), QuantizeOps.int8Scale(col("v"))).as("q"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quantization must not shuffle:\n$plan")
    assert(q.collect().map(_.toString).sorted.sameElements(
      q.collect().map(_.toString).sorted))
  }

  // Misuse fails at analysis (ExpectsInputTypes), not inside a task.
  private def refused(c: org.apache.spark.sql.Column, what: String): Unit = {
    import spark.implicits._
    val df = Seq((Seq(1.0, -2.0), 3, BigDecimal(1), Seq(1L, 2L), Seq(1, 2)))
      .toDF("v", "iscale", "dscale", "lcodes", "icodes")
    val e = intercept[org.apache.spark.sql.AnalysisException](df.select(c).collect())
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$what: ${e.getMessage}")
  }

  test("quantizeInt8 with an int scale fails at analysis") {
    refused(graft.functions.quant.quantizeInt8(col("v"), col("iscale")), "int scale")
  }

  test("quantizeTiny with a decimal scale fails at analysis") {
    refused(graft.functions.quant.quantizeTiny(col("v"), col("dscale")), "decimal scale")
  }

  test("dequantize with bigint codes fails at analysis") {
    refused(graft.functions.quant.dequantize(col("lcodes"), lit(1.0)), "bigint codes")
  }

  test("maxAbsError with an int scale fails at analysis; int and tinyint codes pass") {
    refused(graft.functions.quant.maxAbsError(col("v"), col("icodes"), col("iscale")), "int scale")
    import spark.implicits._
    val ok = Seq((Seq(1.0, -2.0), Seq(1, 2), 0.5)).toDF("v", "icodes", "scale")
      .select(graft.functions.quant.dequantize(col("icodes"), col("scale")),
        graft.functions.quant.dequantize(col("icodes").cast("array<tinyint>"), col("scale")))
      .collect().head
    assert(ok.getSeq[Double](0) == Seq(0.5, 1.0) && ok.getSeq[Double](1) == Seq(0.5, 1.0))
  }
}
