package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/**
 * Compiled nearest-centroid assignment ([[graft.operators.IvfAnn]]).
 *
 * WHY A KERNEL (measured, optimization round 20): the threshold-free
 * assignment path (`IvfAnn.assignCells`, and each `buildCells` Lloyd
 * pass) was a broadcast crossJoin fanning every vector out to nlist
 * rows, an argmax aggregation (one corpus-sized exchange), and a
 * corpus-sized join back to re-attach the vector — three-plus exchanges
 * for a value that is a pure per-row function of (vector, centroids).
 * The kernel computes the SAME argmax map-side: per pair it runs the
 * identical [[VectorKernels.cosineD]] arithmetic, and the comparison
 * replays `max(struct(sim, -cent_id))` exactly — Spark's double
 * ordering ([[SQLOrderingUtil.compareDoubles]]: NaN greatest,
 * -0.0 == 0.0) on sim, ties to the LOWEST centroid id — so the chosen
 * cell ids are bit-identical to the aggregation form. Assignment
 * becomes zero-exchange; only the Lloyd means still shuffle (bounded:
 * nlist rows out of the partial aggregation).
 *
 * The thresholded serving assignment ([[graft.operators.SimilarityOps
 * .assignNearestCentroid]], reference J1) keeps its aggregation form —
 * its (assigned_id, sim) output shape is oracle-pinned per query.
 */
object CentroidKernels extends Serializable {

  /** Collected centroids, ids parallel to vectors; one instance per
    * plan as a codegen reference object. */
  final class Cents(val ids: Array[Long],
                    val vecs: Array[Array[Double]]) extends Serializable

  /** [[VectorKernels.cosineD]] with the centroid side pre-extracted:
    * identical accumulation order, identical zero-norm contract. */
  @inline private def cosine(a: ArrayData, b: Array[Double]): Double = {
    val n = math.min(a.numElements(), b.length)
    var dab = 0.0; var daa = 0.0; var i = 0
    while (i < n) { val x = a.getDouble(i); dab += x * b(i); daa += x * x; i += 1 }
    // norms over each side's own full length, exactly as cosineD's
    // dot(a,a)/dot(b,b) over min(len,len) = the full vector
    var j = n
    while (j < a.numElements()) { val x = a.getDouble(j); daa += x * x; j += 1 }
    var dbb = 0.0; var k = 0
    while (k < b.length) { dbb += b(k) * b(k); k += 1 }
    val na = math.sqrt(daa); val nb = math.sqrt(dbb)
    if (na == 0.0 || nb == 0.0) 0.0 else dab / (na * nb)
  }

  /** argmax cosine over `cents`, Spark double ordering, lowest-id ties. */
  def nearest(v: ArrayData, cents: Cents): Long = {
    var bestId = cents.ids(0)
    var bestSim = cosine(v, cents.vecs(0))
    var i = 1
    while (i < cents.ids.length) {
      val s = cosine(v, cents.vecs(i))
      val c = SQLOrderingUtil.compareDoubles(s, bestSim)
      if (c > 0 || (c == 0 && cents.ids(i) < bestId)) { bestSim = s; bestId = cents.ids(i) }
      i += 1
    }
    bestId
  }

  /** The `n` most cosine-similar centroid ids, best first: descending
    * Spark double ordering (NaN greatest), ties to the lower id — the
    * order of a `row_number()` window over (desc(sim), cent_id). */
  def nearestN(v: ArrayData, cents: Cents, n: Int): ArrayData = {
    val sims = cents.vecs.map(cosine(v, _))
    val order = cents.ids.indices.sortWith { (i, j) =>
      val c = SQLOrderingUtil.compareDoubles(sims(i), sims(j))
      c > 0 || (c == 0 && cents.ids(i) < cents.ids(j))
    }
    new GenericArrayData(order.take(n).map(cents.ids(_)).toArray)
  }
}

/** [[CentroidKernels.nearest]] over an array<double> vector column. */
case class NearestCentroidId(child: Expression, cents: CentroidKernels.Cents)
    extends UnaryExpression {
  require(cents.ids.nonEmpty, "nearest-centroid kernel needs >= 1 centroid")
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_centroid_id"
  override def nullSafeEval(v: Any): Any =
    CentroidKernels.nearest(v.asInstanceOf[ArrayData], cents)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, classOf[CentroidKernels.Cents].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.CentroidKernels.nearest($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[CentroidKernels.nearestN]] over an array<double> vector column. */
case class NearestCentroidIds(child: Expression, cents: CentroidKernels.Cents, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_centroid_ids"
  override def nullSafeEval(v: Any): Any =
    CentroidKernels.nearestN(v.asInstanceOf[ArrayData], cents, n)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column wrappers (the [[sig]] idiom). */
object centroid {
  def nearestCell(vec: Column, cents: CentroidKernels.Cents): Column =
    Bridge.column(NearestCentroidId(Bridge.expression(vec.cast("array<double>")), cents))
  def nearestCells(vec: Column, cents: CentroidKernels.Cents, n: Int): Column =
    Bridge.column(NearestCentroidIds(Bridge.expression(vec.cast("array<double>")), cents, n))
}
