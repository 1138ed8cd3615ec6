package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{Bridge, TypedInputs}
import org.apache.spark.sql.types._

/**
 * Compiled product-quantization kernels ([[graft.operators.PqOps]],
 * [[graft.operators.PqStore]]).
 *
 * WHY A KERNEL (measured, optimization round 20): the former column form
 * expressed encode/reconstruct/assign as nested
 * `transform`/`zip_with`/`aggregate` higher-order functions over a
 * codebook LITERAL. Catalyst evaluates HOF lambdas INTERPRETED per
 * element — encoding one vector at m=16, ksub=16, dsub=4 walked ~1k
 * interpreted lambda frames and allocated a fresh slice per subspace —
 * and the m·ksub·dsub literal was inlined verbatim into every consuming
 * expression (142 KB physical plans for x_ann_pq). One compiled loop per
 * vector computes the same values with zero allocations, and the
 * codebook rides the plan as ONE reference object.
 *
 * VALUE CONTRACT (bit-identical to the column form on well-formed
 * input): distances accumulate left-to-right per coordinate — the same
 * IEEE order as the old `aggregate(zip_with(...))` fold — and argmin
 * tie-breaks to the LOWEST centroid id (strict `<`, the first-min
 * convention `array_position(dists, array_min(dists))` implemented).
 * Divergence is confined to inputs the suite never produces and the
 * oracle never replays: a NULL element or a vector shorter than `dim`
 * null-poisoned the old fold (codes came back null); the kernel reads
 * missing/null coordinates as 0.0 instead.
 */
object PqKernels extends Serializable {

  /** The codebook flattened for kernel access: centroid (s, c) occupies
    * flat[(s*ksub + c)*dsub ..+dsub). One instance per plan — expressions
    * carry it as a codegen reference object, never a literal. */
  final class Cb(val m: Int, val ksub: Int, val dsub: Int,
                 val flat: Array[Double]) extends Serializable

  def fromCodebook(cb: Array[Array[Array[Double]]]): Cb = {
    val m = cb.length
    require(m >= 1, "empty codebook")
    val ksub = cb(0).length
    val dsub = cb(0)(0).length
    val flat = new Array[Double](m * ksub * dsub)
    var s = 0
    while (s < m) {
      require(cb(s).length == ksub, "ragged codebook")
      var c = 0
      while (c < ksub) {
        require(cb(s)(c).length == dsub, "ragged codebook centroid")
        System.arraycopy(cb(s)(c), 0, flat, (s * ksub + c) * dsub, dsub)
        c += 1
      }
      s += 1
    }
    new Cb(m, ksub, dsub, flat)
  }

  @inline private def coord(v: ArrayData, i: Int): Double =
    if (i < v.numElements() && !v.isNullAt(i)) v.getDouble(i) else 0.0

  /** argmin_c L2²(sv − cent(s, c)), first-min tie-break; `base` indexes
    * subspace s's first centroid, sv read at vector offset `off`. */
  @inline private def argmin(v: ArrayData, off: Int, cb: Cb, s: Int): Int = {
    val flat = cb.flat; val dsub = cb.dsub
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cb.ksub) {
      val base = (s * cb.ksub + c) * dsub
      var d = 0.0; var j = 0
      while (j < dsub) {
        val diff = coord(v, off + j) - flat(base + j)
        d += diff * diff
        j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** PQ codes of `vec`: array<tinyint> of length m. */
  def encode(vec: ArrayData, cb: Cb): ArrayData = {
    val out = new Array[Byte](cb.m)
    var s = 0
    while (s < cb.m) {
      out(s) = argmin(vec, s * cb.dsub, cb, s).toByte
      s += 1
    }
    new GenericArrayData(out)
  }

  /** PQ codes of (vec − cell), the residual-encode fusion
    * ([[graft.operators.PqStore.encodeResiduals]]): the subtraction
    * happens per coordinate inside the distance loop — the same
    * (x − y) − cent order as the old zip_with-then-encode. */
  def encodeResidual(vec: ArrayData, cell: ArrayData, cb: Cb): ArrayData = {
    val out = new Array[Byte](cb.m)
    val flat = cb.flat; val dsub = cb.dsub
    var s = 0
    while (s < cb.m) {
      var best = 0; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cb.ksub) {
        val base = (s * cb.ksub + c) * dsub
        var d = 0.0; var j = 0
        while (j < dsub) {
          val i = s * dsub + j
          val diff = (coord(vec, i) - coord(cell, i)) - flat(base + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Reconstruction: concat of each subspace's coded centroid. Codes out
    * of [0, ksub) clamp (never produced by [[encode]]). */
  def reconstruct(codes: ArrayData, cb: Cb): ArrayData = {
    val n = math.min(codes.numElements(), cb.m)
    val out = new Array[Double](n * cb.dsub)
    var s = 0
    while (s < n) {
      val c0 = if (codes.isNullAt(s)) 0 else codes.getByte(s).toInt
      val c = math.max(0, math.min(cb.ksub - 1, c0))
      System.arraycopy(cb.flat, (s * cb.ksub + c) * cb.dsub, out, s * cb.dsub, cb.dsub)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** cell + reconstruct(codes) per coordinate — the ADC scan projection
    * ([[graft.operators.PqStore.search]]); same a + b order as the old
    * zip_with over [[reconstruct]]. */
  def reconstructAdd(codes: ArrayData, cell: ArrayData, cb: Cb): ArrayData = {
    val rec = reconstruct(codes, cb)
    val n = rec.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = coord(cell, i) + rec.getDouble(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Nearest centroid id of one already-sliced subvector in subspace
    * `sub` — the Lloyd assignment ([[graft.operators.PqOps.trainCodebooks]]). */
  def assignSub(sub: Int, sv: ArrayData, cb: Cb): Int = argmin(sv, 0, cb, sub)
}

/** The kernels' declared inputs: codes are array<tinyint> (what
  * [[PqEncode]] writes), vectors array<double>, the subspace an int —
  * a misuse fails at analysis, not inside a task. */
private object PqTypes {
  val Vec: Seq[DataType] = Seq(ArrayType(DoubleType))
  val Codes: Seq[DataType] = Seq(ArrayType(ByteType))
}

/** [[PqKernels.encode]] over an array<double> column. */
case class PqEncode(child: Expression, cb: PqKernels.Cb)
    extends UnaryExpression with TypedInputs {
  override def acceptedTypes: Seq[Seq[DataType]] = Seq(PqTypes.Vec)
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override def nullSafeEval(v: Any): Any =
    PqKernels.encode(v.asInstanceOf[ArrayData], cb)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqcb", cb, classOf[PqKernels.Cb].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.PqKernels.encode($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[PqKernels.encodeResidual]] over (vec, cell) array<double> columns. */
case class PqEncodeResidual(left: Expression, right: Expression, cb: PqKernels.Cb)
    extends BinaryExpression with TypedInputs {
  override def acceptedTypes: Seq[Seq[DataType]] = Seq(PqTypes.Vec, PqTypes.Vec)
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "pq_encode_residual"
  override def nullSafeEval(v: Any, c: Any): Any =
    PqKernels.encodeResidual(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], cb)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqcb", cb, classOf[PqKernels.Cb].getName)
    defineCodeGen(ctx, ev, (v, c) =>
      s"graft.functions.PqKernels.encodeResidual($v, $c, $ref)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[PqKernels.reconstruct]] over an array<tinyint> codes column. */
case class PqReconstruct(child: Expression, cb: PqKernels.Cb)
    extends UnaryExpression with TypedInputs {
  override def acceptedTypes: Seq[Seq[DataType]] = Seq(PqTypes.Codes)
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_reconstruct"
  override def nullSafeEval(v: Any): Any =
    PqKernels.reconstruct(v.asInstanceOf[ArrayData], cb)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqcb", cb, classOf[PqKernels.Cb].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.PqKernels.reconstruct($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[PqKernels.reconstructAdd]] over (codes, cell) columns. */
case class PqReconstructAdd(left: Expression, right: Expression, cb: PqKernels.Cb)
    extends BinaryExpression with TypedInputs {
  override def acceptedTypes: Seq[Seq[DataType]] = Seq(PqTypes.Codes, PqTypes.Vec)
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_reconstruct_add"
  override def nullSafeEval(codes: Any, cell: Any): Any =
    PqKernels.reconstructAdd(codes.asInstanceOf[ArrayData],
      cell.asInstanceOf[ArrayData], cb)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqcb", cb, classOf[PqKernels.Cb].getName)
    defineCodeGen(ctx, ev, (co, ce) =>
      s"graft.functions.PqKernels.reconstructAdd($co, $ce, $ref)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[PqKernels.assignSub]] over (sub int, sv array<double>) — the Lloyd
  * assignment expression. */
case class PqAssignSub(left: Expression, right: Expression, cb: PqKernels.Cb)
    extends BinaryExpression with TypedInputs {
  override def acceptedTypes: Seq[Seq[DataType]] = Seq(Seq(IntegerType), PqTypes.Vec)
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "pq_assign_sub"
  override def nullSafeEval(sub: Any, sv: Any): Any =
    PqKernels.assignSub(sub.asInstanceOf[Int], sv.asInstanceOf[ArrayData], cb)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqcb", cb, classOf[PqKernels.Cb].getName)
    defineCodeGen(ctx, ev, (s, v) =>
      s"graft.functions.PqKernels.assignSub($s, $v, $ref)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column wrappers (the [[sig]] idiom). */
object pq {
  private def cbOf(cb: Array[Array[Array[Double]]]): PqKernels.Cb =
    PqKernels.fromCodebook(cb)
  def encode(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqEncode(Bridge.expression(vec.cast("array<double>")), cbOf(cb)))
  def encodeResidual(vec: Column, cell: Column, cb: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqEncodeResidual(Bridge.expression(vec.cast("array<double>")),
      Bridge.expression(cell.cast("array<double>")), cbOf(cb)))
  def reconstruct(codes: Column, cb: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqReconstruct(Bridge.expression(codes), cbOf(cb)))
  def reconstructAdd(codes: Column, cell: Column, cb: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqReconstructAdd(Bridge.expression(codes),
      Bridge.expression(cell.cast("array<double>")), cbOf(cb)))
  def assignSub(sub: Column, sv: Column, cb: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqAssignSub(Bridge.expression(sub),
      Bridge.expression(sv.cast("array<double>")), cbOf(cb)))
}
