package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{Bridge, TypedInputs}
import org.apache.spark.sql.types._

/**
 * Compiled SQ8 scalar-quantization kernels ([[graft.operators.QuantizeOps]],
 * [[graft.operators.IvfAnn]]'s quantized store/probe).
 *
 * WHY A KERNEL (measured, optimization round 20): the former column form
 * ran `transform`/`zip_with` higher-order functions per coordinate —
 * interpreted lambda frames per element — on BOTH sides of the quantized
 * family: the store side quantizes every corpus coordinate, and the probe
 * side dequantized `codes·scale` per scanned row inside the cell probe
 * (the hot path of x_ann_delete / x_ann_ivf_quant). One compiled loop per
 * vector computes the same values with no per-element dispatch.
 *
 * VALUE CONTRACT (bit-identical on well-formed input): quantization is
 * `floor(x/scale + 0.5)` clamped to [−127, 127] (zero scale → zero code),
 * exactly the engine-replayable arithmetic [[graft.operators.QuantizeOps]]
 * documents; dequantization is `code·scale` with the byte widened exactly.
 * NULL ELEMENTS pass through as null (the transform semantics); a null
 * ARRAY input is null (callers coalesce where the old form did).
 */
object QuantKernels extends Serializable {

  /** max|x| over non-null elements, or null when none — the
    * `array_max(transform(vec, abs))` step; the /127 and the
    * null-coalesce stay in the column wrapper so empty/null vectors
    * reproduce the old 0.0 exactly. */
  def maxAbs(vec: ArrayData): Any = {
    val n = vec.numElements()
    var m = 0.0
    var found = false
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i)) {
        val a = math.abs(vec.getDouble(i))
        if (!found || a > m) { m = a; found = true }
      }
      i += 1
    }
    if (found) m else null
  }

  @inline private def code(x: Double, scale: Double): Int =
    if (scale == 0.0) 0
    else math.floor(x / scale + 0.5) match {
      case d if d < -127.0 => -127
      case d if d > 127.0 => 127
      case d => d.toInt
    }

  /** Quantized int codes. Null elements preserve as null — EXCEPT under a
    * zero scale, where the old `when(scale === 0, 0)` branch fired before
    * the element was ever read, so every slot (null included) coded 0. */
  def quantizeInt8(vec: ArrayData, scale: Double): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (scale == 0.0) Int.box(0)
        else if (vec.isNullAt(i)) null
        else Int.box(code(vec.getDouble(i), scale))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Quantized tinyint codes — the [[graft.operators.IvfAnn.quantizeCells]]
    * storage form (the old outer `transform(_, cast tinyint)` fused in). */
  def quantizeTiny(vec: ArrayData, scale: Double): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (scale == 0.0) Byte.box(0.toByte)
        else if (vec.isNullAt(i)) null
        else Byte.box(code(vec.getDouble(i), scale).toByte)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** codes·scale widened back to double — the probe-side dequantization
    * (`transform(codes, c => c.cast("double") * scale)`). Accepts tinyint
    * or int codes. */
  def dequantize(codes: ArrayData, scale: Double, isByte: Boolean): ArrayData = {
    val n = codes.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (codes.isNullAt(i)) null
        else Double.box((if (isByte) codes.getByte(i).toDouble
                         else codes.getInt(i).toDouble) * scale)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** max|x − c·scale| over pairwise non-null (vec, codes) coordinates, or
    * null when none — the `array_max(zip_with(...))` step of
    * [[graft.operators.QuantizeOps.maxAbsError]]; zip_with length
    * extension pads with null, so only indices present and non-null on
    * BOTH sides contribute (a one-sided null made that coordinate null,
    * which array_max ignored). */
  def maxAbsError(vec: ArrayData, codes: ArrayData, scale: Double,
                  isByte: Boolean): Any = {
    val n = math.min(vec.numElements(), codes.numElements())
    var m = 0.0
    var found = false
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i) && !codes.isNullAt(i)) {
        val c = if (isByte) codes.getByte(i).toDouble else codes.getInt(i).toDouble
        val e = math.abs(vec.getDouble(i) - c * scale)
        if (!found || e > m) { m = e; found = true }
      }
      i += 1
    }
    if (found) m else null
  }
}

/** The kernels' declared inputs: a misuse (an int or decimal scale, a
  * codes column of another element type) fails at analysis with
  * Spark's DATATYPE_MISMATCH instead of a ClassCastException or a
  * codegen error at run time. */
private object QuantTypes {
  val Vec: Seq[DataType] = Seq(ArrayType(DoubleType))
  val Codes: Seq[DataType] = Seq(ArrayType(ByteType), ArrayType(IntegerType))
}

/** [[QuantKernels.maxAbs]] over an array<double> column (nullable out —
  * wrap in coalesce for the 0.0-on-empty contract). */
case class VecMaxAbs(child: Expression) extends UnaryExpression with TypedInputs {
  override def acceptedTypes: Seq[Seq[DataType]] = Seq(QuantTypes.Vec)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_max_abs"
  override def nullSafeEval(v: Any): Any =
    QuantKernels.maxAbs(v.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |Object r = graft.functions.QuantKernels.maxAbs($c);
         |if (r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Double) r).doubleValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[QuantKernels.quantizeInt8]] over (vec, scale). */
case class QuantizeInt8(left: Expression, right: Expression)
    extends BinaryExpression with TypedInputs {
  override def acceptedTypes: Seq[Seq[DataType]] = Seq(QuantTypes.Vec, Seq(DoubleType))
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "quantize_int8"
  override def nullSafeEval(v: Any, s: Any): Any =
    QuantKernels.quantizeInt8(v.asInstanceOf[ArrayData], s.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, s) => s"graft.functions.QuantKernels.quantizeInt8($v, $s)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[QuantKernels.quantizeTiny]] over (vec, scale). */
case class QuantizeTiny(left: Expression, right: Expression)
    extends BinaryExpression with TypedInputs {
  override def acceptedTypes: Seq[Seq[DataType]] = Seq(QuantTypes.Vec, Seq(DoubleType))
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(ByteType, containsNull = true)
  override def prettyName: String = "quantize_tiny"
  override def nullSafeEval(v: Any, s: Any): Any =
    QuantKernels.quantizeTiny(v.asInstanceOf[ArrayData], s.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, s) => s"graft.functions.QuantKernels.quantizeTiny($v, $s)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[QuantKernels.dequantize]] over (codes, scale); dispatches on the
  * codes element type (tinyint or int). */
case class DequantizeInt8(left: Expression, right: Expression)
    extends BinaryExpression with TypedInputs {
  override def acceptedTypes: Seq[Seq[DataType]] = Seq(QuantTypes.Codes, Seq(DoubleType))
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "dequantize_int8"
  private def isByte: Boolean = left.dataType match {
    case ArrayType(ByteType, _) => true
    case _ => false
  }
  override def nullSafeEval(c: Any, s: Any): Any =
    QuantKernels.dequantize(c.asInstanceOf[ArrayData], s.asInstanceOf[Double], isByte)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, s) =>
      s"graft.functions.QuantKernels.dequantize($c, $s, $isByte)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[QuantKernels.maxAbsError]] over (vec, codes, scale) (nullable out —
  * wrap in coalesce for the 0.0-on-empty contract). */
case class QuantMaxAbsError(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with TypedInputs {
  override def acceptedTypes: Seq[Seq[DataType]] =
    Seq(QuantTypes.Vec, QuantTypes.Codes, Seq(DoubleType))
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quant_max_abs_error"
  private def isByte: Boolean = second.dataType match {
    case ArrayType(ByteType, _) => true
    case _ => false
  }
  override def nullSafeEval(v: Any, c: Any, s: Any): Any =
    QuantKernels.maxAbsError(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      s.asInstanceOf[Double], isByte)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c, s) => {
      s"""
         |Object r = graft.functions.QuantKernels.maxAbsError($v, $c, $s, $isByte);
         |if (r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Double) r).doubleValue(); }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}

/** Column wrappers (the [[sig]] idiom). */
object quant {
  def maxAbs(vec: Column): Column =
    Bridge.column(VecMaxAbs(Bridge.expression(vec.cast("array<double>"))))
  def quantizeInt8(vec: Column, scale: Column): Column =
    Bridge.column(QuantizeInt8(Bridge.expression(vec.cast("array<double>")),
      Bridge.expression(scale)))
  def quantizeTiny(vec: Column, scale: Column): Column =
    Bridge.column(QuantizeTiny(Bridge.expression(vec.cast("array<double>")),
      Bridge.expression(scale)))
  def dequantize(codes: Column, scale: Column): Column =
    Bridge.column(DequantizeInt8(Bridge.expression(codes), Bridge.expression(scale)))
  def maxAbsError(vec: Column, codes: Column, scale: Column): Column =
    Bridge.column(QuantMaxAbsError(Bridge.expression(vec.cast("array<double>")),
      Bridge.expression(codes), Bridge.expression(scale)))
}
