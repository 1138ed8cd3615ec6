package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Misra–Gries heavy-hitters summary as a mergeable aggregate — the
 * frequency leg of the engine's sketch family (cardinality =
 * `approx_count_distinct`/HLL in `x_approx_distinct`, rank =
 * `approx_percentile` in `x_quantile_sketch`, frequency = this).
 *
 * Why a sketch when the exact form exists (`x_vocab_topk` is an exact
 * (group, token) count + bounded-heap top-k): the exact form shuffles one
 * row per DISTINCT (group, token) — fine when vocabularies are bounded,
 * linear-in-corpus when they are not (URLs, n-grams, user ids). The
 * Misra–Gries form shuffles at most `m` counters per group per map
 * partition, a fixed budget independent of the universe size, and Spark's
 * partial aggregation gives the classic two-level shape for free: map-side
 * summaries merge per group on the reduce side.
 *
 * Guarantee (Misra–Gries 1982; merge-preserving per Agarwal et al. 2012,
 * "Mergeable Summaries", PODS): with capacity `m`, for every value with
 * true count `c` over `n` processed rows the summary's estimate `est`
 * satisfies `max(0, c − n/(m+1)) ≤ est ≤ c` (absent ⇒ est 0) — so every
 * value with `c > n/(m+1)` is PRESENT. Estimates are NOT deterministic
 * across partitionings (merge order shifts which counters survive); the
 * guarantee is. Query contracts must therefore check the bound, never pin
 * the raw estimates — `x_heavy_hitters` outputs exact values plus
 * guarantee booleans, the `x_approx_distinct` idiom.
 *
 * TypedImperativeAggregate (the surface Spark's own ApproximatePercentile
 * uses) rather than DeclarativeAggregate: the buffer is a bounded
 * hash map with data-dependent eviction — not expressible as a fixed
 * UnsafeRow slot — and rides ObjectHashAggregate with binary
 * serialization only at partial-result exchange boundaries.
 *
 * Reference behavior note: the reference has no sketch surface at all —
 * its trending/top-N paths (recommendation-service popularity top-50)
 * recount exactly per request; this generalizes that to unbounded key
 * universes at a fixed memory budget.
 */
case class MisraGriesAgg(
    child: Expression,
    m: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MisraGriesAgg.Buffer]
  with UnaryLike[Expression] {

  require(m >= 1, s"misra_gries capacity must be >= 1: $m")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"misra_gries requires a string column, got ${child.dataType.catalogString}")
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"

  override def createAggregationBuffer(): MisraGriesAgg.Buffer =
    new MisraGriesAgg.Buffer(m)

  override def update(buf: MisraGriesAgg.Buffer, input: InternalRow): MisraGriesAgg.Buffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String])
    buf
  }

  override def merge(a: MisraGriesAgg.Buffer, b: MisraGriesAgg.Buffer): MisraGriesAgg.Buffer = {
    a.mergeIn(b); a
  }

  override def eval(buf: MisraGriesAgg.Buffer): Any = {
    val ks = new Array[AnyRef](buf.counters.size)
    val vs = new Array[Any](buf.counters.size)
    var i = 0
    val it = buf.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); ks(i) = e.getKey; vs(i) = e.getValue.longValue(); i += 1
    }
    ArrayBasedMapData(ks, vs)
  }

  override def serialize(buf: MisraGriesAgg.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.n)
    out.writeInt(buf.counters.size)
    val it = buf.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bytes = e.getKey.getBytes
      out.writeInt(bytes.length); out.write(bytes); out.writeLong(e.getValue)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MisraGriesAgg.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new MisraGriesAgg.Buffer(m)
    buf.n = in.readLong()
    val size = in.readInt()
    var i = 0
    while (i < size) {
      val len = in.readInt()
      val kb = new Array[Byte](len); in.readFully(kb)
      buf.counters.put(UTF8String.fromBytes(kb), java.lang.Long.valueOf(in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
    copy(child = newChild)
}

/**
 * Additive compaction of STORED Misra–Gries summaries — the frequency
 * leg's maintenance aggregate, completing the standing-index pattern the
 * engine's other summaries follow (`SpanDedup.mergeSpanIndexes`,
 * `DedupOps.refreshBandIndexStored`, `CellStore.add`): each batch
 * persists its per-group `(misra_gries map, n)` pair, and this aggregate
 * folds any number of stored pairs into one summary that still honors
 * the MG bound over the UNION of the batches (Agarwal et al. 2012) —
 * corpus never rescanned, compaction input is m-bounded rows. Estimates
 * after compaction differ from a single-pass sketch (merge order moves
 * them); the bound does not, which is the spec-pinned law.
 *
 * Inputs: `items` a map<string,bigint> summary, `n` its processed-row
 * count. Output: struct(items map<string,bigint>, n bigint).
 */
case class MisraGriesMergeAgg(
    left: Expression,
    right: Expression,
    m: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MisraGriesAgg.Buffer]
  with BinaryLike[Expression] {

  require(m >= 1, s"misra_gries_merge capacity must be >= 1: $m")

  private def itemsExpr = left
  private def nExpr = right

  override def checkInputDataTypes(): TypeCheckResult =
    (itemsExpr.dataType, nExpr.dataType) match {
      case (MapType(StringType, LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (it, nt) => TypeCheckResult.TypeCheckFailure(
        s"misra_gries_merge requires (map<string,bigint>, bigint), got " +
          s"(${it.catalogString}, ${nt.catalogString})")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("items", MapType(StringType, LongType, valueContainsNull = false),
      nullable = false),
    StructField("n", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries_merge"

  override def createAggregationBuffer(): MisraGriesAgg.Buffer =
    new MisraGriesAgg.Buffer(m)

  override def update(buf: MisraGriesAgg.Buffer, input: InternalRow): MisraGriesAgg.Buffer = {
    val mv = itemsExpr.eval(input)
    val nv = nExpr.eval(input)
    if (mv != null && nv != null) {
      val md = mv.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
      val other = new MisraGriesAgg.Buffer(m)
      other.n = nv.asInstanceOf[Long]
      val ks = md.keyArray(); val vs = md.valueArray()
      var i = 0
      while (i < md.numElements()) {
        // clone: the MapData may be unsafe-backed and reused across rows
        other.counters.put(ks.getUTF8String(i).clone(),
          java.lang.Long.valueOf(vs.getLong(i)))
        i += 1
      }
      buf.mergeIn(other)
    }
    buf
  }

  override def merge(a: MisraGriesAgg.Buffer, b: MisraGriesAgg.Buffer): MisraGriesAgg.Buffer = {
    a.mergeIn(b); a
  }

  override def eval(buf: MisraGriesAgg.Buffer): Any = {
    val ks = new Array[AnyRef](buf.counters.size)
    val vs = new Array[Any](buf.counters.size)
    var i = 0
    val it = buf.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); ks(i) = e.getKey; vs(i) = e.getValue.longValue(); i += 1
    }
    InternalRow(ArrayBasedMapData(ks, vs), buf.n)
  }

  override def serialize(buf: MisraGriesAgg.Buffer): Array[Byte] =
    MisraGriesAgg(left, m).serialize(buf)
  override def deserialize(bytes: Array[Byte]): MisraGriesAgg.Buffer =
    MisraGriesAgg(left, m).deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MisraGriesMergeAgg =
    copy(left = newLeft, right = newRight)
}

object MisraGriesAgg {
  /** At most `m` counters plus the processed-row count `n` (the error
    * bound's denominator rides the buffer so merged summaries keep an
    * accurate n/(m+1) budget). */
  final class Buffer(val m: Int) {
    val counters = new java.util.HashMap[UTF8String, java.lang.Long](m * 2)
    var n: Long = 0L

    /** Streaming MG step. The decrement-all branch runs at most once per
      * m+1 arrivals (each pays m+1 units of count mass), so total work is
      * O(rows) amortized. Keys are cloned on first insert: the incoming
      * UTF8String aliases the scan's reused row buffer. */
    def add(key: UTF8String): Unit = {
      n += 1
      val cur = counters.get(key)
      if (cur != null) counters.put(key, java.lang.Long.valueOf(cur + 1L))
      else if (counters.size < m) counters.put(key.clone(), java.lang.Long.valueOf(1L))
      else decrementAll(1L)
    }

    /** Mergeable-summaries merge: sum counters, then if over capacity
      * subtract the (m+1)-th largest value from all (the smallest
      * subtraction that restores the budget) and drop non-positives.
      * Underestimates stay underestimates; the combined decrement mass
      * stays ≤ (n_a + n_b)/(m+1) — the bound survives merging. */
    def mergeIn(other: Buffer): Unit = {
      n += other.n
      val it = other.counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val cur = counters.get(e.getKey)
        val sum = if (cur == null) e.getValue.longValue() else cur + e.getValue
        counters.put(e.getKey, java.lang.Long.valueOf(sum))
      }
      if (counters.size > m) {
        val vals = new Array[Long](counters.size)
        var i = 0
        val vit = counters.values().iterator()
        while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
        java.util.Arrays.sort(vals)
        decrementAll(vals(vals.length - m - 1))
      }
    }

    private def decrementAll(by: Long): Unit = {
      val it = counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - by
        if (nv <= 0L) it.remove()
        else e.setValue(java.lang.Long.valueOf(nv))
      }
    }
  }

  /** `misra_gries(col, m)` as a Column aggregate: map<string,bigint> of
    * surviving counters. Pair with `count(*)` in the same groupBy for the
    * n/(m+1) bound. */
  def misraGries(c: Column, m: Int): Column =
    Bridge.column(MisraGriesAgg(Bridge.expression(c), m).toAggregateExpression())

  /** `misra_gries_merge(items, n, m)`: fold stored per-batch summaries
    * into one — struct(items, n). Same buffer, same bound, never a
    * corpus rescan. */
  def misraGriesMerge(items: Column, n: Column, m: Int): Column =
    Bridge.column(MisraGriesMergeAgg(Bridge.expression(items),
      Bridge.expression(n), m).toAggregateExpression())
}
