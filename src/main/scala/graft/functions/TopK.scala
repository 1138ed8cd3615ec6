package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import scala.collection.mutable.ArrayBuffer

/** A (score, id) candidate for bounded top-k aggregation. */
case class Scored(score: Double, id: Long)

/**
 * Bounded top-k aggregate under `ord` (best first). The crucial scale
 * property vs the `Window.partitionBy(key).orderBy(desc(score)) rank<=k`
 * formulation: this aggregates PARTIALLY MAP-SIDE — the buffer never
 * holds more than k candidates, so each partition forwards at most k per
 * group into the shuffle and a kNN join over Q queries × C corpus rows
 * shuffles O(Q·k·partitions) rows instead of O(Q·C). (Reference
 * operator: FAISS top-50 search, recommendation-trainer.py:89-100.)
 *
 * The buffer is a binary heap with the WORST kept candidate at the root:
 * a candidate enters while there is room, or replaces the root when
 * `ord` ranks it strictly better. `ord` is a total order (NaN scores
 * rank last), so the kept set equals sort-then-take exactly.
 */
abstract class BoundedTopK[T](k: Int, ord: Ordering[T])
    extends Aggregator[T, ArrayBuffer[T], Seq[T]] {

  private def swap(b: ArrayBuffer[T], i: Int, j: Int): Unit = {
    val t = b(i); b(i) = b(j); b(j) = t
  }

  /** Restore the worst-at-root heap property downward from slot `i`. */
  private def siftDown(b: ArrayBuffer[T], i0: Int): Unit = {
    var i = i0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      var w = i
      if (l < b.length && ord.gt(b(l), b(w))) w = l
      if (l + 1 < b.length && ord.gt(b(l + 1), b(w))) w = l + 1
      if (w == i) done = true else { swap(b, i, w); i = w }
    }
  }

  override def zero: ArrayBuffer[T] = new ArrayBuffer[T](k)
  override def reduce(b: ArrayBuffer[T], a: T): ArrayBuffer[T] = {
    if (a == null || k <= 0) b
    else if (b.length < k) {
      b += a
      var i = b.length - 1
      while (i > 0 && ord.gt(b(i), b((i - 1) / 2))) { swap(b, i, (i - 1) / 2); i = (i - 1) / 2 }
      b
    } else {
      if (ord.lt(a, b(0))) { b(0) = a; siftDown(b, 0) }
      b
    }
  }
  override def merge(x: ArrayBuffer[T], y: ArrayBuffer[T]): ArrayBuffer[T] =
    y.foldLeft(x)(reduce)
  override def finish(b: ArrayBuffer[T]): Seq[T] = b.sorted(ord).toSeq
}

/** Ordering: score desc, id asc (deterministic tie-break). */
class TopKAgg(k: Int)
    extends BoundedTopK[Scored](k, Ordering.by((s: Scored) => (-s.score, s.id))) {
  override def bufferEncoder: Encoder[ArrayBuffer[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

object TopK {
  /** topK(k)(struct-as-Scored column): array<struct<score,id>> sorted desc. */
  def apply(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKAgg(k), Encoders.product[Scored])
    (score, id) => fn(score, id)
  }
}

/** String-keyed variant of [[Scored]]/[[TopKAgg]] (tie-break id asc
  * lexicographically). */
case class ScoredS(score: Double, id: String)

class TopKAggS(k: Int)
    extends BoundedTopK[ScoredS](k, Ordering.by((s: ScoredS) => (-s.score, s.id))) {
  override def bufferEncoder: Encoder[ArrayBuffer[ScoredS]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[ScoredS]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

object TopKStr {
  def apply(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKAggS(k), Encoders.product[ScoredS])
    (score, id) => fn(score, id)
  }
}
