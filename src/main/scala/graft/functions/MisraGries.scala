package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Misra–Gries heavy-hitter sketch as a typed `Aggregator`: a bounded
  * (≤ k−1 counters) summary whose surviving keys are a SUPERSET of every
  * item with true frequency > n/k — found in ONE pass with O(k) state
  * per partial, no full-vocabulary aggregate, no shuffle proportional to
  * the distinct-key count.
  *
  * Why this matters at 100 TB: the exact `groupBy(token).count()` route
  * shuffles one row per DISTINCT token — web-scale vocabularies are
  * billions of keys, nearly all of them singletons that exist only to be
  * discarded by the `count ≥ n/k` filter. The sketch reduces each map
  * task to ≤ k−1 (token, weight) pairs before the exchange, so shuffle
  * volume is O(partitions · k), independent of vocabulary size. The
  * candidates then feed a CHEAP exact second pass (a semi-join of the
  * token stream against ≤ k−1 broadcast keys), so the final answer is
  * EXACT — the sketch only prunes, it never decides.
  *
  * Guarantee (standard MG analysis, preserved under arbitrary merge
  * order): each counter undervalues its key's true count by at most
  * n/k after any sequence of reduce/merge steps, because every
  * decrement event retires k distinct-key units of weight and total
  * weight is n. Hence a key with true count > n/k cannot reach zero —
  * it survives in some partial and therefore in the merged summary.
  * Merging two summaries adds counters pointwise, then applies the
  * decrement step to shrink back below k counters (Agarwal et al.'s
  * mergeable-summaries result).
  */
class MisraGries(k: Int)
  extends Aggregator[String, Map[String, Long], Map[String, Long]] {
  require(k > 1, "k must be > 1")

  override def zero: Map[String, Long] = Map.empty

  /** Shrink a counter map below k entries: subtract the k-th largest
    * weight from every counter and drop the non-positive ones — the
    * batched form of MG's repeated all-counter decrement.
    */
  private def shrink(m: Map[String, Long]): Map[String, Long] =
    if (m.size < k) m
    else {
      val cut = m.values.toSeq.sorted(Ordering[Long].reverse)(k - 1)
      m.collect { case (key, w) if w > cut => key -> (w - cut) }
    }

  override def reduce(buf: Map[String, Long], v: String): Map[String, Long] =
    shrink(buf.updated(v, buf.getOrElse(v, 0L) + 1L))

  override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] =
    if (x.isEmpty) y else if (y.isEmpty) x
    else shrink(y.foldLeft(x) { case (acc, (key, w)) =>
      acc.updated(key, acc.getOrElse(key, 0L) + w)
    })

  override def finish(buf: Map[String, Long]): Map[String, Long] = buf

  override def bufferEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
}
