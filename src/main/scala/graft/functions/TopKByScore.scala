package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** One scored candidate: (score, id), ordered score-desc then id-asc. */
case class Scored(score: Double, id: Long)

/** Bounded per-group top-k as a typed `Aggregator` — the scale-correct
  * replacement for `row_number().over(Window.partitionBy(g).orderBy(...))
  * .filter(rank <= k)`, which shuffles EVERY scored row to the group's
  * single reducer (with few groups, that is both a full shuffle and a skew
  * hotspot). Planned as ObjectHashAggregate with partial (map-side) +
  * final aggregation, each map task reduces its rows to at most k per
  * group before the exchange, so shuffle volume is
  * O(partitions × groups × k) — independent of the scored-row count.
  *
  * Ordering contract (must match the SQL oracle's
  * `ORDER BY score DESC, id ASC` ranking): ids are assumed unique within a
  * group, making the order total and the result deterministic.
  */
class TopKByScore(k: Int) extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
  require(k > 0, "k must be positive")

  /** Strict "ranks ahead of": higher score first, then lower id. */
  private def ahead(a: Scored, b: Scored): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  override def zero: Seq[Scored] = Seq.empty

  override def reduce(buf: Seq[Scored], v: Scored): Seq[Scored] =
    if (buf.size >= k && ahead(buf.last, v)) buf // common case: no re-sort
    else (v +: buf).sortWith(ahead).take(k)

  override def merge(x: Seq[Scored], y: Seq[Scored]): Seq[Scored] =
    if (x.isEmpty) y else if (y.isEmpty) x
    else (x ++ y).sortWith(ahead).take(k)

  override def finish(buf: Seq[Scored]): Seq[Scored] = buf

  override def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
  override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
}

/** [[Scored]] plus an opaque payload carried through the ranking (e.g. the
  * IVF cell a candidate was retrieved from). The tag takes no part in the
  * ordering.
  */
case class ScoredTag(score: Double, id: Long, tag: Long)

/** [[TopKByScore]] with a carried payload — same bounded partial+final
  * aggregation, same (score desc, id asc) total order.
  */
class TopKTagged(k: Int) extends Aggregator[ScoredTag, Seq[ScoredTag], Seq[ScoredTag]] {
  require(k > 0, "k must be positive")

  private def ahead(a: ScoredTag, b: ScoredTag): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  override def zero: Seq[ScoredTag] = Seq.empty

  override def reduce(buf: Seq[ScoredTag], v: ScoredTag): Seq[ScoredTag] =
    if (buf.size >= k && ahead(buf.last, v)) buf
    else (v +: buf).sortWith(ahead).take(k)

  override def merge(x: Seq[ScoredTag], y: Seq[ScoredTag]): Seq[ScoredTag] =
    if (x.isEmpty) y else if (y.isEmpty) x
    else (x ++ y).sortWith(ahead).take(k)

  override def finish(buf: Seq[ScoredTag]): Seq[ScoredTag] = buf

  override def bufferEncoder: Encoder[Seq[ScoredTag]] = ExpressionEncoder[Seq[ScoredTag]]()
  override def outputEncoder: Encoder[Seq[ScoredTag]] = ExpressionEncoder[Seq[ScoredTag]]()
}
