package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** One (score, id) candidate flowing into [[TopKAggregator]]. */
case class Scored(score: Double, id: Long)

/** Exact per-group top-k as a MERGEABLE typed aggregate: the buffer is the
  * group's current top-k (≤ k rows), kept ordered by (score desc, id asc —
  * a total order, so ties are deterministic across engines and retries).
  *
  * Scale contract vs the window form (`row_number() OVER (...) <= k`,
  * q127's WindowGroupLimit): the window still SORTS each group partition;
  * this aggregate never sorts the data — each map task reduces its slice
  * to ≤ k rows (O(n·k) with k-bounded buffers), partials merge
  * associatively on the shuffle (k-vs-k merges), and only |groups|·k rows
  * ever cross the wire. For small k over huge skewed groups that is the
  * shape that survives 100 TB: the hot group's top-k still computes as
  * distributed partials, not one sorted partition.
  *
  * Usage:
  *   ds.groupByKey(_.key).agg(new TopKAggregator(3).toColumn)
  *   spark.udf.register("top_k", functions.udaf(new TopKAggregator(3)))
  */
class TopKAggregator(k: Int) extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
  require(k >= 1, s"top-k needs k >= 1, got $k")

  private def beats(a: Scored, b: Scored): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  override def zero: Seq[Scored] = Vector.empty

  override def reduce(buf: Seq[Scored], x: Scored): Seq[Scored] =
    if (buf.sizeIs >= k && beats(buf.last, x)) buf // common case: not in top-k
    else {
      // ordered insert keeps the buffer sorted; O(k) per accepted row
      val (better, worse) = buf.span(beats(_, x))
      (better ++ (x +: worse)).take(k)
    }

  override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] = {
    // merge of two sorted ≤k lists, O(k)
    val out = Vector.newBuilder[Scored]
    var (i, j, n) = (0, 0, 0)
    while (n < k && (i < a.size || j < b.size)) {
      val takeA = j >= b.size || (i < a.size && beats(a(i), b(j)))
      out += (if (takeA) { i += 1; a(i - 1) } else { j += 1; b(j - 1) })
      n += 1
    }
    out.result()
  }

  override def finish(r: Seq[Scored]): Seq[Scored] = r

  override def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
  override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
}
