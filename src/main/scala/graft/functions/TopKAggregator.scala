package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** One scored candidate for a top-k aggregation: a neighbor id and its
  * similarity score.
  */
final case class ScoredNeighbor(cs: Double, b_id: Long)

/** Typed UDAF (SURVEY.md §2.10): exact top-k by (score DESC, id ASC) with
  * O(k) state — the aggregation shape that makes per-query exact nearest
  * neighbors scale. A `row_number` window for "top k per query" must
  * shuffle EVERY scored row to its query's partition and sort there (one
  * reducer sees the whole corpus per query at 100 TB); this aggregator
  * keeps a k-element sorted buffer, so map-side partial aggregation
  * reduces each partition's contribution to k rows per query before the
  * shuffle — the shuffle carries #partitions × k rows per query, never
  * the corpus.
  *
  * Determinism: (cs, b_id) is a strict total order (ties broken by id,
  * NaN below every real so a garbage score never evicts a genuine
  * neighbor), so the top-k SET is unique regardless of reduce/merge
  * order — the result is partition-order invariant and oracle-checkable
  * against a `ROW_NUMBER() OVER (ORDER BY cs DESC, b_id)` SQL window on
  * NaN-free scores (SQL engines rank NaN ABOVE reals in DESC order;
  * filter NaN upstream when comparing, as q34 does).
  */
final class TopKByScore(k: Int)
    extends Aggregator[ScoredNeighbor, List[ScoredNeighbor], Seq[ScoredNeighbor]] {

  private def better(x: ScoredNeighbor, y: ScoredNeighbor): Boolean = {
    // total order with NaN ranked BELOW every real score: a NaN cosine
    // (zero-norm embedding) is a garbage similarity and must never evict
    // a genuine neighbor from the buffer. `>`/`==` return false in BOTH
    // directions for NaN, which would make the buffer position
    // arrival-order-dependent; the explicit NaN branch plus
    // Double.compare keeps the order total and deterministic (two NaNs
    // still tie-break by id).
    val xn = java.lang.Double.isNaN(x.cs)
    val yn = java.lang.Double.isNaN(y.cs)
    if (xn != yn) yn
    else {
      val c = java.lang.Double.compare(x.cs, y.cs)
      c > 0 || (c == 0 && x.b_id < y.b_id)
    }
  }

  /** Insert keeping the buffer sorted best-first and bounded at k. */
  private def insert(buf: List[ScoredNeighbor], a: ScoredNeighbor): List[ScoredNeighbor] =
    if (buf.lengthCompare(k) >= 0 && better(buf.last, a)) buf
    else {
      val (pre, post) = buf.span(b => better(b, a))
      (pre ::: (a :: post)).take(k)
    }

  override def zero: List[ScoredNeighbor] = Nil

  override def reduce(buf: List[ScoredNeighbor], a: ScoredNeighbor): List[ScoredNeighbor] =
    insert(buf, a)

  override def merge(a: List[ScoredNeighbor], b: List[ScoredNeighbor]): List[ScoredNeighbor] =
    b.foldLeft(a)(insert)

  override def finish(r: List[ScoredNeighbor]): Seq[ScoredNeighbor] = r

  override def bufferEncoder: Encoder[List[ScoredNeighbor]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[ScoredNeighbor]]()

  override def outputEncoder: Encoder[Seq[ScoredNeighbor]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredNeighbor]]()
}

object TopKByScore {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, posexplode, udaf}

  /** Column-API form: `topK(5)($"cs", $"b_id")`, yielding the buffer as
    * an array of (cs, b_id) structs. Engine code goes through [[ranked]].
    */
  def apply(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new TopKByScore(k), Encoders.product[ScoredNeighbor])

  /** The one top-k tail: per `group` of a scored relation, the k best
    * rows by (`score` DESC, `id` ASC) through the bounded-state
    * aggregator, one output row per kept neighbour —
    * (`group`, `rk`, `id`, `score`), `rk` 1-based INT best-first. Column
    * names are the caller's, so no caller sees the aggregator's buffer
    * layout. `score` must be DOUBLE and `id` BIGINT.
    */
  def ranked(scored: DataFrame, group: String, score: String, id: String,
      k: Int): DataFrame =
    scored.groupBy(col(group))
      .agg(TopKByScore(k)(col(score), col(id)).as("top"))
      .select(col(group), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(group), (col("pos") + 1).as("rk"),
        col("t.b_id").as(id), col("t.cs").as(score))
}
