package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, posexplode, udaf}

/** Bounded top-k as a typed Aggregator: each partition keeps at most k
  * (score, id) pairs, partials merge pairwise — so per-group top-k costs a
  * size-k buffer per group per partition instead of a full
  * partition-by/sort window over every row. At 100 TB this is the
  * difference between shuffling k rows per group and shuffling (then
  * sorting) the whole table.
  *
  * Ties break toward the smaller id, matching
  * `row_number() OVER (ORDER BY score DESC, id)`.
  */
final class TopKAggregator(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  require(k > 0, "k must be positive")

  override def zero: Seq[(Double, Long)] = Vector.empty

  private def ordered(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
    s.sortBy { case (score, id) => (-score, id) }.take(k)

  override def reduce(buf: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] =
    // fast path: below the current k-th element, skip the sort
    if (buf.size >= k && {
      val (ls, li) = buf.last
      in._1 < ls || (in._1 == ls && in._2 > li)
    }) buf
    else ordered(buf :+ in)

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    ordered(a ++ b)

  override def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = buf

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    bufferEncoder
}

object TopKAggregator {
  /** Per-group top-k of `df` as rows: the `keys` columns, a 1-based `rk`
    * (int), `score` and `id` — one row per kept item, ranked by
    * (score DESC, id), i.e. `row_number() OVER (PARTITION BY keys ORDER
    * BY score DESC, id) <= k`.
    *
    * The aggregator runs as a DataFrame UDAF so the key stays a native
    * column: the typed `groupByKey(_._1)` form plans an AppendColumns
    * step that deserializes EVERY input row into a Scala tuple to run
    * the key lambda, which at a 10^10-row scored-pair stream (the sf10
    * pagerank edge build) is the dominant per-row cost, not the bounded
    * heap itself. Only the aggregator's (score, id) input pays the
    * encoder here; scan → aggregate stays whole-stage codegen.
    */
  def ranked(df: DataFrame, keys: Seq[String], k: Int, score: Column,
      id: Column): DataFrame =
    rankRows(df, keys, udaf(new TopKAggregator(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))(score, id))

  /** Groups `df` by `keys`, aggregates `top` and explodes it in buffer
    * order: the aggregators keep their buffer sorted, so position + 1 is
    * the rank.
    */
  private[functions] def rankRows(df: DataFrame, keys: Seq[String], top: Column): DataFrame =
    df.groupBy(keys.map(col): _*).agg(top.as("top"))
      .select(keys.map(col) :+ posexplode(col("top")).as(Seq("pos", "item")): _*)
      .select(keys.map(col) ++ Seq((col("pos") + 1).as("rk"),
        col("item._1").as("score"), col("item._2").as("id")): _*)
}

/** Bounded SMALLEST-k by a string key — the ascending sibling of
  * [[TopKAggregator]] for priority-keyed sampling (the distributed
  * reservoir: md5(text) is the priority, keep the k smallest). Same
  * scale contract: a size-k buffer per group per partition, k rows per
  * group cross the exchange, no partition-wide Window sort.
  *
  * Ties break toward the smaller id, matching
  * `row_number() OVER (ORDER BY key, id)`.
  */
final class MinKAggregator(k: Int)
    extends Aggregator[(String, Long), Seq[(String, Long)], Seq[(String, Long)]] {
  require(k > 0, "k must be positive")

  override def zero: Seq[(String, Long)] = Vector.empty

  private def ordered(s: Seq[(String, Long)]): Seq[(String, Long)] =
    s.sortBy(identity).take(k)

  override def reduce(buf: Seq[(String, Long)], in: (String, Long)): Seq[(String, Long)] =
    // fast path: above the current k-th element, skip the sort
    if (buf.size >= k && {
      val (lk, li) = buf.last
      val c = in._1.compareTo(lk)
      c > 0 || (c == 0 && in._2 > li)
    }) buf
    else ordered(buf :+ in)

  override def merge(a: Seq[(String, Long)], b: Seq[(String, Long)]): Seq[(String, Long)] =
    ordered(a ++ b)

  override def finish(buf: Seq[(String, Long)]): Seq[(String, Long)] = buf

  override def bufferEncoder: Encoder[Seq[(String, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(String, Long)]]()
  override def outputEncoder: Encoder[Seq[(String, Long)]] =
    bufferEncoder
}

object MinKAggregator {
  /** Per-group smallest-k of `df` as rows: the `keys` columns, a 1-based
    * `rk` (int), `score` (the string key) and `id`, ranked by (key, id)
    * — [[TopKAggregator.ranked]] in ascending order, with the same
    * native-key UDAF plan.
    */
  def ranked(df: DataFrame, keys: Seq[String], k: Int, key: Column,
      id: Column): DataFrame =
    TopKAggregator.rankRows(df, keys, udaf(new MinKAggregator(k),
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong))(key, id))
}
