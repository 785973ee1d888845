package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col

/** Typed bounded-heap top-k for scored candidates: input rows are
  * (group_id, item_id, score); each group keeps only its k best items
  * (score desc, item_id asc — the same deterministic tiebreak as a
  * `row_number` window ordered by score desc, id asc).
  *
  * Unlike a window top-k — which shuffles EVERY scored row to one
  * partition per group — this runs as a partial aggregate: each map
  * partition ships at most k entries per group, so the exchange carries
  * O(groups · k), not O(corpus · queries). This is the shape that
  * survives a 100 TB corpus with thousands of queries.
  */
class TopKByScore(k: Int)
    extends Aggregator[(Long, Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {

  // best-first: higher score, then smaller id
  private def ord: Ordering[(Long, Double)] =
    Ordering.by[(Long, Double), (Double, Long)] { case (id, s) => (-s, id) }

  override def zero: Seq[(Long, Double)] = Seq.empty

  private def trim(s: Seq[(Long, Double)]): Seq[(Long, Double)] =
    s.sorted(ord).take(k)

  override def reduce(buf: Seq[(Long, Double)], in: (Long, Long, Double)): Seq[(Long, Double)] = {
    val item = (in._2, in._3)
    // buf is kept sorted best-first; skip items no better than the
    // current k-th without resorting
    if (buf.size >= k && ord.compare(item, buf.last) >= 0) buf
    else trim(buf :+ item)
  }

  override def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Seq[(Long, Double)] =
    trim(a ++ b)

  override def finish(r: Seq[(Long, Double)]): Seq[(Long, Double)] = trim(r)

  override def bufferEncoder: Encoder[Seq[(Long, Double)]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Long, Double)]] = ExpressionEncoder()
}

object TopKByScore {

  /** The k best `item`s per `key` of `scored` by `score` (BIGINT,
    * BIGINT, DOUBLE columns): (key, item, score, rn) rows under the same
    * names, rn = 1 for the best. The one Spark shell around the
    * aggregator.
    */
  def top(scored: DataFrame, key: String, item: String, score: String, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col(key), col(item), col(score)).as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new TopKByScore(k).toColumn)
      .flatMap { case (g, hits) =>
        hits.zipWithIndex.map { case ((v, s), i) => (g, v, s, i + 1) }
      }
      .toDF(key, item, score, "rn")
  }
}
