package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable per-key row counter, used as an `observe()` metric so the
  * migration write job reports per-range written counts WITHOUT a second
  * source scan (T5 verification; see the private `Migrate.migrate`, which
  * both `run` and `runOnce` call).
  *
  * Key cardinality is the number of token ranges (control-table sized,
  * ≤ a few thousand), so the map buffer stays tiny on every partition
  * and the merge tree stays cheap at any data scale.
  */
class CountByKey extends Aggregator[Long, Map[Long, Long], Map[Long, Long]] {
  def zero: Map[Long, Long] = Map.empty
  def reduce(b: Map[Long, Long], key: Long): Map[Long, Long] =
    b.updated(key, b.getOrElse(key, 0L) + 1L)
  def merge(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] =
    b.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
  def finish(m: Map[Long, Long]): Map[Long, Long] = m
  def bufferEncoder: Encoder[Map[Long, Long]] = ExpressionEncoder()
  def outputEncoder: Encoder[Map[Long, Long]] = ExpressionEncoder()
}

object CountByKey {
  /** Column form: countByKey(col) aggregates to map<key, count>. */
  def countByKey(key: Column): Column = udaf(new CountByKey).apply(key)
}
