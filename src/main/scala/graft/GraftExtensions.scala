package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CassandraToken, HyperplaneBucket, HyperplaneSig32, HyperplaneSig64, JaccardSorted, L2Long, MinHashSig, PortableWordHashes, QCosine, QDotLong, QNorm2, RollingFingerprint, ShingleHashes, WordWindowHashes}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions for SQL use. Attach with the builder's
  * `withExtensions(new GraftExtensions)` (as [[Mains.session]] does) or
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * SQL surface:
  *   cassandra_token(key) — exact Cassandra Murmur3 partitioner token
  *     of a bigint/text/binary partition key (reference F1).
  *
  * Engine rules:
  *   - as-of join planning (`AsOfStrategy`) and its filter pushdown
  *     (`PushFilterThroughAsOfJoin`);
  *   - [[graft.functions.UseExactPercentile]] (optimizer): exact
  *     `percentile` with frequency 1, ascending and numeric input runs on
  *     the primitive-run buffer of [[graft.functions.ExactPercentile]];
  *   - [[graft.plans.SmallSortOnePartition]] (AQE query-stage
  *     preparation): a global sort whose estimated output, bounded by
  *     materialized stages' row counts, fits `coalescePartitions.minPartitionSize`
  *     and whose measured input stages fit `advisoryPartitionSizeInBytes`
  *     shuffles into one partition, with no range-sample job.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(e.injectFunction)
    // custom-operator surface: as-of join planning + its pushdown rule
    e.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    e.injectOptimizerRule(_ => graft.functions.UseExactPercentile)
    e.injectQueryStagePrepRule(_ => graft.plans.SmallSortOnePartition)
  }
}

object GraftExtensions {
  private def unary(name: String, clazz: Class[_], build: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      (children: Seq[Expression]) => {
        require(children.size == 1, s"$name takes exactly one argument")
        build(children.head)
      })

  private def binary(name: String, clazz: Class[_], build: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"$name takes exactly two arguments")
        build(children.head, children(1))
      })

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    unary("cassandra_token", classOf[CassandraToken], CassandraToken(_)),
    unary("minhash_sig", classOf[MinHashSig], MinHashSig(_)),
    unary("shingle_hashes", classOf[ShingleHashes], ShingleHashes(_)),
    unary("rolling_fingerprint", classOf[RollingFingerprint], RollingFingerprint(_)),
    unary("portable_word_hashes", classOf[PortableWordHashes], PortableWordHashes(_)),
    unary("hyperplane_bucket", classOf[HyperplaneBucket], HyperplaneBucket(_)),
    unary("hyperplane_sig32", classOf[HyperplaneSig32], HyperplaneSig32(_)),
    unary("hyperplane_sig64", classOf[HyperplaneSig64], HyperplaneSig64(_)),
    unary("qnorm2", classOf[QNorm2], QNorm2(_)),
    binary("qdot_long", classOf[QDotLong], QDotLong(_, _)),
    binary("l2_long", classOf[L2Long], L2Long(_, _)),
    binary("qcosine", classOf[QCosine], QCosine(_, _)),
    binary("jaccard_sorted", classOf[JaccardSorted], JaccardSorted(_, _)),
    binary("word_window_hashes", classOf[WordWindowHashes], WordWindowHashes(_, _)))

  /** Register directly on an existing session (tests / REPL); idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
