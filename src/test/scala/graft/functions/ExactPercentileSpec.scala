package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The primitive-run percentile kernel must be bit-equal to Spark's
  * `percentile`. Spark's own implementation is reached through a frequency
  * COLUMN of ones (the rule only takes a literal frequency of 1), so both
  * sides aggregate the same multiset in the same query.
  */
class ExactPercentileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val Pcts = Seq("0.0", "0.25", "0.5", "0.9", "1.0", "array(0.0, 0.1, 0.5, 0.9, 1.0)")
  private val Cols = Seq("c_int", "c_long", "c_dec", "c_double")

  /** 300 groups (past ObjectHashAggregate's 128-key sort fallback) of
    * heavy duplicates, negatives and NULLs; longs above 2^53 (distinct
    * longs one double apart); one all-NULL group and one single-row group.
    */
  private def data(): DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20000).map { i =>
      val g = rnd.nextInt(300)
      val base = rnd.nextInt(50) - 25
      if (rnd.nextInt(10) == 0) Row(g, 1, null, null, null, null)
      else Row(g, 1, base,
        if (g % 7 == 0) (1L << 60) + rnd.nextInt(5) else base * 1000003L + rnd.nextInt(3),
        new java.math.BigDecimal(base).add(java.math.BigDecimal.valueOf(rnd.nextInt(100), 2)),
        base * 1.5 + (if (rnd.nextBoolean()) 0.0 else rnd.nextGaussian()))
    } ++ Seq.fill(5)(Row(1000, 1, null, null, null, null)) ++
      Seq(Row(1001, 1, -3, -3L, new java.math.BigDecimal("-3.25"), -3.5))
    val schema = "g INT, one INT, c_int INT, c_long BIGINT, c_dec DECIMAL(10,2), c_double DOUBLE"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
  }

  /** `(kernel, spark)` column pairs over every column and percentage. */
  private def pairs: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)] =
    for (c <- Cols; (p, i) <- Pcts.zipWithIndex)
      yield (expr(s"percentile($c, $p)").as(s"k_${c}_$i"),
             expr(s"percentile($c, $p, one)").as(s"s_${c}_$i"))

  private def bits(v: Any): Any = v match {
    case null => null
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
  }

  private def assertBitEqual(df: DataFrame): Int = {
    val n = pairs.size
    val rows = df.collect()
    for (r <- rows; i <- 0 until n) {
      val (k, s) = (r.get(r.length - 2 * n + 2 * i), r.get(r.length - 2 * n + 2 * i + 1))
      assert(bits(k) == bits(s), s"${pairs(i)._1} in $r: kernel $k, spark $s")
    }
    rows.length
  }

  private def percentileClasses(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case _: Percentile => "Percentile"
      case _: ExactPercentile => "ExactPercentile"
    })

  test("kernel is bit-equal to Spark's percentile per group, through a shuffle and the sort fallback") {
    val cols = pairs.flatMap { case (k, s) => Seq(k, s) }
    val df = data().groupBy("g").agg(cols.head, cols.tail: _*)
    assert(percentileClasses(df).count(_ == "ExactPercentile") == pairs.size)
    assert(percentileClasses(df).count(_ == "Percentile") == pairs.size)
    assert(assertBitEqual(df) == 302)
    val byG = df.collect().map(r => r.getInt(0) -> r).toMap
    assert(byG(1000).isNullAt(1), "an all-NULL group is NULL")
    assert(byG(1001).getDouble(3) == -3.0 && byG(1001).getDouble(4) == -3.0)
  }

  test("serialized runs round-trip at the key extremes") {
    val agg = ExactPercentile(Literal(0L), Literal(0.5))
    val b = agg.createAggregationBuffer()
    Seq(Long.MaxValue, 5L, Long.MinValue, 0L, 5L, -1L).foreach(b.add)
    val r = agg.deserialize(agg.serialize(b))
    assert(r.keys.toSeq == Seq(Long.MinValue, -1L, 0L, 5L, Long.MaxValue))
    assert(r.counts.toSeq == Seq(1L, 1L, 1L, 2L, 1L))
    assert(agg.deserialize(agg.serialize(agg.createAggregationBuffer())).n == 0)
  }

  test("global aggregate: whole input, single row and empty input") {
    val cols = pairs.flatMap { case (k, s) => Seq(k, s) }
    val d = data()
    assert(assertBitEqual(d.agg(cols.head, cols.tail: _*)) == 1)
    assert(assertBitEqual(d.where(col("g") === 1001).agg(cols.head, cols.tail: _*)) == 1)
    val empty = d.where(lit(false)).agg(cols.head, cols.tail: _*).collect()
    assert(empty.length == 1 && (0 until empty.head.length).forall(empty.head.isNullAt))
  }

  test("result types match Spark's: double, and array<double> without nulls") {
    val df = data().agg(expr("percentile(c_int, 0.5)"), expr("percentile(c_dec, array(0.5))"))
    assert(percentileClasses(df) == Seq("ExactPercentile", "ExactPercentile"))
    assert(df.schema(0).dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.schema(1).dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false))
  }

  test("median and ascending percentile_cont take the kernel; frequency, DESC, DISTINCT and intervals keep Spark's") {
    data().createOrReplaceTempView("pct_input")
    def classes(sql: String) = percentileClasses(spark.sql(sql))
    assert(classes("SELECT median(c_double) FROM pct_input") == Seq("ExactPercentile"))
    assert(classes("SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY c_long) FROM pct_input") ==
      Seq("ExactPercentile"))
    assert(classes("SELECT percentile(c_int, 0.5, one) FROM pct_input") == Seq("Percentile"))
    assert(classes("SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY c_long DESC) FROM pct_input") ==
      Seq("Percentile"))
    assert(classes("SELECT percentile(DISTINCT c_int, 0.5) FROM pct_input") == Seq("Percentile"))
    assert(classes("SELECT percentile(make_ym_interval(0, c_int), 0.5) FROM pct_input") ==
      Seq("Percentile"))
  }
}
