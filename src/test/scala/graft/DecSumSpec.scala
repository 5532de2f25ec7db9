package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.functions.Cols

/** [[Cols.dsum]]/[[Cols.dsum4]] write a DECIMAL(18,s) SUM, which the
  * session-wide [[graft.plans.DecimalSumLimbs]] rule rewrites into four
  * base-2^16 long limb sums recombined exactly per group. The result
  * must be BIT-IDENTICAL to a decimal SUM the rule leaves alone —
  * `CAST(SUM(CAST(c AS DECIMAL(38,s))) AS DOUBLE)`: the rule skips
  * precision > 18, and for these inputs the (38,s) cast rounds each
  * row exactly like the (18,s) one (same setScale(s, HALF_UP) on the
  * same double). Checked on seeded random data with negatives, nulls,
  * full-precision doubles (not on the 2-decimal grid — the cast must do
  * the rounding), many groups, and a single-row group; and the plan is
  * checked to carry the limb sums, so a rule that stops firing fails
  * here, not only as a ~5× slower moment aggregation. */
class DecSumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ref(c: org.apache.spark.sql.Column, scale: Int) =
    sum(c.cast(DecimalType(38, scale))).cast("double")

  private def check(rows: Seq[(String, java.lang.Double)], label: String): Unit = {
    val s = spark
    import s.implicits._
    val df = rows.toDF("g", "v").repartition(7)
    val got = df.groupBy("g")
      .agg(Cols.dsum(col("v")).as("s2"), Cols.dsum4(col("v") * col("v")).as("s4"),
        Cols.dsum(col("v"), 4).as("s2b"))
      .collect().map(r => r.getString(0) ->
        (r.get(1), r.get(2), r.get(3))).toMap
    val want = df.groupBy("g")
      .agg(ref(col("v"), 2).as("s2"), ref(col("v") * col("v"), 4).as("s4"),
        ref(col("v"), 4).as("s2b"))
      .collect().map(r => r.getString(0) ->
        (r.get(1), r.get(2), r.get(3))).toMap
    assert(got.keySet == want.keySet, label)
    got.foreach { case (g, t) =>
      assert(t == want(g), s"$label group $g: $t vs ${want(g)}")
    }
  }

  test("limb dsum == decimal SUM: random full-precision doubles, negatives, nulls") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 20000).map { i =>
      val v: java.lang.Double =
        if (i % 97 == 0) null
        else (rnd.nextDouble() - 0.5) * 2e5 // full precision, signed
      (s"g${rnd.nextInt(13)}", v)
    } :+ (("solo", java.lang.Double.valueOf(123456.785)))
    check(rows, "random")
  }

  test("limb dsum == decimal SUM: 2-decimal money grid and exact .5 boundaries") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 20000).map { _ =>
      (s"g${rnd.nextInt(5)}",
        java.lang.Double.valueOf(rnd.nextInt(20000000) / 100.0 - 50000.0))
    } ++ Seq(("edge", java.lang.Double.valueOf(0.005)),
      ("edge", java.lang.Double.valueOf(-0.005)),
      ("edge", java.lang.Double.valueOf(2.675)),
      // just inside dsum4's documented |v²| < 10^14 domain
      ("edge", java.lang.Double.valueOf(9999999.99)))
    check(rows, "money")
  }

  test("limb dsum == decimal SUM: all-null group and empty relation") {
    val s = spark
    import s.implicits._
    val rows: Seq[(String, java.lang.Double)] =
      Seq(("n", null), ("n", null), ("m", java.lang.Double.valueOf(1.0)))
    check(rows, "nulls")
    val empty = Seq.empty[(String, Double)].toDF("g", "v")
    val r = empty.agg(Cols.dsum(col("v")).as("s")).collect()
    val w = empty.agg(ref(col("v"), 2).as("s")).collect()
    assert(r.head.get(0) == w.head.get(0)) // both NULL
  }

  test("the optimized plan sums long limbs, never a decimal") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 1.5), ("b", -2.25)).toDF("g", "v")
    def sums(agg: org.apache.spark.sql.DataFrame): Seq[Sum] =
      agg.queryExecution.optimizedPlan.collect { case a: Aggregate =>
        a.aggregateExpressions.flatMap(_.collect { case x: Sum => x }) }.flatten
    val got = sums(df.groupBy("g").agg(Cols.dsum(col("v")), Cols.dsum4(col("v") * col("v"))))
    assert(got.map(_.child.dataType) == Seq.fill(8)(LongType), got)
    // the reference keeps its decimal SUM, so the value checks compare
    // the limb form against an unrewritten decimal sum
    val want = sums(df.groupBy("g").agg(ref(col("v"), 2)))
    assert(want.map(_.child.dataType) == Seq(DecimalType(38, 2)), want)
  }
}
