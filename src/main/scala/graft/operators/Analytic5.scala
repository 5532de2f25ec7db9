package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols

/** Round-8 continuation relational surface: multi-distinct aggregation
  * and the bin-blocked non-equi interval-overlap join.
  */
object Analytic5 {

  /** q111 — several COUNT(DISTINCT ...) over DIFFERENT columns in one
    * aggregation, mixed with plain aggregates. Spark plans this with
    * ONE Expand pass (each input row replicated once per distinct
    * group, tagged with a grouping id) followed by two-phase
    * aggregation — the single-scan alternative to N self-joined
    * subqueries, and the plan shape CoreSpec pins. Scale note: Expand
    * multiplies pre-shuffle rows by (#distinct-groups + 1), but each
    * replica carries ONLY its group's column and partial dedup
    * runs map-side, so the exchange moves |distinct combos|, not
    * |rows| × groups (reference docs/6's partial-aggregation contract
    * applied to distincts).
    */
  private def q111(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        countDistinct(col("o_orderstatus")).as("n_statuses"),
        count(lit(1)).as("n_orders"),
        sum(when(col("o_totalprice") > 250000.0, 1L).otherwise(0L)).as("n_big"))
      .orderBy("o_orderpriority")

  private val q111Oracle: String =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS n_custs,
      |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN o_totalprice > 250000.0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_big
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** The synthetic fulfillment window every orders row carries:
    * [orderdate, orderdate + (orderkey mod 15 + 1) days] — a
    * deterministic, data-derived interval set for the overlap join. */
  private def windows(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("tp"),
        to_date(col("o_orderdate")).as("s"))
      .withColumn("e", expr("date_add(s, CAST(k % 15 + 1 AS INT))"))

  /** Bin width in days for the overlap join's blocking key. The one
    * invariant that makes banding COMPLETE: W ≥ the maximum interval
    * length, so two overlapping intervals always share the bin that
    * contains the overlap's start day (both intervals cover that day,
    * and each interval covers ≤ 2 consecutive bins). */
  private val binDays = 16

  /** q112 — non-equi INTERVAL-OVERLAP join, bin-blocked: for each
    * premium order's fulfillment window, how many OTHER orders'
    * windows overlap it (concurrent-fulfillment pressure). There is no
    * equi key — the naive plan is a quadratic
    * BroadcastNestedLoopJoin, and at 100 TB that plan is dead. The
    * scale form blocks both sides into fixed-width day bins
    * (W = 16 ≥ max interval length, each interval explodes into ≤ 2
    * bins), equi-joins on the bin, applies the overlap residual, and
    * counts a pair ONLY in the bin holding the overlap's start day
    * (`ownership` — both intervals provably cover that day, so no
    * pair is missed and none is double-counted; no post-join
    * DISTINCT shuffle). PlanLint holds this query to the no-BNLJ
    * bar like every other; the DuckDB oracle states the plain
    * quadratic inequality join — engine agreement proves the
    * banding is exactly the naive semantics.
    */
  private def q112(s: SparkSession, d: String): DataFrame = {
    val iv = windows(s, d)
      .withColumn("sd", expr("datediff(s, DATE'1970-01-01')"))
      .withColumn("ed", expr("datediff(e, DATE'1970-01-01')"))
    def binned(df: DataFrame, p: String) = df
      .withColumn("bin", explode(expr(s"sequence(sd div $binDays, ed div $binDays)")))
      .select(col("k").as(s"${p}_k"), col("s").as(s"${p}_s"), col("e").as(s"${p}_e"),
        col("sd").as(s"${p}_sd"), col("ed").as(s"${p}_ed"), col("bin"))
    val a = binned(iv.where(col("tp") > 495000.0), "a")
    val b = binned(iv, "b")
    a.join(b,
        a("bin") === b("bin") &&
          col("a_k") =!= col("b_k") &&
          col("a_sd") <= col("b_ed") && col("b_sd") <= col("a_ed") &&
          a("bin") === expr(s"greatest(a_sd, b_sd) div $binDays"))
      .groupBy(col("a_k").as("o_orderkey"), col("a_s").as("w_start"),
        col("a_e").as("w_end"))
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy("o_orderkey")
  }

  private val q112Oracle: String =
    """WITH iv AS (
      |  SELECT o_orderkey AS k, o_totalprice AS tp,
      |    CAST(o_orderdate AS DATE) AS s,
      |    CAST(o_orderdate AS DATE)
      |      + CAST(o_orderkey % 15 + 1 AS INTEGER) AS e
      |  FROM orders)
      |SELECT a.k AS o_orderkey, a.s AS w_start, a.e AS w_end,
      |  COUNT(*) AS n_overlap
      |FROM iv a JOIN iv b
      |  ON a.k <> b.k AND a.s <= b.e AND b.s <= a.e
      |WHERE a.tp > 495000.0
      |GROUP BY 1, 2, 3
      |ORDER BY o_orderkey""".stripMargin

  /** q113 — grouped top-k WITH TIES (SQL:2008 `FETCH FIRST k ROWS WITH
    * TIES`, which Spark's DataFrame API lacks): every order whose
    * RANK() ≤ 3 within its priority, ranked on the 10k-price bucket so
    * ties are real — a tie at rank 1 can legitimately return dozens of
    * rows, exactly what row_number-based q24 must NOT do. The bucket is
    * FLOOR of an exact division (never round() — .5 cases would split
    * between Spark's HALF_UP and an engine's HALF_EVEN). rank() is a
    * rank-like function, so Catalyst's InferWindowGroupLimit pushes
    * the ≤ 3 cut below the sort: each partition pre-filters to its
    * local tied-top before the per-priority window — the same partial
    * top-k shape as q24/t21, plan-asserted in CoreSpec. */
  private def q113(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("price_bucket").desc)
    Tables.df(s, d, "orders")
      .withColumn("price_bucket",
        floor(col("o_totalprice") / 10000.0).cast("long"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .where(col("rnk") <= 3)
      .select("o_orderpriority", "rnk", "price_bucket", "o_orderkey")
      .orderBy("o_orderpriority", "rnk", "o_orderkey")
  }

  private val q113Oracle: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_orderkey,
      |    CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) AS price_bucket,
      |    RANK() OVER (PARTITION BY o_orderpriority
      |      ORDER BY FLOOR(o_totalprice / 10000.0) DESC) AS rnk
      |  FROM orders)
      |SELECT o_orderpriority, rnk, price_bucket, o_orderkey
      |FROM r WHERE rnk <= 3
      |ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin

  /** q114 — OUTER lateral explode (LATERAL VIEW OUTER / LEFT JOIN
    * UNNEST): flattening a per-customer array of premium orders while
    * PRESERVING customers whose array is empty — the row-vanishing
    * trap of plain explode (q42) that silently drops every entity with
    * no children from a report. The empty-group row survives as
    * (custkey, NULL). Plan is one partial+final collect_list agg and a
    * Generate with outer=true — no join. NULLS FIRST is pinned on both
    * engines (Spark defaults nulls-first ASC, DuckDB nulls-last — an
    * ordering landmine, not a semantics one). */
  private def q114(s: SparkSession, d: String): DataFrame = {
    val arr = Tables.df(s, d, "orders")
      .groupBy("o_custkey")
      .agg(sort_array(collect_list(
        when(col("o_totalprice") > 400000.0, col("o_orderkey")))).as("pk"))
    arr.select(col("o_custkey"), explode_outer(col("pk")).as("premium_key"))
      .orderBy(col("o_custkey"), col("premium_key").asc_nulls_first)
  }

  private val q114Oracle: String =
    """WITH a AS (
      |  SELECT o_custkey,
      |    list_sort(list(o_orderkey) FILTER (WHERE o_totalprice > 400000.0)) AS pk
      |  FROM orders GROUP BY 1)
      |SELECT o_custkey,
      |  CAST(unnest(CASE WHEN pk IS NULL OR len(pk) = 0
      |    THEN [NULL] ELSE pk END) AS BIGINT) AS premium_key
      |FROM a
      |ORDER BY o_custkey, premium_key NULLS FIRST""".stripMargin

  /** q115 — one-pass CORRELATION MATRIX: all 6 pairwise correlations
    * of 4 lineitem measures per return flag from a SINGLE partial+final
    * aggregation of 14 decimal power sums (4 sums, 4 squares, 6 cross
    * products) — q50's order-independent moment discipline generalized
    * from one pair to the full k×k feature screen a training pipeline
    * runs before deciding which quality signals are redundant. At
    * 100 TB this is ONE map-side-combined scan regardless of k; the
    * naive corr()-per-pair formulation re-scans per pair and its
    * double folds aren't reproducible across engines. Zero-variance
    * pairs guard to NULL (never NaN — engines disagree on rounding
    * NaN). Long-format output, deterministically ordered. */
  private def q115(s: SparkSession, d: String): DataFrame = {
    // exact decimal totals (graft.functions.Cols) — bit-identical to
    // the SUM(CAST(… AS DECIMAL(18,2)/(38,4))) oracle forms on these
    // < 10^11 measures; the DecimalSumLimbs rule sums them as long
    // limbs instead of 14 per-row BigDecimal adds
    // (r18 opt: this was the single most expensive relational query,
    // 5.35 s at sf0.1, ~70% of it decimal-aggregation machinery)
    val vars = Seq(
      "disc" -> col("l_discount"), "price" -> col("l_extendedprice"),
      "qty" -> col("l_quantity"), "tax" -> col("l_tax"))
    val pairs = for {
      i <- vars.indices; j <- vars.indices if i < j
    } yield (vars(i), vars(j))
    val aggs =
      vars.map { case (nm, c) => Cols.dsum(c).as(s"s_$nm") } ++
        vars.map { case (nm, c) => Cols.dsum4(c * c).as(s"ss_$nm") } ++
        pairs.map { case ((na, ca), (nb, cb)) => Cols.dsum4(ca * cb).as(s"sp_${na}_$nb") }
    val n = col("n")
    def corrOf(a: String, b: String) = {
      val va = n * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")
      val vb = n * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")
      when(va > 0 && vb > 0,
        round((n * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
          (sqrt(va) * sqrt(vb)), 6))
    }
    // r18 (opt, wave 3): the 14 per-row rounding anchors ran inside a
    // ONE-task scan (single-row-group file) — spread the scan so the
    // partial aggregate parallelizes; exact sums are order-independent.
    Tables.spread(
        Tables.df(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_discount"),
            col("l_extendedprice"), col("l_quantity"), col("l_tax")),
        col("l_extendedprice"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), aggs: _*)
      .select(col("l_returnflag"), col("n"), explode(array(pairs.map {
        case ((na, _), (nb, _)) =>
          struct(lit(na).as("var_a"), lit(nb).as("var_b"),
            corrOf(na, nb).as("corr_r"))
      }: _*)).as("p"))
      .select(col("l_returnflag"), col("n"), col("p.var_a").as("var_a"),
        col("p.var_b").as("var_b"), col("p.corr_r").as("corr_r"))
      .orderBy("l_returnflag", "var_a", "var_b")
  }

  private val q115Oracle: String = {
    val vars = Seq("disc" -> "l_discount", "price" -> "l_extendedprice",
      "qty" -> "l_quantity", "tax" -> "l_tax")
    val pairs = for { i <- vars.indices; j <- vars.indices if i < j }
      yield (vars(i), vars(j))
    val sums =
      vars.map { case (nm, c) =>
        s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS s_$nm" } ++
        vars.map { case (nm, c) =>
          s"CAST(SUM(CAST($c * $c AS DECIMAL(38,4))) AS DOUBLE) AS ss_$nm" } ++
        pairs.map { case ((na, ca), (nb, cb)) =>
          s"CAST(SUM(CAST($ca * $cb AS DECIMAL(38,4))) AS DOUBLE) AS sp_${na}_$nb" }
    val arms = pairs.map { case ((na, _), (nb, _)) =>
      s"""SELECT l_returnflag, n, '$na' AS var_a, '$nb' AS var_b,
         |  CASE WHEN n * ss_$na - s_$na * s_$na > 0
         |        AND n * ss_$nb - s_$nb * s_$nb > 0 THEN
         |    round((n * sp_${na}_$nb - s_$na * s_$nb)
         |      / (sqrt(n * ss_$na - s_$na * s_$na)
         |         * sqrt(n * ss_$nb - s_$nb * s_$nb)), 6)
         |  END AS corr_r
         |FROM s""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH s AS (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |  ${sums.mkString(",\n  ")}
       |  FROM lineitem GROUP BY l_returnflag)
       |$arms
       |ORDER BY l_returnflag, var_a, var_b""".stripMargin
  }

  /** q116 — weighted p90 per group ("the price point below which 90%
    * of the QUANTITY ships"): q80's integer-cent crossing generalized
    * through `ExactPercentile.weightedPercentile(9, 10)` — the
    * rational-p form keeps exact-boundary weights out of libm; the
    * oracle restates the crossing as a window cumulative with the SAME
    * integer comparison (cumw·10 ≥ total·9). Same scale shape as q80:
    * each group spread across many partitions, only the crossing
    * partition scans. */
  private def q116(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val li = Tables.df(s, d, "lineitem").select(
      col("l_returnflag").as("flag"),
      col("l_extendedprice").as("v"),
      (col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("w"))
    ExactPercentile.weightedPercentile(li, 9L, 10L).toSeq
      .map { case (g, (v, totalCents)) => (g, v, totalCents / 100.0) }
      .toDF("flag", "wp90", "total_w")
      .orderBy("flag")
  }

  private val q116Oracle: String =
    """WITH x AS (
      |  SELECT l_returnflag AS flag, l_extendedprice AS v,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS w
      |  FROM lineitem),
      |c AS (
      |  SELECT flag, v,
      |    SUM(w) OVER (PARTITION BY flag ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumw,
      |    SUM(w) OVER (PARTITION BY flag) AS total
      |  FROM x)
      |SELECT flag, MIN(v) AS wp90, CAST(MAX(total) AS DOUBLE) AS total_w
      |FROM c WHERE cumw * 10 >= total * 9
      |GROUP BY flag ORDER BY flag""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q111_multi_distinct", Some(q111Oracle), q111),
    Q("q112_interval_join", Some(q112Oracle), q112),
    Q("q113_topk_ties", Some(q113Oracle), q113),
    Q("q114_explode_outer", Some(q114Oracle), q114),
    Q("q115_corr_matrix", Some(q115Oracle), q115),
    Q("q116_weighted_p90", Some(q116Oracle), q116))
}
