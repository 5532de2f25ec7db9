package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.Cols._

/** Second analytic wave: statistical moments, multiset set-ops,
  * null-semantics, array/date scalar suites, deterministic mode,
  * conditional and bitwise aggregates.
  *
  * Same contract as Relational: pure `(SparkSession, sfDir) => DataFrame`
  * programs, DataFrame API only, deterministically ordered output with a
  * total tie-break key, every aggregate routed through the SURVEY §5
  * float discipline so the DuckDB oracle hashes bit-identically.
  */
object Analytic {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.df(s, d, n)

  /** q50 — correlation / covariance / stddev per group, computed FROM
    * DECIMAL POWER SUMS (n, Σx, Σy, Σx², Σy², Σxy) rather than the
    * engines' native corr/stddev aggregates: the native ones fold
    * doubles in partition order and are not reproducible across
    * engines or partitionings; power sums in DECIMAL(38,4) are
    * order-independent, and the closed-form combination below is the
    * same IEEE expression tree in Spark and DuckDB. One partial+final
    * aggregation pass — the moments are all algebraic, so at 100 TB
    * this is a single map-side-combined scan, no second pass. */
  private def q50(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    // exact decimal totals (Cols.dsum4) — bit-identical to
    // SUM(CAST(… AS DECIMAL(38,4))) for these < 10^11 products; the
    // DecimalSumLimbs rule sums them as long limbs (r18 opt: 1.85 s →
    // 0.37 s for this exact 5-sum shape at sf0.1)
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        dsum(x).as("sx"),
        dsum(y).as("sy"),
        dsum4(x * x).as("sxx"),
        dsum4(y * y).as("syy"),
        dsum4(x * y).as("sxy"))
      .select(
        col("l_returnflag"),
        col("n"),
        round(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("corr_qty_price"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 4)
          .as("covar_qty_price"),
        round(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - 1))), 6).as("sd_qty"))
      .orderBy("l_returnflag")
  }

  private val q50Oracle: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price,
      |  round((sxy - sx * sy / n) / (n - 1), 4) AS covar_qty_price,
      |  round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6) AS sd_qty
      |FROM s ORDER BY l_returnflag""".stripMargin

  /** q51 — multiset set operations: INTERSECT ALL / EXCEPT ALL keep
    * duplicate cardinality (a customer with two open urgent orders
    * appears twice), unlike q26's set-semantics INTERSECT/EXCEPT.
    * Spark plans both as an aggregate on (row, count) — one shuffle
    * each side, no join blow-up. */
  private def q51(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
    val a = o.where(col("o_orderstatus") === "O").select("o_custkey")
    val b = o.where(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    a.intersectAll(b).withColumn("op", lit("intersect"))
      .unionByName(a.exceptAll(b).withColumn("op", lit("except")))
      .select("op", "o_custkey")
      .orderBy("op", "o_custkey")
  }

  private val q51Oracle: String =
    """SELECT 'intersect' AS op, o_custkey FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  INTERSECT ALL
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |UNION ALL
      |SELECT 'except' AS op, o_custkey FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  EXCEPT ALL
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |ORDER BY op, o_custkey""".stripMargin

  /** q52 — null-safe equality join (Spark `<=>` ≡ SQL IS NOT DISTINCT
    * FROM): keys are made nullable with NULLIF, and the NULL keys MATCH
    * each other — a plain `=` join would silently drop that group. The
    * null-safe condition still hashes (null is just another key value),
    * so the join stays a hash join, not a cross product. */
  private def q52(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer").select(expr("nullif(c_nationkey, 3)").as("ck"))
    val n = t(s, d, "nation")
      .select(expr("nullif(n_nationkey, 3)").as("nk"), col("n_name"))
    c.join(broadcast(n), col("ck") <=> col("nk"))
      .groupBy("ck", "n_name")
      .agg(count(lit(1)).as("n_cust"))
      .orderBy(col("ck").asc_nulls_first, col("n_name"))
  }

  private val q52Oracle: String =
    """SELECT c.ck, n.n_name, COUNT(*) AS n_cust
      |FROM (SELECT NULLIF(c_nationkey, 3) AS ck FROM customer) c
      |JOIN (SELECT NULLIF(n_nationkey, 3) AS nk, n_name FROM nation) n
      |  ON c.ck IS NOT DISTINCT FROM n.nk
      |GROUP BY c.ck, n.n_name
      |ORDER BY ck NULLS FIRST, n_name""".stripMargin

  /** q53 — array scalar suite over split tokens: size / distinct /
    * sort / element_at / contains, all codegen'd builtins in one
    * narrow projection (no explode, no shuffle at all). */
  private def q53(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .select(col("p_partkey"), split(col("p_name"), " ").as("words"))
      .select(
        col("p_partkey"),
        size(col("words")).cast("long").as("n_words"),
        size(array_distinct(col("words"))).cast("long").as("n_uniq"),
        element_at(array_sort(array_distinct(col("words"))), 1).as("first_word"),
        array_contains(col("words"), "green").as("has_green"))
      .orderBy("p_partkey")

  private val q53Oracle: String =
    """WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
      |SELECT p_partkey,
      |  CAST(len(words) AS BIGINT) AS n_words,
      |  CAST(len(list_distinct(words)) AS BIGINT) AS n_uniq,
      |  list_sort(list_distinct(words))[1] AS first_word,
      |  list_contains(words, 'green') AS has_green
      |FROM w ORDER BY p_partkey""".stripMargin

  /** q54 — date/interval arithmetic in the DATE domain: +days,
    * +months (end-of-month clamped identically in both engines),
    * last_day, and signed day distance to a reference date. Pure
    * projection — stays inside whole-stage codegen. */
  private def q54(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      .select(
        col("o_orderkey"),
        col("od"),
        date_add(col("od"), 30).as("plus30d"),
        add_months(col("od"), 3).as("plus3m"),
        last_day(col("od")).as("month_end"),
        datediff(lit("1998-12-01").cast("date"), col("od")).cast("long")
          .as("days_to_ref"))
      .orderBy("o_orderkey")

  private val q54Oracle: String =
    """WITH d AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders)
      |SELECT o_orderkey, od,
      |  od + 30 AS plus30d,
      |  CAST(od + INTERVAL 3 MONTH AS DATE) AS plus3m,
      |  last_day(od) AS month_end,
      |  date_diff('day', od, DATE '1998-12-01') AS days_to_ref
      |FROM d ORDER BY o_orderkey""".stripMargin

  /** q55 — deterministic mode per group: the engines' native mode()
    * breaks frequency ties arbitrarily, so the modal value is picked by
    * argmax over (count, value) — max(struct(n, v)) partial-aggregates
    * before the shuffle, whereas a window-rank formulation would sort
    * every (group, value) pair. */
  private def q55(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .groupBy("o_orderpriority")
      .agg(max(struct(col("n"), col("o_orderstatus"))).as("m"))
      .select(
        col("o_orderpriority"),
        col("m.o_orderstatus").as("mode_status"),
        col("m.n").as("n_mode"))
      .orderBy("o_orderpriority")

  private val q55Oracle: String =
    """WITH c AS (
      |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
      |  FROM orders GROUP BY o_orderpriority, o_orderstatus),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |    ORDER BY n DESC, o_orderstatus DESC) AS rn FROM c)
      |SELECT o_orderpriority, o_orderstatus AS mode_status, n AS n_mode
      |FROM r WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin

  /** q56 — conditional/boolean aggregates: count_if + bool_and/bool_or
    * replace the CASE-WHEN-SUM idiom (q20) with direct aggregates;
    * all algebraic, partial+final, one pass. */
  private def q56(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_linestatus")
      .agg(
        count_if(col("l_quantity") > 25).as("n_big"),
        bool_and(col("l_discount") <= 0.1).as("all_low_disc"),
        bool_or(col("l_tax") > 0.07).as("any_high_tax"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_linestatus")

  // DuckDB's count_if returns HUGEINT (int128) — a typed-hash mismatch vs
  // Spark's BIGINT even when values agree — so the oracle uses the
  // standard-SQL FILTER form, which returns BIGINT.
  private val q56Oracle: String =
    """SELECT l_linestatus,
      |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
      |  bool_and(l_discount <= 0.1) AS all_low_disc,
      |  bool_or(l_tax > 0.07) AS any_high_tax,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** q69 — native session windows (session_window): gap-merged
    * variable-length windows assigned by the ENGINE — the declarative
    * counterpart to q23's hand-rolled lag+running-sum islands (same
    * 30-minute gap, so the two agree). New session iff the gap since
    * the previous event is ≥ the gap length; window end = last event +
    * gap. Outputs are second-truncated and the value sum runs in
    * DECIMAL per the §5 float discipline. One shuffle by user, merge
    * inside the aggregation — no window-function pass at all. */
  private def q69(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 4))).cast("double"), 4).as("sum_val"))
      .select(
        col("user_id"),
        date_trunc("second", col("sw.start")).as("sess_start"),
        date_trunc("second", col("sw.end")).as("sess_end"),
        col("n_events"), col("sum_val"))
      .orderBy("user_id", "sess_start")

  private val q69Oracle: String =
    """WITH e AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |i AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      |  FROM e)
      |SELECT user_id,
      |  date_trunc('second', MIN(ts)) AS sess_start,
      |  date_trunc('second', MAX(ts) + INTERVAL 30 MINUTE) AS sess_end,
      |  COUNT(*) AS n_events,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_val
      |FROM i GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin

  /** q57 — bitwise aggregates (bit_and/bit_or/bit_xor): commutative
    * and associative, so exactly reproducible under any partitioning —
    * the set-membership folds behind bitmap/bloom-style engine
    * internals. */
  private def q57(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        bit_and(col("l_linenumber")).cast("long").as("band"),
        bit_or(col("l_linenumber")).cast("long").as("bor"),
        bit_xor(col("l_linenumber")).cast("long").as("bxor"))
      .orderBy("l_returnflag")

  private val q57Oracle: String =
    """SELECT l_returnflag,
      |  CAST(bit_and(l_linenumber) AS BIGINT) AS band,
      |  CAST(bit_or(l_linenumber) AS BIGINT) AS bor,
      |  CAST(bit_xor(l_linenumber) AS BIGINT) AS bxor
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q100 — per-group least-squares regression (the SQL REGR_* family:
    * slope, intercept, R²) of extendedprice on quantity, from the SAME
    * decimal power sums as q50 — the engines' native regr_slope /
    * regr_r2 fold doubles in partition order and are not reproducible
    * across engines or partitionings; the closed forms below are one
    * IEEE expression tree over order-independent decimal sums. Still
    * one partial+final scan (all moments are algebraic). Zero-variance
    * x (degenerate fit) is guarded to NULL both sides. */
  private def q100(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    // exact decimal totals — see q50/Cols.dsum4 (r18 opt)
    val sxx = col("n") * col("sxx") - col("sx") * col("sx")
    val syy = col("n") * col("syy") - col("sy") * col("sy")
    val sxy = col("n") * col("sxy") - col("sx") * col("sy")
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        dsum(x).cast("double").as("sx"),
        dsum(y).cast("double").as("sy"),
        dsum4(x * x).as("sxx"),
        dsum4(y * y).as("syy"),
        dsum4(x * y).as("sxy"))
      .select(
        col("l_returnflag"), col("n"),
        round(when(sxx > 0, sxy / sxx), 6).as("slope"),
        round(when(sxx > 0,
          (col("sy") - (sxy / sxx) * col("sx")) / col("n")), 6).as("intercept"),
        round(when(sxx > 0 && syy > 0, (sxy * sxy) / (sxx * syy)), 6).as("r2"))
      .orderBy("l_returnflag")
  }

  private val q100Oracle: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round(CASE WHEN n * sxx - sx * sx > 0
      |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
      |  round(CASE WHEN n * sxx - sx * sx > 0
      |    THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
      |  END, 6) AS intercept,
      |  round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      |    THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
      |         / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
      |FROM s ORDER BY l_returnflag""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q50_stats_moments", Some(q50Oracle), q50),
    Q("q100_regression", Some(q100Oracle), q100),
    Q("q51_setops_all", Some(q51Oracle), q51),
    Q("q52_null_safe_join", Some(q52Oracle), q52),
    Q("q53_array_ops", Some(q53Oracle), q53),
    Q("q54_date_arith", Some(q54Oracle), q54),
    Q("q55_mode_argmax", Some(q55Oracle), q55),
    Q("q56_conditional_agg", Some(q56Oracle), q56),
    Q("q57_bitwise_agg", Some(q57Oracle), q57),
    Q("q69_session_window", Some(q69Oracle), q69))
}
