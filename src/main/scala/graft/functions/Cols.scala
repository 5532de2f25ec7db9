package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Column helpers shared by the operator suite.
  *
  * Float discipline (SURVEY.md §5): sums over doubles are routed through
  * DECIMAL(18,s) so they are order-independent and bit-identical between
  * Spark and the DuckDB oracle, then surfaced as DOUBLE for a stable
  * output schema. All of these stay inside whole-stage codegen.
  */
object Cols {

  /** Order-independent sum of a double column: the oracle text
    * `CAST(SUM(CAST(c AS DECIMAL(18,s))) AS DOUBLE)` itself, so results
    * are bit-identical to it by construction. The per-row cast pins the
    * HALF_UP decimal rounding both engines agree on; the speed comes
    * from the [[graft.plans.DecimalSumLimbs]] optimizer rule, which
    * every [[graft.GraftSession]] installs: it sums the cast value's
    * unscaled long as four plain long limbs instead of BigDecimal adds.
    * The exact range is the rule's — the Sum result type
    * DECIMAL(28,s), a 10^(28-s) total. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** [[dsum]] at scale 4, for products of money columns. Bit-identical
    * to `CAST(SUM(CAST(expr AS DECIMAL(38,4))) AS DOUBLE)` whenever
    * |expr| < 10^14 (the (18,4) cast then rounds exactly like the (38,4)
    * one — same setScale(4, HALF_UP) on the same double); the largest
    * moment input in this suite is l_extendedprice² < 10^11. Totals are
    * exact below 10^24 — above the largest 100 TB moment sum (about
    * 10^21 for Σ l_extendedprice² at SF 100 000). */
  def dsum4(c: Column): Column = dsum(c, 4)

  /** Deterministic average = decimal-sum / count. */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(lit(1))

  /** Epoch-aligned time bucketing (the reference's `date_bin`, see
    * reference docs/7 + tests/opt_parallel_execution.rs:33). Integer
    * arithmetic on microseconds — no double rounding at bin boundaries.
    * Oracle: `make_timestamp(epoch_us(CAST(c AS TIMESTAMP)) // (s*1000000) * (s*1000000))`.
    */
  def timeBin(colName: String, secs: Long): Column =
    timestamp_seconds(expr(s"unix_micros($colName) div ${secs * 1000000L} * $secs"))
}
