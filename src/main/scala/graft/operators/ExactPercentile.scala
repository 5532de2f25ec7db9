package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.SortedSet

/** Distributed EXACT percentile / weighted-median primitive.
  *
  * Spark's exact `percentile` / `percentile_disc` aggregates buffer a
  * value→count map per group whose size grows with DISTINCT values —
  * on near-continuous money columns that is ~rows-sized per group and
  * an executor-OOM shape at 100 TB (round-6 scale audit). The classic
  * alternative (`Window.partitionBy(group).orderBy(v)`) funnels each
  * whole group through a single task. This helper is the scale-safe
  * third way, generalizing q87's range-sort machinery
  * (Analytic4.scala q87) into a reusable two-pass selection:
  *
  *  1. `repartitionByRange(P, group, v)` — each GROUP is spread across
  *     MANY partitions in global (group, v) order; no single task ever
  *     holds a whole group.
  *  2. Pass 1 counts rows per (partition, group) — P × |groups| rows of
  *     planning metadata collected to the driver (same contract as the
  *     ANN centroid collects: metadata, not data).
  *  3. The driver turns requested percentiles into 0-based global row
  *     indices per group, assigns each index to the one partition whose
  *     [offset, offset+count) range holds it, and broadcasts that map.
  *  4. Pass 2 sorts within partitions (no exchange) and emits ONLY the
  *     addressed rows via a streaming per-partition counter — O(|groups|
  *     × |ps|) rows leave the executors.
  *
  * Memory per task = one sort-spillable partition; driver state =
  * P × |groups| longs. Both survive a 100× scale-up by adding
  * partitions — PROVIDED the group column is low-cardinality (flags,
  * priorities, status codes: the per-group-heavy case). That is the
  * deliberate division of labor: when groups are FEW and HUGE the
  * buffering aggregate's per-group value map OOMs and this primitive
  * shines; when groups are MANY and SMALL the buffering aggregate's
  * per-group state is tiny and correct while this primitive's driver
  * metadata (P × |groups|) would become the bottleneck. Callers with
  * high-cardinality groups should use the plain `percentile` aggregate
  * — each regime has exactly one right tool.
  *
  * Interpolation reproduces Spark's `Percentile.getPercentile`
  * (`(higher-pos)*lo + (pos-lower)*hi`), which is round-4 compatible
  * with DuckDB's `quantile_cont` — the exact cross-engine contract the
  * previous buffering implementations were verified under.
  *
  * Reference anchor: docs/4_sort.md + docs/6_aggregates.md (single-node
  * sort-based aggregation); this is its distributed re-expression.
  */
object ExactPercentile {

  /** Per-group result: row count and one value per requested p. */
  final case class GroupPct(n: Long, values: IndexedSeq[Double])

  /** Exact interpolating percentiles (SQL `percentile` / DuckDB
    * `quantile_cont` semantics) per group.
    *
    * @param df  exactly two columns: group (castable to string) first,
    *            numeric value second. NULL values are ignored (the SQL
    *            aggregate's semantics); NULL groups are kept (SQL GROUP
    *            BY semantics) under the sentinel handled internally.
    * @return    group → (n, values aligned with ps)
    */
  def continuous(df: DataFrame, ps: Seq[Double], partitions: Int = 0): Map[String, GroupPct] =
    select(df, ps, disc = false, partitions)

  /** Exact discrete percentiles (`percentile_disc` WITHIN GROUP /
    * DuckDB `quantile_disc`): smallest actual data value whose
    * cume_dist ≥ p. */
  def discrete(df: DataFrame, ps: Seq[Double], partitions: Int = 0): Map[String, GroupPct] =
    select(df, ps, disc = true, partitions)

  private def select(
      df: DataFrame,
      ps: Seq[Double],
      disc: Boolean,
      partitions: Int): Map[String, GroupPct] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0), s"bad percentiles $ps")
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val cols = df.columns
    val rp = df
      .select(col(cols(0)).cast("string").as("g"), col(cols(1)).cast("double").as("v"))
      .where(col("v").isNotNull)
      .repartitionByRange(p, col("g"), col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Pass 1 — planning metadata: rows per (partition, group).
      val counts: Array[(Int, String, Long)] = rp
        .groupBy(spark_partition_id().as("pid"), col("g"))
        .count()
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      val nPer: Map[String, Long] =
        counts.groupBy(_._2).map { case (g, xs) => g -> xs.map(_._3).sum }

      // 0-based global row indices each group needs.
      val needed: Map[String, SortedSet[Long]] = nPer.map { case (g, n) =>
        g -> ps.foldLeft(SortedSet.empty[Long]) { (acc, pct) =>
          if (disc) acc + math.max(math.ceil(pct * n).toLong - 1, 0L)
          else {
            val pos = pct * (n - 1)
            acc + math.floor(pos).toLong + math.ceil(pos).toLong
          }
        }
      }

      // Assign each needed index to its owning partition via running
      // per-group offsets (counts scanned in partition order).
      val offsets = scala.collection.mutable.Map.empty[String, Long]
      val byPid = scala.collection.mutable.Map
        .empty[Int, scala.collection.mutable.Map[String, (Long, Array[Long])]]
      counts.sortBy(_._1).foreach { case (pid, g, cnt) =>
        val start = offsets.getOrElse(g, 0L)
        val mine = needed(g).iteratorFrom(start).takeWhile(_ < start + cnt).toArray
        if (mine.nonEmpty)
          byPid.getOrElseUpdate(pid, scala.collection.mutable.Map.empty)
            .update(g, (start, mine))
        offsets.update(g, start + cnt)
      }
      val bc = spark.sparkContext.broadcast(byPid.map { case (k, m) => k -> m.toMap }.toMap)

      // Pass 2 — per-partition sort (no exchange: partitioning is
      // pinned by the persist) + streaming index lookup.
      val picked: Array[(String, Long, Double)] = rp
        .sortWithinPartitions(col("g"), col("v"))
        .rdd
        .mapPartitionsWithIndex { (pid, it) =>
          val want = bc.value.getOrElse(pid, Map.empty[String, (Long, Array[Long])])
          if (want.isEmpty) Iterator.empty
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
            var curG: String = null
            var local = 0L
            var start = 0L
            var idxs: Array[Long] = Array.emptyLongArray
            var ni = 0
            it.foreach { row =>
              val g = row.getString(0)
              if (g != curG) {
                curG = g; local = 0L; ni = 0
                val e = want.getOrElse(g, (0L, Array.emptyLongArray))
                start = e._1; idxs = e._2
              }
              if (ni < idxs.length && start + local == idxs(ni)) {
                out += ((g, start + local, row.getDouble(1)))
                ni += 1
              }
              local += 1
            }
            out.iterator
          }
        }
        .collect()

      val valueAt: Map[(String, Long), Double] =
        picked.map { case (g, i, v) => (g, i) -> v }.toMap
      nPer.map { case (g, n) =>
        val vals = ps.map { pct =>
          if (disc) valueAt((g, math.max(math.ceil(pct * n).toLong - 1, 0L)))
          else {
            val pos = pct * (n - 1)
            val lower = math.floor(pos).toLong
            val higher = math.ceil(pos).toLong
            if (lower == higher) valueAt((g, lower))
            else (higher - pos) * valueAt((g, lower)) + (pos - lower) * valueAt((g, higher))
          }
        }.toIndexedSeq
        g -> GroupPct(n, vals)
      }
    } finally rp.unpersist(blocking = false)
  }

  /** Which physical plan `percentilesAuto` picked — exposed so callers
    * (and the regime-flip spec) can observe the dispatch decision. */
  sealed trait Regime
  /** Few huge groups: the two-pass range-sort selection (this file). */
  case object RangeSort extends Regime
  /** Many small groups: Spark's buffering `percentile` aggregate —
    * per-group state is tiny there and the P × |groups| driver
    * metadata of the range-sort plan would be the bottleneck. */
  case object BufferingAgg extends Regime

  /** Pick the percentile plan from group stats: one cheap pre-pass
    * (`approx_count_distinct` on the group column — estimate quality is
    * plenty for a regime boundary that spans orders of magnitude). At
    * or below `maxGroups` the range-sort plan's driver metadata
    * (P × |groups| longs) is bounded and its no-per-group-buffer shape
    * wins; above it the buffering aggregate's per-group value maps are
    * small (many groups ⇒ small groups for a fixed corpus) and it
    * avoids driver metadata entirely. */
  def chooseRegime(df: DataFrame, maxGroups: Long = 4096): Regime = {
    val cols = df.columns
    val g = df.agg(approx_count_distinct(col(cols(0))).as("g")).head().getLong(0)
    if (g <= maxGroups) RangeSort else BufferingAgg
  }

  /** Exact interpolating percentiles per group as a DataFrame
    * `(g string, n long, pcts array<double> aligned with ps)` —
    * the SAFE entry point: dispatches between the range-sort selection
    * and the buffering aggregate via `chooseRegime`, so callers cannot
    * land in the wrong regime (VERDICT r7 item 1: "exact p99 per key"
    * must not require knowing which plan survives your group
    * cardinality). Both plans implement the identical SQL `percentile`
    * semantics (ExactPercentileSpec pins their agreement), so the
    * dispatch is invisible in results. */
  def percentilesAuto(
      df: DataFrame,
      ps: Seq[Double],
      partitions: Int = 0,
      maxGroups: Long = 4096): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0), s"bad percentiles $ps")
    val spark = df.sparkSession
    val cols = df.columns
    chooseRegime(df, maxGroups) match {
      case BufferingAgg =>
        df.select(col(cols(0)).cast("string").as("g"), col(cols(1)).cast("double").as("v"))
          .where(col("v").isNotNull)
          .groupBy("g")
          .agg(count(lit(1)).as("n"),
            expr(s"percentile(v, array(${ps.mkString(",")}))").as("pcts"))
      case RangeSort =>
        val m = continuous(df, ps, partitions)
        val rows = m.toSeq.map { case (g, r) =>
          org.apache.spark.sql.Row(g, r.n, r.values)
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("g",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("pcts",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType, containsNull = false)))))
    }
  }

  /** Distributed within-group rank: every input row, plus a 0-based
    * dense position in `orderCols` order within its group — WITHOUT a
    * `Window.partitionBy(group)` (one task per group: the skew killer
    * on low-cardinality keys) and WITHOUT a global single-task sort.
    * The distributed ROW_NUMBER: range-partition on (group, orderCols),
    * count rows per (partition, group) as broadcast planning metadata,
    * then stream each partition once adding start-offset + local index.
    *
    * The two passes run as separate jobs over ONE RDD instance — the
    * range boundaries are sampled exactly once when that RDD is
    * constructed and the shuffle output is reused across the jobs, so
    * the counts and the ranks see the identical row placement (the same
    * mechanism that makes RDD.zipWithIndex safe, and q87 relies on).
    * Same low-cardinality-group contract as the percentile entry
    * points: driver metadata is P × |groups| longs.
    *
    * ntile / percent_rank / cume_dist over a tie-free (unique
    * composite) ORDER BY key are pure arithmetic on this rank and the
    * group size — which is how q43 consumes it. */
  def withGroupRank(
      df: DataFrame,
      groupCol: String,
      orderCols: Seq[String],
      rankCol: String = "rnk",
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val sortCols = (groupCol +: orderCols).map(col)
    val sorted = df.repartitionByRange(p, sortCols: _*).sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema
    val gIdx = schema.fieldIndex(groupCol)
    val rdd = sorted.rdd // ONE instance: boundaries pinned, shuffle reused

    // Internal group key: NULL maps to "\\u0000" and every non-null
    // value is prefixed with "\\u0001", so a genuine string value
    // "null" cannot collide with the NULL group — keys never leave
    // this method, so the prefix is invisible to callers.
    def gKey(x: Any): String = if (x == null) "\u0000" else "\u0001" + String.valueOf(x)

    val counts: Array[(Int, String, Long)] = rdd.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { r =>
        val g = gKey(r.get(gIdx))
        m.update(g, m.getOrElse(g, 0L) + 1L)
      }
      m.iterator.map { case (g, c) => (pid, g, c) }
    }.collect()

    val offsets = scala.collection.mutable.Map.empty[String, Long]
    val starts = scala.collection.mutable.Map.empty[Int, Map[String, Long]]
    counts.sortBy(_._1).foreach { case (pid, g, cnt) =>
      val st = offsets.getOrElse(g, 0L)
      starts.update(pid, starts.getOrElse(pid, Map.empty) + (g -> st))
      offsets.update(g, st + cnt)
    }
    val bc = spark.sparkContext.broadcast(starts.toMap)

    val ranked = rdd.mapPartitionsWithIndex { (pid, it) =>
      val st = bc.value.getOrElse(pid, Map.empty[String, Long])
      var curG: String = null
      var local = 0L
      var start = 0L
      it.map { r =>
        val g = gKey(r.get(gIdx))
        if (g != curG) { curG = g; local = 0L; start = st.getOrElse(g, 0L) }
        val out = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (start + local))
        local += 1
        out
      }
    }
    spark.createDataFrame(ranked,
      org.apache.spark.sql.types.StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(rankCol,
          org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** Distributed exact WEIGHTED median per group: the smallest value v
    * at which cumulative weight (in (group, v) order) reaches half the
    * group total. Same two-pass range-sort shape as `continuous`, with
    * per-(partition, group) weight SUMS as the planning metadata:
    * exactly one partition per group straddles the half-total crossing,
    * and only that partition scans for it — one output row per group.
    *
    * @param df  three columns: group, numeric value, LONG weight
    *            (pre-scale decimals to integer units, e.g. cents, so
    *            the running sums are exact and order-independent).
    *            Rows with NULL value, NULL weight, or weight <= 0 are
    *            ignored; a group whose rows are ALL ignored is omitted
    *            from the result (it has no weighted median).
    * @return    group → (weighted median value, total weight in input units)
    */
  def weightedMedian(df: DataFrame, partitions: Int = 0): Map[String, (Double, Long)] =
    weightedPercentile(df, 1L, 2L, partitions)

  /** The general form of [[weightedMedian]]: the exact weighted
    * p-quantile at p = num/den — smallest v whose cumulative weight w
    * (in ascending-v order, Spark sort semantics: -Inf first, NaN
    * last) satisfies w·den ≥ total·num. The rational probability keeps
    * the crossing rule in INTEGER arithmetic (a double p would make
    * the crossing row dependent on libm rounding at exact-boundary
    * weights — the cross-engine trap this file exists to avoid).
    * Requires 1 ≤ num ≤ den (p = 1 returns the weighted max) and
    * total·den within Long range (den is single-digits-to-hundreds in
    * practice — p99 = 99/100).
    *
    * SCALE SHAPE (r18 — the scale curve caught the old one): histogram
    * REFINEMENT instead of a full-data range shuffle. The r17 design
    * range-partitioned and PERSISTED the whole projected input to walk
    * one global (g, v) order — a 100 TB input meant a 100 TB shuffle
    * plus a 100 TB cache for three output numbers per group, and the
    * sf0.1→sf1 exponent read 1.18. Now: one envelope agg (per-group
    * total / finite min / max / ±Inf / NaN weight — tiny,
    * map-side-combined, ZERO row shuffle), then per level one bucket
    * agg over 8192 value buckets inside each live group's candidate
    * range (again map-side-combined; the crossing bucket's own min/max
    * become the next range, so every level either resolves the group
    * or strictly narrows it), and a final windowed cumulative-weight
    * pass over ONLY the rows of each group's resolved crossing range
    * (≤ [[resolveRows]] rows by construction of the loop exit). Data
    * rows are never shuffled, cached, or collected; every full pass is
    * a partial aggregation. */
  def weightedPercentile(df: DataFrame, num: Long, den: Long,
      partitions: Int = 0): Map[String, (Double, Long)] = {
    require(num >= 1 && num <= den,
      s"quantile $num/$den outside (0, 1] — p=0 has no crossing row")
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns
    // r18 (opt, wave 3 — guide §2.5 input skew): when the file layout
    // gives the scan fewer tasks than cores (the driver testdata's
    // single-row-group files scan as ONE task), the projection casts
    // ran serially on one core and every refinement level re-ran them.
    // ONLY in that case: hash-spread the RAW columns first
    // (Tables.spread on the three columns — no round-robin pre-sort;
    // the cast work then runs above the exchange at full
    // parallelism) and keep the projected rows so each
    // refinement level reads the materialized projection. The gate is
    // the runtime scan layout: at production scale the scan has ≥
    // cores splits and this is the identity — the design pin ("data
    // rows are never shuffled or cached") still holds where it
    // matters. Exact Long weight sums and min/max are
    // order-independent, so results are unchanged.
    val pre = graft.Tables.spread(df, col(cols(0)), col(cols(1)), col(cols(2)))
    val narrowScan = pre ne df
    val base0 = pre
      .select(
        col(cols(0)).cast("string").as("g"),
        col(cols(1)).cast("double").as("v"),
        col(cols(2)).cast("long").as("w"))
      .where(col("v").isNotNull && col("w").isNotNull && col("w") > 0)
    val base = if (narrowScan)
      base0.persist(StorageLevel.MEMORY_AND_DISK)
    else base0
    try {
    val fin = col("v") > Double.NegativeInfinity &&
      col("v") < Double.PositiveInfinity && !isnan(col("v"))
    // Envelope: per group, total weight and the finite value range,
    // with -Inf / +Inf / NaN weight tracked separately (they pin the
    // ends of the sort order without poisoning bucket arithmetic).
    val env = base.groupBy("g").agg(
      sum("w").as("total"),
      sum(when(col("v") === Double.NegativeInfinity, col("w"))
        .otherwise(0L)).as("wneg"),
      sum(when(col("v") === Double.PositiveInfinity, col("w"))
        .otherwise(0L)).as("wpos"),
      sum(when(isnan(col("v")), col("w")).otherwise(0L)).as("wnan"),
      min(when(fin, col("v"))).as("lo"),
      max(when(fin, col("v"))).as("hi")).collect()
    val totals: Map[String, Long] =
      env.map(r => r.getString(0) -> r.getLong(1)).toMap
    val answers = scala.collection.mutable.Map.empty[String, Double]
    // (g, lo, hi, below, total): the crossing value lies in [lo, hi];
    // `below` is the exact weight strictly before lo in sort order.
    var live = List.empty[(String, Double, Double, Long, Long)]
    env.foreach { r =>
      val (g, total) = (r.getString(0), r.getLong(1))
      val (wneg, wpos, wnan) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val finW = total - wneg - wpos - wnan
      if (den * wneg >= num * total) answers(g) = Double.NegativeInfinity
      else if (den * (wneg + finW) < num * total) {
        // the crossing sits in the +Inf run, else in the trailing NaNs
        answers(g) =
          if (den * (wneg + finW + wpos) >= num * total)
            Double.PositiveInfinity
          else Double.NaN
      } else live ::= ((g, r.getDouble(5), r.getDouble(6), wneg, total))
    }
    val buckets = 8192
    var guard = 0
    while (live.nonEmpty && { guard += 1; guard } <= 64) {
      val (done, todo) = live.partition { case (_, lo, hi, _, _) => lo >= hi }
      done.foreach { case (g, lo, _, _, _) => answers(g) = lo }
      live = Nil
      if (todo.nonEmpty) {
        val stDf = todo.toDF("g", "glo", "ghi", "below", "gtotal")
        // one map-side-combined agg: weight/min/max per value bucket
        // inside each live group's candidate range
        val bkt = least(lit(buckets - 1), greatest(lit(0),
          floor((col("v") - col("glo")) / (col("ghi") - col("glo")) *
            buckets).cast("int")))
        val hist = base.where(fin)
          .join(broadcast(stDf), "g")
          .where(col("v") >= col("glo") && col("v") <= col("ghi"))
          .groupBy(col("g"), bkt.as("bkt"))
          .agg(sum("w").as("bw"), min("v").as("blo"), max("v").as("bhi"))
          .collect()
          .groupBy(_.getString(0))
        todo.foreach { case (g, _, _, below, total) =>
          var start = below
          var resolved = false
          var next: Option[(String, Double, Double, Long, Long)] = None
          hist.getOrElse(g, Array.empty).sortBy(_.getInt(1)).foreach { b =>
            if (!resolved && next.isEmpty) {
              val bw = b.getLong(2)
              if (den * (start + bw) >= num * total) {
                // the FIRST crossing bucket decides; everything after
                // it is past the quantile by construction
                val (blo, bhi) = (b.getDouble(3), b.getDouble(4))
                if (blo >= bhi) { answers(g) = blo; resolved = true }
                else next = Some((g, blo, bhi, start, total))
              } else start += bw
            }
          }
          next.foreach(live ::= _)
        }
        // Exit to the exact windowed resolve once every candidate
        // range is a sliver: the crossing bucket at 8192-way fan-out
        // divides the candidate weight by ~buckets per level, so two
        // levels bound the final pass at ~total/buckets² rows' weight.
        if (guard >= 2 && live.nonEmpty) {
          val fDf = live.toDF("g", "glo", "ghi", "below", "gtotal")
          val wspec = org.apache.spark.sql.expressions.Window
            .partitionBy(col("g")).orderBy(col("v"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)
          val picked = base.where(fin)
            .join(broadcast(fDf), "g")
            .where(col("v") >= col("glo") && col("v") <= col("ghi"))
            .withColumn("cum", sum(col("w")).over(wspec) + col("below"))
            .where(col("cum") * den >= col("gtotal") * num)
            .groupBy("g").agg(min("v").as("v"))
            .collect()
          picked.foreach(r => answers(r.getString(0)) = r.getDouble(1))
          live = Nil
        }
      }
    }
    require(live.isEmpty, "weightedPercentile refinement did not converge")
    totals.collect { case (g, t) if answers.contains(g) =>
      g -> (answers(g), t)
    }
    } finally if (narrowScan) base.unpersist(blocking = false)
  }
}
