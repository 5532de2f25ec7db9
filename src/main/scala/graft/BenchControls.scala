package graft

/** AMBIENT-NOISE CONTROLS shared by [[Bench]] and `Probe reps`:
  * five pinned queries whose code and plan are intentionally frozen
  * across rounds, with their round-14 idle-host sf0.1 reference
  * medians. Their medians in any given run, against these references,
  * give that run's ambient index (geometric mean of ratios) —
  * byte-untouched queries bounced 1.4-2.1x between rounds on pure
  * machine noise, so a cross-round comparison is only meaningful as
  * ratio-over-ambient. Update the references when (and only when) a
  * control query's code legitimately changes.
  *
  * References are sf0.1 numbers: the ambient index is meaningful only
  * when the run's SF dir is sf0.1 (the driver bench); smoke runs at
  * other SFs still emit it but consumers must read the `ambient_ref`
  * label before trusting it.
  */
object BenchControls {
  /** r18 OPTIMIZATION round re-baseline: q100_regression's code
    * legitimately changed (limb-summed decimal moments) and the
    * session-wide DecimalSumLimbs rule touches any control carrying a
    * decimal sum — the r14/r18 references no longer describe the
    * current plans (a run would read ~0.7 ambient on an idle host
    * purely from the speedup). All three SF tables were re-measured on
    * the final r18 tree via double-pass `Probe reps` (each control run
    * twice, the SECOND pass's 3-rep median taken, so one-time codegen
    * never inflates a reference), host load ~1.5–1.9 of 32 cores.
    * Labels carry `r18opt` so cross-round readers know which
    * implementation generation a reference describes. */
  val refSf = "sf0.1@r18opt"
  val refs: Seq[(String, Double)] = Seq(
    "q07_agg_distinct" -> 0.45, "q16_date_bin" -> 0.56,
    "q100_regression" -> 1.30, "q58_listagg" -> 1.27,
    "t04_fingerprint" -> 0.35)

  /** PER-SF reference tables (r18, verdict #5): the ambient index is a
    * ratio against a same-host baseline AT THE SAME SF — the r17
    * smoke's 0.45 "ambient" at sf0.001 against sf0.1 refs was honest
    * but unusable. Each entry: sf dir basename → (ref label, refs).
    * sf0.001 assumes CPUS=8 (the smoke recipe's setting), sf0.1/sf1
    * CPUS=32. */
  private val refTables: Seq[(String, String, Seq[(String, Double)])] = Seq(
    ("sf0.1", refSf, refs),
    ("sf0.001", "sf0.001@r18opt", Seq(
      "q07_agg_distinct" -> 0.26, "q16_date_bin" -> 0.24,
      "q100_regression" -> 0.33, "q58_listagg" -> 0.75,
      "t04_fingerprint" -> 0.17)),
    ("sf1", "sf1@r18opt", Seq(
      "q07_agg_distinct" -> 0.90, "q16_date_bin" -> 0.86,
      "q100_regression" -> 8.18, "q58_listagg" -> 3.52,
      "t04_fingerprint" -> 2.11)))

  /** Refs for a bench run's SF dir: (label, refs, matched) — `matched`
    * false means no table exists for this SF and the sf0.1 refs serve
    * with a `(sf-mismatch)` label, so consumers can't mistake the
    * index for a same-SF ambient. */
  def refsFor(sfDir: String): (String, Seq[(String, Double)], Boolean) = {
    val base = sfDir.stripSuffix("/").split('/').last
    refTables.collectFirst { case (k, lbl, rs) if k == base => (lbl, rs, true) }
      .getOrElse((s"$refSf (sf-mismatch)", refs, false))
  }

  /** Geometric mean of median/ref over the controls present. */
  def ambientIndex(medianOf: String => Option[Double],
      against: Seq[(String, Double)] = refs): Option[Double] = {
    val ratios = against.flatMap { case (q, ref) =>
      medianOf(q).filter(_ > 0).map(m => math.log(m / ref)) }
    if (ratios.isEmpty) None
    else Some(math.exp(ratios.sum / ratios.size))
  }

  /** 1-minute system load average (-1.0 where unsupported) — the
    * cheap host-pressure probe that lets a bench record prove "that
    * outlier rode a loaded host" instead of leaving a phantom. */
  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Locale-proof fixed-point render: `f"%.3f"` interpolators follow
    * the JVM default locale, and a comma-decimal host would corrupt
    * the bench record's JSON numbers. */
  def num(d: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(d))
}
