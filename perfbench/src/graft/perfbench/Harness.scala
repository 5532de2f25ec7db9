package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}

/** One span of the trace: a named interval, the span that caused it, and
  * its counters. All spans of a run share the run id. */
final case class Span(run: String, id: Int, parent: Option[Int], name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any])

/** Closed-loop benchmark client: one query at a time, each starting when
  * the previous one has finished, against `local[N]` with N = cores.
  *
  * Each query is called through graft's public query surface
  * (`SparkEntry.queries(name)(spark, sf)`) and its DataFrame is then
  * materialized through the `noop` sink; both steps are timed from here.
  * Set-up builds the session, warms the JVM on a generic aggregation,
  * builds the workload's indexes (through their public accessors), runs
  * every query once writing its output for the oracle check, and runs one
  * untimed warm pass. The measured loop then runs whole passes, at least
  * three, in an order the seed shuffles, until `--seconds` have passed.
  *
  * With `--trace 1` passes 1, 2, 5, 6, ... attach a `LayerCollector` and a
  * job group per query and the others run bare, so the record carries the
  * per-layer split and the tracing overhead (traced ÷ bare pass wall).
  *
  * Writes `record.json` (per-sample timings and counters), `spans.jsonl`
  * (traced runs) and `results/` (each query's output and
  * `oracle_sql.json`, the layout tools/compare.py reads) into `--out`.
  * `perfbench/run.py` reads them, checks the outputs and prints metrics.
  */
object Harness {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall-clock ms on the same epoch as Spark's event times, at ns resolution. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val sf = opt("sf")
    val out = new File(opt("out"))
    val runId = s"${workload.name}-s$seed-p${ProcessHandle.current().pid()}"

    val spans = mutable.ArrayBuffer.empty[Span]
    def span(name: String, parent: Option[Int], startMs: Double, endMs: Double,
        attrs: Map[String, Any] = Map.empty): Int = {
      spans += Span(runId, spans.size, parent, name, startMs, endMs, attrs)
      spans.size - 1
    }
    def timed[T](name: String, parent: Option[Int])(f: => T): (T, Int) = {
      val t0 = nowMs
      val r = f
      (r, span(name, parent, t0, nowMs))
    }
    def spanSeconds(id: Int): Double = (spans(id).endMs - spans(id).startMs) / 1000

    val (spark, sessionSpan) = timed("setup.session", None) {
      val s = GraftSession.local()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val fns = SparkEntry.queries
    val names = workload.queries
    names.filterNot(fns.contains).foreach(n => sys.error(s"unknown query $n"))

    // The first Spark work in a fresh JVM pays class loading, JIT and
    // codegen; a generic aggregation over the registered sources takes
    // that cost here rather than inside the first index build or query.
    val (_, coldSpan) = timed("setup.warmup.cold_jvm", None) {
      Tables.ensure(spark, sf)
      spark.table("lineitem").groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
    }

    // Index builds, each through its public accessor, timed one by one.
    val buildRoot = span("setup.index_build", None, nowMs, nowMs)
    workload.indexBuilds.foreach { case (n, f) => timed(s"setup.index_build.$n", Some(buildRoot))(f(spark, sf)) }
    spans(buildRoot) = spans(buildRoot).copy(endMs = nowMs)

    // First execution of every query: builds the fixtures the query
    // touches and keeps its output for the oracle check.
    val fixtureRoot = span("setup.fixture", None, nowMs, nowMs)
    val outputErrors = mutable.LinkedHashMap.empty[String, String]
    names.foreach { n =>
      timed(s"setup.fixture.$n", Some(fixtureRoot)) {
        try fns(n)(spark, sf).coalesce(1).write.mode("overwrite").parquet(new File(out, s"results/$n").getPath)
        catch { case e: Throwable => outputErrors(n) = e.toString }
      }
    }
    spans(fixtureRoot) = spans(fixtureRoot).copy(endMs = nowMs)
    // Read after the queries ran: export-pattern oracles name the paths
    // this run's queries wrote.
    val oracles = SparkEntry.oracleSql
    new File(out, "results").mkdirs()
    Files.writeString(Paths.get(out.getPath, "results", "oracle_sql.json"),
      json.writeValueAsString(names.flatMap(n => oracles.get(n).map(n -> _)).toMap))

    def order(pass: Int): Seq[String] = new Random(seed * 1000003L + pass).shuffle(names)

    // One untimed warm pass. A query's first noop execution after the
    // fixture pass ran 15-30 % slower than the ones after it, which were
    // level within host noise. A query that throws here throws again in
    // the measured passes, which count it.
    val (_, warmPass) = timed("setup.warmup.pass", None) {
      order(-1).foreach { n =>
        try fns(n)(spark, sf).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
      }
    }

    val collector = new LayerCollector
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

    /** Spans and counters of the jobs one traced piece of work ran. */
    def jobAttrs(group: String, parent: Int, t0: Double, t2: Double): Map[String, Any] = {
      ListenerBusDrain(sc)
      val jobs = collector.takeJobs(group, t0, t2)
      jobs.foreach { j =>
        span("spark.job", Some(parent), j.startMs, if (j.endMs < 0) t2 else j.endMs.toDouble, Map(
          "job" -> j.id, "stages" -> j.stages, "tasks" -> j.tasks, "tasks_failed" -> j.tasksFailed,
          "task_cpu_s" -> j.taskCpuNs / 1e9, "task_run_s" -> j.taskRunMs / 1e3,
          "shuffle_write_bytes" -> j.shuffleWriteBytes, "shuffle_read_bytes" -> j.shuffleReadBytes,
          "spill_bytes" -> j.spillBytes, "input_bytes" -> j.inputBytes,
          "output_bytes" -> j.outputBytes, "output_records" -> j.outputRecords))
      }
      // Union of the job intervals clipped to the window, and, walked
      // separately, the gaps between them: the two must add to the wall.
      val merged = jobs.map(j => (math.max(j.startMs.toDouble, t0), math.min(if (j.endMs < 0) t2 else j.endMs.toDouble, t2)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft(List.empty[(Double, Double)]) {
          case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
          case (acc, iv) => iv :: acc
        }.reverse
      val busyMs = merged.map { case (a, b) => b - a }.sum
      val gapMs = (t0 +: merged.flatMap { case (a, b) => Seq(a, b) } :+ t2)
        .grouped(2).map { case Seq(a, b) => b - a }.sum
      val (planMs, qes) = collector.takePlans()
      Map("jobs" -> jobs.size, "stages" -> jobs.map(_.stages).sum, "tasks" -> jobs.map(_.tasks).sum,
        "tasks_failed" -> jobs.map(_.tasksFailed).sum,
        "job_busy_s" -> busyMs / 1e3, "driver_gap_s" -> gapMs / 1e3,
        "task_cpu_s" -> jobs.map(_.taskCpuNs).sum / 1e9, "task_run_s" -> jobs.map(_.taskRunMs).sum / 1e3,
        "shuffle_write_bytes" -> jobs.map(_.shuffleWriteBytes).sum,
        "shuffle_read_bytes" -> jobs.map(_.shuffleReadBytes).sum,
        "spill_bytes" -> jobs.map(_.spillBytes).sum, "input_bytes" -> jobs.map(_.inputBytes).sum,
        "output_bytes" -> jobs.map(_.outputBytes).sum, "output_records" -> jobs.map(_.outputRecords).sum,
        "plan_s" -> planMs / 1e3, "qe_count" -> qes)
    }

    def measure(n: String, pass: Int, passSpan: Int, tracedPass: Boolean): Map[String, Any] = {
      val group = s"$runId/$pass/$n"
      val gc0 = gcMs
      if (tracedPass) {
        sc.setJobGroup(group, n, interruptOnCancel = false)
        heapPools.foreach(_.resetPeakUsage())
      }
      val fn = fns(n)
      val t0 = nowMs
      var t1 = Double.NaN
      val error =
        try {
          val df: DataFrame = fn(spark, sf)
          t1 = nowMs
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(e.toString) }
      val t2 = nowMs
      if (t1.isNaN) t1 = t2
      val base = Map("query" -> n, "pass" -> pass, "traced" -> tracedPass, "start_ms" -> t0,
        "construct_s" -> (t1 - t0) / 1e3, "execute_s" -> (t2 - t1) / 1e3, "wall_s" -> (t2 - t0) / 1e3,
        "error" -> error.orNull)
      val q = span("query", Some(passSpan), t0, t2, Map("query" -> n))
      span("operators.construct", Some(q), t0, t1)
      span("operators.execute", Some(q), t1, t2)
      if (!tracedPass) base
      else {
        sc.clearJobGroup()
        val layers = jobAttrs(group, q, t0, t2) ++ Map(
          "gc_s" -> (gcMs - gc0) / 1e3,
          "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
        spans(q) = spans(q).copy(attrs = spans(q).attrs ++ layers)
        base ++ layers
      }
    }

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val firstQueryMs = nowMs
    var pass = 0
    // At least three passes, so that one pass a host burst hits does not
    // move the median. A traced run goes bare, traced, traced, bare, ... so
    // that neither side of the overhead ratio sits earlier on what is left
    // of the warm-up slope.
    while (pass < (if (traced) 4 else 3) || nowMs - firstQueryMs < seconds * 1000) {
      val tracedPass = traced && (pass % 4 == 1 || pass % 4 == 2)
      val passSpan = span(s"pass$pass", None, nowMs, nowMs)
      var register = Map.empty[String, Any]
      if (tracedPass) {
        sc.addSparkListener(collector)
        spark.listenerManager.register(collector)
        ListenerBusDrain(sc)
        collector.reset()
        // One registration of every source table per pass, timed here and
        // kept out of the query samples.
        val group = s"$runId/$pass/register"
        sc.setJobGroup(group, "register", interruptOnCancel = false)
        val t0 = nowMs
        Tables.ensure(spark, sf)
        val t1 = nowMs
        sc.clearJobGroup()
        val reg = span("sources.register", Some(passSpan), t0, t1)
        register = Map("register_s" -> (t1 - t0) / 1e3, "register_jobs" -> jobAttrs(group, reg, t0, t1)("jobs"))
      }
      val queries = order(pass)
      val startMs = nowMs
      queries.foreach(n => samples += measure(n, pass, passSpan, tracedPass))
      val endMs = nowMs
      if (tracedPass) {
        spark.listenerManager.unregister(collector)
        sc.removeSparkListener(collector)
      }
      spans(passSpan) = spans(passSpan).copy(startMs = startMs, endMs = endMs)
      passes += Map("pass" -> pass, "traced" -> tracedPass, "wall_s" -> (endMs - startMs) / 1e3,
        "order" -> queries) ++ register
      pass += 1
    }

    val setup = Map(
      "session_s" -> spanSeconds(sessionSpan),
      "index_build_s" -> spanSeconds(buildRoot),
      "index_builds" -> spans.filter(_.name.startsWith("setup.index_build.")).map(s =>
        s.name.stripPrefix("setup.index_build.") -> (s.endMs - s.startMs) / 1e3).toMap,
      "fixture_s" -> spanSeconds(fixtureRoot),
      "warmup_s" -> (spanSeconds(coldSpan) + spanSeconds(warmPass)),
      "warmup_cold_jvm_s" -> spanSeconds(coldSpan),
      "warmup_pass_s" -> spanSeconds(warmPass))
    val record = Map("run_id" -> runId, "workload" -> workload.name, "seed" -> seed,
      "seconds" -> seconds, "traced" -> traced, "cores" -> cores, "sf" -> sf,
      "first_query_ms" -> firstQueryMs, "setup" -> setup, "output_errors" -> outputErrors.toMap,
      "passes" -> passes.toSeq, "samples" -> samples.toSeq)
    Files.writeString(Paths.get(out.getPath, "record.json"), json.writeValueAsString(record))
    if (traced) {
      val lines = spans.map(s => json.writeValueAsString(Map("run" -> s.run, "id" -> s.id,
        "parent" -> s.parent.map(p => p: Any).orNull, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs))
      Files.writeString(Paths.get(out.getPath, "spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}
