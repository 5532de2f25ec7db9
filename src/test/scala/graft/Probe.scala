package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The measurement CLI: `sbt "Test/runMain graft.Probe <cmd> q1,q2,… [options]"`.
  * One session (`GraftSession.local()`, sized by SPARK_GRAFT_CPUS) over
  * SPARK_GRAFT_SF_DIR (default sf0.1, as in [[Bench]]). Every timing is
  * one query materialized through the `noop` sink, as in Bench, after
  * the same warm-up queries; every summary is the median of the reps.
  *
  *  - `reps q,… [--reps N]`: the pid (for an external stack sampler),
  *    each query's rep times, then ONE JSON line — per-query reps and
  *    medians plus the [[BenchControls]] controls and ambient index —
  *    that `tools/merge_benchfocus.py` merges across runs.
  *  - `ab q,… --conf key=v1,v2 [--reps N]`: interleaved same-session
  *    A/B of any conf. Each rep runs every arm once, in turn, so host
  *    load hits all arms alike; the conf is set before the frame is
  *    built, so build-time gates see it too.
  *  - `plan q,… [--out dir [--suffix s]]`: the formatted pre-execution
  *    (AQE initial) plan — the shape the optimizer chose — to stdout,
  *    or to `<dir>/<q><suffix>.txt` per query.
  *  - `jobs q,…`: per-job wall, stage count and description of one
  *    warm run, then the run's job count.
  */
object Probe {
  val Warm: Seq[String] = Seq("q05_agg", "q15_window", "q10_join_shuffle")

  private val Usage =
    "usage: Probe reps|ab|plan|jobs q1,q2,… [--reps N] [--conf key=v1,v2] " +
      "[--out dir] [--suffix s]"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try run(spark, sfDir, args.toSeq, println(_))
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, args: Seq[String],
      out: String => Unit): Unit = {
    require(args.size >= 2 && args.size % 2 == 0, Usage)
    val (cmd, names) = (args(0), args(1).split(',').toSeq)
    val opts = args.drop(2).grouped(2).map { case Seq(k, v) =>
      require(Set("--reps", "--conf", "--out", "--suffix")(k), s"$k? $Usage")
      k.drop(2) -> v
    }.toMap
    val reps = opts.get("reps").fold(3)(_.toInt)

    def once(q: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def med(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)
    def num(d: Double): String = BenchControls.num(d, 3)
    def fmt(ts: Seq[Double]): String = ts.map(num).mkString(" ")

    cmd match {
      case "reps" =>
        out(s"pid=${ProcessHandle.current().pid()}")
        Warm.foreach(once)
        val results = names.map { q =>
          val ts = Seq.fill(reps)(once(q))
          out(s"REPS $q: ${fmt(ts)}")
          q -> ts
        }
        val medians = results.map { case (q, ts) => q -> med(ts) }.toMap
        val (refLabel, refs, _) = BenchControls.refsFor(sfDir)
        val ctl = refs.map { case (q, _) =>
          q -> medians.getOrElse(q, med(Seq.fill(reps)(once(q)))) }.toMap
        val ambient = BenchControls.ambientIndex(ctl.get, refs)
        val qJson = results.map { case (q, ts) =>
          s""""$q":[${ts.map(num).mkString(",")}]""" }.mkString(",")
        val mJson = results.map { case (q, ts) => s""""$q":${num(med(ts))}""" }
          .mkString(",")
        val cJson = refs.map { case (q, ref) =>
          s""""$q":{"median":${num(ctl(q))},"ref":$ref}""" }.mkString(",")
        out(s"""{"sf":"$sfDir","queries":{$qJson},"median":{$mJson},""" +
          s""""controls":{$cJson,"ambient_index":${ambient.fold("null")(num)},""" +
          s""""ambient_ref":"$refLabel"}}""")

      case "ab" =>
        val (key, arms) = opts.getOrElse("conf", "").split("=", 2) match {
          case Array(k, vs) if vs.contains(',') => (k, vs.split(',').toSeq)
          case _ => throw new IllegalArgumentException(s"ab needs --conf key=v1,v2. $Usage")
        }
        val prior = spark.conf.getOption(key)
        def arm(v: String, q: String): Double = { spark.conf.set(key, v); once(q) }
        try {
          Warm.foreach(once)
          names.foreach(q => arms.foreach(arm(_, q))) // per-arm codegen warm
          names.foreach { q =>
            val runs = Seq.fill(reps)(arms.map(arm(_, q)))
            arms.indices.foreach { i =>
              val ts = runs.map(_(i))
              out(s"AB $q $key=${arms(i)} median=${num(med(ts))} reps=[${fmt(ts)}]")
            }
          }
        } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))

      case "plan" =>
        val dir = opts.get("out").map(Paths.get(_))
        dir.foreach(Files.createDirectories(_))
        names.foreach { q =>
          val plan =
            try SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(FormattedMode)
            catch { case NonFatal(e) => s"<plan failed: ${e.getMessage}>" }
          dir match {
            case Some(d) =>
              val f = d.resolve(s"$q${opts.getOrElse("suffix", "")}.txt")
              Files.write(f, plan.getBytes("UTF-8"))
              out(s"wrote $f")
            case None => out(s"=== $q ===\n$plan")
          }
        }

      case "jobs" =>
        val started = new AtomicInteger(0)
        val lines = new ConcurrentLinkedQueue[String]()
        val listener = new SparkListener {
          private val starts = TrieMap.empty[Int, (Long, String, Int)]
          override def onJobStart(js: SparkListenerJobStart): Unit = {
            started.incrementAndGet()
            starts.put(js.jobId, (js.time,
              Option(js.properties.getProperty("spark.job.description")).getOrElse(""),
              js.stageInfos.size))
          }
          override def onJobEnd(je: SparkListenerJobEnd): Unit =
            starts.remove(je.jobId).foreach { case (t0, desc, nst) =>
              lines.add(f"JOB ${je.jobId}%4d ${(je.time - t0) / 1000.0}%6.2fs $nst%2d stages  ${desc.take(100)}")
            }
        }
        Warm.foreach(once)
        names.foreach(once)
        spark.sparkContext.addSparkListener(listener)
        try names.foreach { q =>
          Thread.sleep(300) // the listener bus is asynchronous: let it drain
          lines.clear(); started.set(0)
          val t = once(q)
          Thread.sleep(300)
          out(s"===== $q: ${num(t)} s =====")
          lines.forEach(l => out(l))
          out(s"JOBS $q: ${started.get()} jobs")
        } finally spark.sparkContext.removeSparkListener(listener)

      case _ => throw new IllegalArgumentException(Usage)
    }
  }
}
