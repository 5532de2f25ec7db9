package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Smoke run of every [[Probe]] subcommand in-process on one cheap
  * query, so the one maintained A/B and re-measure tool cannot rot
  * outside the gate. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def probe(args: String*): Seq[String] = {
    val lines = ArrayBuffer.empty[String]
    Probe.run(spark, TestSpark.sf, args, lines += _)
    lines.toSeq
  }

  test("reps ends with the merge_benchfocus JSON line") {
    val lines = probe("reps", "q05_agg", "--reps", "1")
    assert(lines.head.startsWith("pid="))
    assert(lines.exists(_.startsWith("REPS q05_agg: ")))
    val j = new ObjectMapper().readTree(lines.last)
    assert(j.get("sf").asText == TestSpark.sf)
    assert(j.get("queries").get("q05_agg").size == 1)
    assert(j.get("median").get("q05_agg").asDouble > 0)
    assert(j.get("controls").get("ambient_index").asDouble > 0)
  }

  test("ab prints both arms and restores the conf") {
    val key = "spark.sql.join.preferSortMergeJoin"
    val before = spark.conf.getOption(key)
    val lines = probe("ab", "q05_agg", "--conf", s"$key=true,false", "--reps", "1")
    assert(lines.count(_.startsWith(s"AB q05_agg $key=true median=")) == 1)
    assert(lines.count(_.startsWith(s"AB q05_agg $key=false median=")) == 1)
    assert(spark.conf.getOption(key) == before)
  }

  test("plan --out writes one file per query") {
    val dir = Files.createTempDirectory("probe-plan")
    probe("plan", "q05_agg,q15_window", "--out", dir.toString, "--suffix", "_x")
    val files = dir.toFile.list().toSet
    assert(files == Set("q05_agg_x.txt", "q15_window_x.txt"))
    val plan = new String(Files.readAllBytes(dir.resolve("q05_agg_x.txt")), "UTF-8")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("jobs lists the run's jobs and counts them") {
    val lines = probe("jobs", "q05_agg")
    val n = lines.collectFirst { case l if l.startsWith("JOBS q05_agg: ") =>
      l.stripPrefix("JOBS q05_agg: ").stripSuffix(" jobs").toInt }
    assert(n.exists(_ > 0), lines)
    assert(lines.count(_.startsWith("JOB ")) > 0, lines)
  }
}
