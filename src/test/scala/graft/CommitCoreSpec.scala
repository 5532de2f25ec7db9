package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, SnapshotConflictException}

/** The commit core's two promises, listed rather than sampled: a writer
  * that loses its claim leaves no trace, whichever verb it ran; and
  * racing writers that retry through the shared attempt loop land in
  * one serial order. */
class CommitCoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val tmp = "/tmp/graft-commitcore"

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(2, col("k"))

  /** A two-batch table (k in [0, 200), four files) whose every manifest
    * is segmented: runs of more than one inline path seal into a side
    * segment, and more than one include coalesces — so every claim,
    * won or lost, writes segments. */
  private def table(tag: String): String = {
    val root = s"$tmp/${tag}_${System.nanoTime()}"
    GraftCatalog.setSnapshotManifestConf(spark, root,
      inlineMax = Some(1), maxIncludes = Some(1))
    GraftCatalog.commitSnapshot(rows(0, 100), root, append = false)
    GraftCatalog.commitSnapshot(rows(100, 200), root, append = true)
    root
  }

  private val residueKinds =
    Set("stats_sidecar", "manifest_segment", "delete_sidecar", "orphan_batch_dir")

  /** What a vacuum with zero grace would reap as unreferenced commit
    * residue, every version kept. */
  private def residue(root: String): Set[(String, String)] = {
    Thread.sleep(50) // age fresh files past the orphanGraceMs = 0 horizon
    GraftCatalog.vacuumSnapshotsDryRun(spark, root, keepFrom = 1L,
      orphanGraceMs = 0L).collect()
      .map(r => r.getString(0) -> r.getString(1))
      .filter { case (kind, _) => residueKinds(kind) }.toSet
  }

  private def appendRacer(root: String): Unit = {
    val sp = spark; import sp.implicits._
    GraftCatalog.commitSnapshot(Seq((15L, -15L)).toDF("k", "v"), root, append = true)
    ()
  }

  private def morDeleteRacer(root: String): Unit = {
    GraftCatalog.deleteSnapshotWhereMor(spark, root, col("k") === 15L)
    ()
  }

  /** One verb forced into a strict abort: `prepare` shapes the tables,
    * then `racer` lands on the last root immediately before the verb's
    * claim there, overlapping what the verb read. */
  private final case class Abort(verb: String, run: Seq[String] => Any,
      tables: Int = 1, prepare: Seq[String] => Unit = _ => (),
      racer: String => Unit = appendRacer)

  private val aborts = Seq(
    Abort("append", rs =>
      GraftCatalog.commitSnapshot(rows(1000, 1100), rs.head, append = true)),
    Abort("CoW MERGE", rs =>
      GraftCatalog.mergeSnapshot(spark, rs.head,
        spark.range(10, 21).select(col("id").as("k"), lit(-7L).as("v")), "k")),
    Abort("MoR DELETE", rs =>
      GraftCatalog.deleteSnapshotWhereMor(spark, rs.head, col("k") < 20L)),
    Abort("equality delete", rs =>
      GraftCatalog.deleteSnapshotKeysMor(spark, rs.head,
        spark.range(10, 21).select(col("id").as("k")), Seq("k"))),
    Abort("rewriteManifests", rs => GraftCatalog.rewriteManifests(spark, rs.head)),
    Abort("analyzeSnapshot", rs => GraftCatalog.analyzeSnapshot(spark, rs.head),
      // the footer-path rewrite leaves a sketchless file to analyze
      prepare = rs => {
        spark.conf.set("spark.graft.stats.verbScanMaxBytes", "0")
        try GraftCatalog.updateSnapshotWhere(spark, rs.head, col("k") === 5L,
          Seq("v" -> lit(-5L)))
        finally spark.conf.unset("spark.graft.stats.verbScanMaxBytes")
        ()
      }),
    Abort("Z-order compaction", rs =>
      GraftCatalog.compactSnapshotZOrdered(spark, rs.head, Seq("k"), nFiles = 2),
      // a delete over a consumed file defeats the re-validation
      racer = morDeleteRacer),
    Abort("single-table transaction", rs =>
      GraftCatalog.transactSnapshot(spark, rs.head) { br =>
        GraftCatalog.deleteSnapshotWhereMor(spark, br, col("k") === 3L)
        GraftCatalog.commitSnapshot(rows(2000, 2100), br, append = true)
        ()
      }),
    Abort("cross-table transaction", rs =>
      GraftCatalog.transactSnapshotMulti(spark, rs) { brs =>
        brs.zipWithIndex.foreach { case (br, i) =>
          GraftCatalog.deleteSnapshotWhereMor(spark, br, col("k") === i.toLong)
          GraftCatalog.commitSnapshot(rows(3000, 3100), br, append = true)
        }
      }, tables = 2))

  test("a strict abort of every verb leaves no sidecar, segment or batch behind") {
    val leaks = aborts.flatMap { a =>
      val roots = (0 until a.tables).map(i => table(s"abort$i"))
      a.prepare(roots)
      val before = roots.map(residue)
      val heads = roots.map(GraftCatalog.snapshotVersions(spark, _).last)
      GraftCatalog.publishFault.put(roots.last, new Runnable {
        def run(): Unit = a.racer(roots.last)
      })
      intercept[SnapshotConflictException](a.run(roots))
      assert(!GraftCatalog.publishFault.containsKey(roots.last),
        s"${a.verb}: the racer never fired")
      assert(roots.map(GraftCatalog.snapshotVersions(spark, _).last) ==
        heads.init :+ (heads.last + 1),
        s"${a.verb}: only the racer may have landed")
      assert(roots.forall(GraftCatalog.listSnapshotBranches(spark, _).isEmpty),
        s"${a.verb}: an aborted transaction leaves no branch")
      roots.zip(before).flatMap { case (rt, b) =>
        (residue(rt) -- b).map { case (kind, item) => s"${a.verb}: $kind $item" }
      }
    }
    assert(leaks.isEmpty, s"aborted verbs left residue:\n${leaks.mkString("\n")}")
  }

  test("racing transactions and an appender land serially: runs = lost claims + 1 each") {
    val sp = spark; import sp.implicits._
    val root = s"$tmp/txrace_${System.nanoTime()}"
    GraftCatalog.commitSnapshot(rows(0, 100), root, append = false)
    // both transactions fork at v1 before any writer may commit
    val barrier = new java.util.concurrent.CyclicBarrier(3)
    val runs = Array.fill(2)(new java.util.concurrent.atomic.AtomicInteger)
    // each transaction's runs are sequential on its own thread
    val bases = Array.fill(2)(scala.collection.mutable.ArrayBuffer.empty[Long])
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // one thread per writer: all three block on the barrier at once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val txs = (0 until 2).map { i =>
      Future {
        GraftCatalog.transactSnapshot(spark, root, maxRetries = 3) { br =>
          val name = new org.apache.hadoop.fs.Path(br).getName
          bases(i) += GraftCatalog.resolveSnapshotTag(spark, root, s"branch-$name-base")
          if (runs(i).incrementAndGet() == 1)
            barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
          // the serial witness: the row count this run's fork saw
          val seen = GraftCatalog.readSnapshot(spark, br).count()
          GraftCatalog.commitSnapshot(Seq((10000L + i, seen)).toDF("k", "v"), br,
            append = true)
          ()
        }
      }
    }
    val appended = Future {
      barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
      GraftCatalog.commitSnapshot(Seq((20000L, 0L)).toDF("k", "v"), root,
        append = true, maxRetries = 8)
    }
    val (landed, appendV) =
      try (Await.result(Future.sequence(txs), 300.seconds),
        Await.result(appended, 300.seconds))
      finally pool.shutdown()
    assert((landed :+ appendV).sorted == Seq(2L, 3L, 4L),
      s"three commits, three versions: tx $landed, append v$appendV")
    assert(GraftCatalog.snapshotVersions(spark, root) == (1L to 4L))
    var lostTotal = 0
    (0 until 2).foreach { i =>
      val v = landed(i)
      // a run lost iff another commit took the slot after its fork base;
      // the run that landed forked at the version just before its own
      val lost = bases(i).count(_ != v - 1)
      lostTotal += lost
      assert(runs(i).get == lost + 1,
        s"tx $i: ${runs(i).get} runs for $lost lost claims (bases ${bases(i)}, landed v$v)")
      val seen = GraftCatalog.readSnapshot(spark, root, Some(v))
        .where(col("k") === 10000L + i).select("v").as[Long].head()
      assert(seen == GraftCatalog.readSnapshot(spark, root, Some(v - 1)).count(),
        s"tx $i at v$v saw $seen rows, not its serial predecessor's")
    }
    assert(lostTotal >= 1, "two transactions forked at v1: one must have lost")
    assert(GraftCatalog.readSnapshot(spark, root).count() == 103)
    assert(GraftCatalog.listSnapshotBranches(spark, root).isEmpty,
      "no transaction fork may be left over")
  }
}
