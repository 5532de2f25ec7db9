package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Randomized-reference properties for the hand-built distributed
  * primitives. The DuckDB oracle gates everything SQL-expressible;
  * these tests gate the Scala-side algorithms (selection, peeling,
  * prefix sums, rasters) against independent brute-force references on
  * SEEDED ScalaCheck-generated adversarial inputs — deterministic
  * (fixed seeds, no flake) but far outside the hand-picked golden
  * corners. Each reference is written as naively as possible: the
  * point is that two dissimilar computations agree.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  // ----- d20 kCore vs brute-force peeling --------------------------------

  /** Textbook coreness: repeatedly peel min-degree nodes. */
  private def peelCores(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    nodes.foreach(n => adj(n) = scala.collection.mutable.Set.empty)
    edges.foreach { case (a, b) =>
      if (a != b) { adj(a) += b; adj(b) += a }
    }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (adj.nonEmpty) {
      var again = true
      while (again) {
        val peel = adj.collect { case (n, nb) if nb.size <= k => n }.toSeq
        if (peel.isEmpty) again = false
        else peel.foreach { n =>
          core(n) = k
          adj(n).foreach(m => adj.get(m).foreach(_ -= n))
          adj.remove(n)
        }
      }
      k += 1
    }
    core.toMap
  }

  test("property: kCore equals brute-force peeling on random graphs") {
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.chooseNum(8, 40)
      es <- Gen.listOfN(n * 2, Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
    } yield (n, es.filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct)
    for (seed <- 1L to 5L) {
      val (n, edges) = sample(edgeGen, seed)
      val nodes = (0L until n.toLong).toSeq
      val expected = peelCores(nodes, edges)
      val got = graft.operators.Dedup.kCore(
          nodes.toDF("id"),
          if (edges.isEmpty) Seq((0L, 0L)).toDF("a", "b").where($"a" =!= $"a")
          else edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed: kCore diverges from peeling on $edges")
    }
  }

  // ----- p22 budgetFill vs naive per-group prefix -----------------------

  test("property: budgetFill equals the naive per-group sorted prefix") {
    import spark.implicits._
    val rowGen = Gen.listOfN(300, for {
      g <- Gen.oneOf("a", "b", "c", "d")
      w <- Gen.chooseNum(1L, 50L)
      q <- Gen.chooseNum(0, 9).map(_ / 10.0) // coarse -> many rank ties
    } yield (g, w, q))
    for (seed <- 1L to 5L) {
      val rows = sample(rowGen, seed).zipWithIndex
        .map { case ((g, w, q), i) => (g, i.toLong, w, q) }
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, xs) =>
        val budget = xs.map(_._3).sum / 2
        var cum = 0L
        xs.sortBy(t => (-t._4, t._2)).iterator.takeWhile { t =>
          cum += t._3; cum <= budget
        }.map(t => (g, t._2)).toList
      }.toSet
      val got = graft.operators.Sampling.budgetFill(
          rows.toDF("source", "doc_id", "wt", "q"), 1L, 2L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == expected, s"seed $seed: fill diverges")
    }
  }

  // ----- p20 ppsSystematic vs naive crossing scan -----------------------

  test("property: ppsSystematic equals the naive cumulative-crossing scan") {
    import spark.implicits._
    val wGen = Gen.listOfN(200, Gen.chooseNum(0L, 100L))
    for (seed <- 1L to 5L) {
      val wts = sample(wGen, seed).zipWithIndex
        .map { case (w, i) => (i.toLong, w) }
      val pos = wts.filter(_._2 > 0)
      val total = pos.map(_._2).sum
      val n = 17
      val expected = (0 until n).map { i =>
        val p = (2L * i + 1L) * total / (2L * n)
        var cum = 0L
        val hit = pos.iterator.map { case (id, w) => cum += w; (id, w, cum) }
          .find(_._3 > p).get
        (i.toLong, hit._1, hit._2)
      }
      val got = graft.operators.Sampling.ppsSystematic(wts.toDF("doc_id", "wt"), n)
        .orderBy("sample_idx").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == expected, s"seed $seed: PPS selection diverges")
    }
  }

  // ----- m09 patchGrid vs naive double loop -----------------------------

  test("property: patchGrid tiles every pixel and matches a naive reference") {
    val cfg = for {
      w <- Gen.chooseNum(4, 30)
      h <- Gen.chooseNum(4, 30)
      g <- Gen.chooseNum(2, 6)
      px <- Gen.listOfN(w * h, Gen.chooseNum(0, 255))
    } yield (w, h, g, px.toArray)
    for (seed <- 1L to 8L) {
      val (w, h, g, gray) = sample(cfg, seed)
      val got = graft.operators.Multimodal.patchGrid(1L, w, h, gray, g)
      assert(got.map(_.n_px).sum == w.toLong * h, s"seed $seed: not a tiling")
      got.foreach { p =>
        val ys = (p.py * h / g) until ((p.py + 1) * h / g)
        val xs = (p.px * w / g) until ((p.px + 1) * w / g)
        val vals = for { y <- ys; x <- xs } yield gray(y * w + x)
        val mean = vals.sum.toDouble / vals.size
        val varp = vals.map(v => (v - mean) * (v - mean)).sum / vals.size
        assert(p.n_px == vals.size)
        assert(math.abs(p.mean - mean) <= 1e-6 + 1e-9,
          s"seed $seed patch $p mean != $mean")
        assert(math.abs(p.varp - varp) <= 1e-5,
          s"seed $seed patch $p varp != $varp")
      }
    }
  }

  // ----- d21 kTruss vs set-based peeling --------------------------------

  private def refTruss(edges0: Set[(Long, Long)]): Map[(Long, Long), Long] = {
    var e = edges0.map { case (a, b) => (a min b, a max b) }.filter(p => p._1 != p._2)
    val out = scala.collection.mutable.Map.empty[(Long, Long), Long]
    var k = 3L
    while (e.nonEmpty) {
      var changed = true
      while (changed) {
        val adj = (e.toSeq.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1)))
          .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
        val dead = e.filter { case (a, b) => (adj(a) & adj(b)).size < k - 2 }
        if (dead.isEmpty) changed = false
        else { dead.foreach(d => out(d) = k - 1); e --= dead }
      }
      k += 1
    }
    out.toMap
  }

  test("property: kTruss equals set-based support peeling on random graphs") {
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.chooseNum(6, 25)
      es <- Gen.listOfN(n * 3, Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
    } yield es.filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
    for (seed <- 1L to 5L) {
      val edges = sample(edgeGen, seed)
      if (edges.nonEmpty) {
        val expected = refTruss(edges.toSet)
        val got = graft.operators.Dedup.kTruss(edges.toDF("a", "b")).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(got == expected, s"seed $seed: trussness diverges on $edges")
      }
    }
  }

  // ----- ExactPercentile vs sorted-seq references -----------------------

  test("property: continuous/discrete percentiles match sorted-seq references") {
    import spark.implicits._
    val rowGen = Gen.listOfN(400, for {
      g <- Gen.oneOf("x", "y", "z")
      v <- Gen.oneOf(Gen.chooseNum(-50, 50).map(_.toDouble), // heavy ties
        Gen.chooseNum(-1e6, 1e6).map(_ / 1000.0))
    } yield (g, v))
    val ps = Seq(0.0, 0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
    def refCont(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted; val h = p * (s.size - 1)
      val lo = math.floor(h).toInt
      if (lo + 1 >= s.size) s.last else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
    def refDisc(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted
      s(math.max(math.ceil(p * s.size).toInt - 1, 0))
    }
    for (seed <- 1L to 4L) {
      val rows = sample(rowGen, seed)
      val df = rows.toDF("g", "v")
      val byG = rows.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2) }
      val cont = graft.operators.ExactPercentile.continuous(df, ps, partitions = 7)
      val disc = graft.operators.ExactPercentile.discrete(df, ps, partitions = 7)
      byG.foreach { case (g, vs) =>
        assert(cont(g).n == vs.size)
        ps.zipWithIndex.foreach { case (p, i) =>
          assert(math.abs(cont(g).values(i) - refCont(vs, p)) <= 1e-9,
            s"seed $seed $g cont p=$p: ${cont(g).values(i)} != ${refCont(vs, p)}")
          assert(disc(g).values(i) == refDisc(vs, p),
            s"seed $seed $g disc p=$p: ${disc(g).values(i)} != ${refDisc(vs, p)}")
        }
      }
    }
  }

  // ----- weightedPercentile vs sorted cumulative reference --------------

  test("property: weighted percentiles match the sorted cumulative-weight reference") {
    import spark.implicits._
    val rowGen = Gen.listOfN(250, for {
      g <- Gen.oneOf("x", "y")
      v <- Gen.chooseNum(-30, 30).map(_.toDouble) // ties galore
      w <- Gen.chooseNum(1L, 20L)
    } yield (g, v, w))
    val qs = Seq((1L, 100L), (1L, 4L), (1L, 2L), (3L, 4L), (99L, 100L), (1L, 1L))
    for (seed <- 1L to 4L) {
      val rows = sample(rowGen, seed)
      val df = rows.toDF("g", "v", "w")
      val byG = rows.groupBy(_._1)
      qs.foreach { case (num, den) =>
        val got = graft.operators.ExactPercentile.weightedPercentile(df, num, den, partitions = 5)
        byG.foreach { case (g, xs) =>
          val sorted = xs.map(t => (t._2, t._3)).sortBy(_._1)
          val total = sorted.map(_._2).sum
          var cum = 0L
          val want = sorted.iterator.map { case (v, w) => cum += w; (v, cum) }
            .find { case (_, c) => c * den >= num * total }.get._1
          assert(got(g) == ((want, total)),
            s"seed $seed $g p=$num/$den: ${got(g)} != ($want, $total)")
        }
      }
    }
  }

  // ----- d06 connectedComponents vs union-find --------------------------

  test("property: connectedComponents equals union-find min labels") {
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.chooseNum(10, 60)
      es <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
    } yield (n, es.filter(e => e._1 != e._2).distinct)
    for (seed <- 1L to 5L) {
      val (n, edges) = sample(edgeGen, seed)
      val nodes = (0L until n.toLong).toSeq
      val parent = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      val expected = nodes.map(x => x -> nodes.filter(y => find(y) == find(x)).min).toMap
      val got = graft.operators.Dedup.connectedComponents(
          nodes.toDF("id"),
          if (edges.isEmpty) Seq((0L, 0L)).toDF("a", "b").where($"a" =!= $"a")
          else edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed: CC labels diverge on $edges")
    }
  }

  // ----- d02 capped shingle-Jaccard vs set-based reference --------------

  test("property: sCore peeling equals the definitional max-survivable-threshold") {
    import spark.implicits._
    // Independent reference straight from the generalized-cores
    // DEFINITION (not a restatement of the peeling loop): core(s) =
    // the maximal subgraph where every node's weighted degree ≥ s
    // (fixpoint deletion); score(v) = max s with v ∈ core(s), swept
    // over every integer threshold up to the max strength.
    val graphGen = for {
      n <- Gen.chooseNum(6, 14)
      es <- Gen.listOfN(n * 2, Gen.zip(
        Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L), Gen.chooseNum(1L, 10L)))
    } yield (n, es.collect { case (a, b, w) if a != b =>
      (math.min(a, b), math.max(a, b), w) }.distinctBy(e => (e._1, e._2)))
    for (seed <- 1L to 5L) {
      val (n, edges) = sample(graphGen, seed)
      val nodes = (0L until n.toLong).toSet
      def coreAt(s: Long): Set[Long] = {
        var live = nodes
        var changed = true
        while (changed) {
          val str = live.map(v => v -> edges.collect {
            case (a, b, w) if (a == v && live(b)) || (b == v && live(a)) => w
          }.sum).toMap
          val dead = live.filter(v => str(v) < s)
          changed = dead.nonEmpty
          live --= dead
        }
        live
      }
      val maxStr = nodes.map(v => edges.collect {
        case (a, b, w) if a == v || b == v => w }.sum).maxOption.getOrElse(0L)
      val want = nodes.map(v =>
        v -> (0L to maxStr).filter(s => coreAt(s)(v)).max).toMap
      val got = graft.operators.Dedup.sCore(
        nodes.toSeq.toDF("id"), edges.toSeq.toDF("a", "b", "w"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed: got $got want $want")
    }
  }

  test("property: capped shingle-Jaccard equals a set reference, hot bucket dropped") {
    import spark.implicits._
    val filler = Gen.listOfN(6, Gen.oneOf(
      "kilo", "lima", "mike", "nov", "oscar", "papa", "quebec", "romeo",
      "sierra", "tango", "unif", "victor", "whiskey", "xray", "yankee"))
    for (seed <- 1L to 3L) {
      // 25 docs all opening with the same 3-token boilerplate phrase —
      // its bucket (25 > cap 20) must be DROPPED, so these docs pair
      // only through genuine filler overlap; plus 3 exact clone pairs
      // that must survive at jac 1.0
      val boiler = (0 until 25).map { i =>
        val f = sample(filler, seed * 100 + i).mkString(" ")
        (i.toLong, s"zz yy xx $f")
      }
      val clones = (0 until 3).flatMap { i =>
        val f = sample(filler, seed * 999 + i).mkString(" ")
        Seq((100L + 2 * i, s"alpha beta gamma $f"), (101L + 2 * i, s"alpha beta gamma $f"))
      }
      val docs = boiler ++ clones
      val n = docs.size.toLong
      // reference: identical semantics, sets instead of joins
      val sh = docs.map { case (id, t) =>
        id -> t.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet
      }.toMap
      val cap = math.max(20L, (n * 0.01).toLong)
      val hot = sh.values.flatten.groupBy(identity)
        .collect { case (s, xs) if xs.size > cap => s }.toSet
      val expected = (for {
        a <- sh.keys; b <- sh.keys if a < b
        inter = ((sh(a) & sh(b)) -- hot).size.toLong if inter > 0
        na = sh(a).size.toLong; nb = sh(b).size.toLong
        jac = inter.toDouble / (na + nb - inter) if jac >= 0.3
      } yield (a, b, inter, na, nb)).toSet
      val got = graft.operators.Dedup.jaccardPairs(
          docs.toDF("doc_id", "text"), nDocs = Some(n))
        .selectExpr("a_id", "b_id", "CAST(inter AS BIGINT)",
          "CAST(na AS BIGINT)", "CAST(nb AS BIGINT)").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(got == expected,
        s"seed $seed: missing=${expected -- got} extra=${got -- expected}")
      // the clone pairs survive; no boilerplate-only pair may appear
      assert((0 until 3).forall(i => got.exists(p => p._1 == 100L + 2 * i)),
        s"seed $seed: clone pairs lost")
    }
  }

  // ----- d10 editDistPairs vs brute-force Levenshtein -------------------

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("property: symmetric-delete blocking finds exactly the Levenshtein<=1 pairs") {
    import spark.implicits._
    val alpha = Gen.oneOf('a', 'b', 'c', 'd', 'e')
    val baseGen = Gen.listOfN(30,
      Gen.chooseNum(10, 20).flatMap(len => Gen.listOfN(len, alpha).map(_.mkString)))
    val editGen = Gen.chooseNum(0, 2) // 0 = delete, 1 = substitute, 2 = insert
    for (seed <- 1L to 4L) {
      val bases = sample(baseGen, seed)
      val docs = bases.zipWithIndex.flatMap { case (base, i) =>
        val (op, pos, ch) = sample(for {
          o <- editGen; p <- Gen.chooseNum(0, base.length - 1); c <- alpha
        } yield (o, p, c), seed * 1000 + i)
        val mutated = op match {
          case 0 => base.substring(0, pos) + base.substring(pos + 1)
          case 1 => base.updated(pos, ch).mkString
          case _ => base.substring(0, pos) + ch + base.substring(pos)
        }
        Seq((2L * i, base), (2L * i + 1, mutated))
      }
      val keys = docs.map { case (id, t) => id -> t.take(24) }
        .filter(_._2.length >= 8).toMap
      val expected = (for {
        a <- keys.keys; b <- keys.keys if a < b
        d = lev(keys(a), keys(b)) if d <= 1
      } yield (a, b, d.toLong)).toSet
      val got = graft.operators.Dedup.editDistPairs(docs.toDF("doc_id", "text"))
        .selectExpr("a_id", "b_id", "CAST(dist AS BIGINT)").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected,
        s"seed $seed: missing=${expected -- got} extra=${got -- expected}")
      assert(expected.nonEmpty, s"seed $seed: fixture planted no pairs")
    }
  }

  // ----- t22 dupNgramProfile vs naive sliding count ---------------------

  test("property: dup-ngram fractions match a naive sliding-window reference") {
    import spark.implicits._
    val docGen = Gen.listOfN(12, Gen.chooseNum(1, 60).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("aa", "bb", "cc", "dd", "ee")).map(_.mkString(" "))))
    def ref(text: String, n: Int): (Long, Option[Double]) = {
      val toks = text.split(" ").filter(_.nonEmpty).toSeq
      if (toks.size < n) (0L, None)
      else {
        val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
        val dup = grams.groupBy(identity).values.filter(_.size > 1).map(_.size).sum
        (grams.size.toLong,
          Some(math.round(dup.toDouble / grams.size * 1e6) / 1e6))
      }
    }
    for (seed <- 1L to 3L) {
      val docs = sample(docGen, seed).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.operators.TextAnalysis.dupNgramProfile(docs.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])),
            (r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
      docs.foreach { case (id, text) =>
        val (e2, e5) = (ref(text, 2), ref(text, 5))
        if (e2._1 == 0 && e5._1 == 0)
          assert(!got.contains(id), s"seed $seed doc $id: gramless doc must be absent")
        else {
          val (g2, g5) = got(id)
          def close(a: (Long, Option[Double]), b: (Long, Option[Double])) =
            a._1 == b._1 && (a._2.isEmpty == b._2.isEmpty) &&
              a._2.zip(b._2).forall { case (x, y) => math.abs(x - y) <= 1e-6 }
          assert(close(g2, e2) && close(g5, e5),
            s"seed $seed doc $id: got ($g2, $g5) want ($e2, $e5)")
        }
      }
    }
  }

  // ----- snapshot cross-verb concurrency: serializable histories ---------

  /** One racing operation: a Spark-side execution against the snapshot
    * table AND the same operation over an in-memory model — the
    * serializability check replays the model in the table's OWN commit
    * order and demands exact agreement. */
  private sealed trait RaceOp {
    def idx: Int
    def run(root: String): Long
    def model(st: scala.collection.mutable.Map[Long, Long]): Unit
  }

  /** Upsert: existing keys in [lo,hi] with k%10==r re-valued, plus a
    * block of brand-new keys — both effects state-independent so the
    * model is exact regardless of interleaving. */
  private final case class MergeOp(idx: Int, lo: Long, hi: Long,
      r: Long, insStart: Long) extends RaceOp {
    def run(root: String): Long = {
      val s = spark
      import org.apache.spark.sql.functions._
      val upd = s.range(lo, hi + 1).where(col("id") % 10 === r)
        .select(col("id").as("k"), (col("id") + 100000L).as("v"))
        .union(s.range(insStart, insStart + 30)
          .select(col("id").as("k"), (col("id") + 5L).as("v")))
      graft.sources.GraftCatalog.mergeSnapshot(s, root, upd, "k",
        meta = Seq(s"#op:$idx"))
    }
    def model(st: scala.collection.mutable.Map[Long, Long]): Unit = {
      (lo to hi).filter(_ % 10 == r).foreach(k => st(k) = k + 100000L)
      (insStart until insStart + 30).foreach(k => st(k) = k + 5L)
    }
  }

  private final case class DeleteOp(idx: Int, m: Long, r: Long,
      hi: Long) extends RaceOp {
    def run(root: String): Long = {
      import org.apache.spark.sql.functions._
      graft.sources.GraftCatalog.deleteSnapshotWhere(spark, root,
        col("k") % m === r && col("k") <= hi, meta = Seq(s"#op:$idx"))
    }
    def model(st: scala.collection.mutable.Map[Long, Long]): Unit =
      st.keys.filter(k => k % m == r && k <= hi).toSeq.foreach(st.remove)
  }

  /** MoR delete: same logical effect as DeleteOp, different physics —
    * a deletion-vector publish racing the CoW verbs exercises the
    * claim protocol from the sidecar path too. */
  private final case class MorDeleteOp(idx: Int, m: Long, r: Long,
      hi: Long) extends RaceOp {
    def run(root: String): Long = {
      import org.apache.spark.sql.functions._
      graft.sources.GraftCatalog.deleteSnapshotWhereMor(spark, root,
        col("k") % m === r && col("k") <= hi, meta = Seq(s"#op:$idx"))
    }
    def model(st: scala.collection.mutable.Map[Long, Long]): Unit =
      st.keys.filter(k => k % m == r && k <= hi).toSeq.foreach(st.remove)
  }

  /** MoR upsert: DV + appended batch racing everything else. */
  private final case class MorMergeOp(idx: Int, lo: Long, hi: Long,
      r: Long, insStart: Long) extends RaceOp {
    def run(root: String): Long = {
      val s = spark
      import org.apache.spark.sql.functions._
      val upd = s.range(lo, hi + 1).where(col("id") % 10 === r)
        .select(col("id").as("k"), (col("id") + 200000L).as("v"))
        .union(s.range(insStart, insStart + 30)
          .select(col("id").as("k"), (col("id") + 9L).as("v")))
      graft.sources.GraftCatalog.mergeSnapshotMor(s, root, upd, "k",
        meta = Seq(s"#op:$idx"))
    }
    def model(st: scala.collection.mutable.Map[Long, Long]): Unit = {
      (lo to hi).filter(_ % 10 == r).foreach(k => st(k) = k + 200000L)
      (insStart until insStart + 30).foreach(k => st(k) = k + 9L)
    }
  }

  /** Equality delete: a zero-read key-list purge racing everything
    * else — the sidecar publish must serialize under the same claim
    * protocol, and its covered set is exactly the serialized
    * predecessor's file list (so later inserts of purged keys
    * survive, which the version-order model replay checks for free). */
  private final case class EqDeleteOp(idx: Int, lo: Long, n: Int)
      extends RaceOp {
    def run(root: String): Long = {
      val s = spark
      import org.apache.spark.sql.functions._
      graft.sources.GraftCatalog.deleteSnapshotKeysMor(s, root,
        s.range(lo, lo + n).select(col("id").as("k")), Seq("k"),
        meta = Seq(s"#op:$idx"))
    }
    def model(st: scala.collection.mutable.Map[Long, Long]): Unit =
      (lo until lo + n).foreach(st.remove)
  }

  /** Multi-statement TRANSACTION carrying MoR content (r17): a
    * {MoR delete, append} body on a private fork racing every other
    * verb. Lands by fast-forward (no race), by the scope-proved MoR
    * graft (provably-disjoint racer), or aborts cleanly for phase-2
    * replan — in every case ONE version whose effect is the body
    * applied to the state just before it, which is exactly what the
    * version-order model replay demands. */
  private final case class TxMorOp(idx: Int, m: Long, r: Long,
      hi: Long, insStart: Long) extends RaceOp {
    def run(root: String): Long = {
      val s = spark
      import org.apache.spark.sql.functions._
      graft.sources.GraftCatalog.transactSnapshot(s, root,
        scope = Some(col("k") <= hi ||
          (col("k") >= insStart && col("k") < insStart + 40)),
        meta = Seq(s"#op:$idx")) { br =>
        graft.sources.GraftCatalog.deleteSnapshotWhereMor(s, br,
          col("k") % m === r && col("k") <= hi)
        graft.sources.GraftCatalog.commitSnapshot(
          s.range(insStart, insStart + 40)
            .select(col("id").as("k"), (col("id") + 7L).as("v")),
          br, append = true)
        ()
      }
    }
    def model(st: scala.collection.mutable.Map[Long, Long]): Unit = {
      st.keys.filter(k => k % m == r && k <= hi).toSeq.foreach(st.remove)
      (insStart until insStart + 40).foreach(k => st(k) = k + 7L)
    }
  }

  /** Compaction: a content-preserving rewrite racing the verbs — the
    * maintenance-vs-ingest race every live table runs. Its base is
    * PINNED (r14): publishing a stale version's rewrite over a
    * concurrent commit would erase that commit, so a lost race must
    * abort cleanly and the replay model treats a committed compaction
    * as a no-op. */
  private final case class CompactOp(idx: Int) extends RaceOp {
    def run(root: String): Long =
      graft.sources.GraftCatalog.compactSnapshot(spark, root)
    def model(st: scala.collection.mutable.Map[Long, Long]): Unit = ()
  }

  private final case class AppendOp(idx: Int, start: Long) extends RaceOp {
    def run(root: String): Long = {
      import org.apache.spark.sql.functions._
      graft.sources.GraftCatalog.commitSnapshot(
        spark.range(start, start + 100)
          .select(col("id").as("k"), (col("id") * 3L).as("v")),
        root, append = true, meta = Seq(s"#op:$idx"), maxRetries = 16)
    }
    def model(st: scala.collection.mutable.Map[Long, Long]): Unit =
      (start until start + 100).foreach(k => st(k) = k * 3L)
  }

  /** Randomized cross-verb interleaving: 2 MERGEs, 2 DELETEs and 2
    * appends race on one snapshot table (overlapping AND disjoint key
    * ranges), then every cleanly-aborted CoW verb replans sequentially
    * — the documented caller contract. The surviving history must be
    * SERIALIZABLE: replaying the committed operations in the table's
    * own version order through an in-memory model reproduces the head
    * row-for-row; losers abort with SnapshotConflictException only;
    * versions stay contiguous; no data file is orphaned. Seeded — the
    * schedule the OS picks varies, but every assertion is
    * schedule-independent, so the test cannot flake. */
  test("property: concurrent MERGE/DELETE/append histories are serializable") {
    for (seed <- Seq(41L, 42L, 43L, 44L, 45L)) raceSeed(seed)
  }

  /** Verb-level serializable retry (r16): a MERGE that loses its
    * publish race to a PROVABLY key-disjoint append must land by
    * metadata re-publish — its batch written ONCE (file-level
    * assertion), the history equal to the sequential model in the
    * table's own commit order — across seeded random key ranges. The
    * overlap side (racer inside the envelope → strict abort) is pinned
    * by the deterministic SourcesCatalogSpec cases. */
  test("property: serializable verb retry - MERGE losing to a disjoint append re-publishes without rewriting data") {
    import org.apache.spark.sql.functions._
    val cat = graft.sources.GraftCatalog
    for (seed <- Seq(61L, 62L, 63L)) {
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft-index/verbrace_${seed}_${System.nanoTime()}"
      cat.commitSnapshot(
        spark.range(1000).select(col("id").as("k"), (col("id") * 10L).as("v"))
          .repartitionByRange(4, col("k")),
        root, append = false)
      val lo = rnd.nextInt(800).toLong
      val hi = lo + 50 + rnd.nextInt(150)
      val ins = 50000L + seed * 1000L
      // racer: an append strictly ABOVE the merge's key envelope
      cat.publishFault.put(root, new Runnable {
        def run(): Unit = {
          cat.commitSnapshot(
            spark.range(ins + 500, ins + 600)
              .select(col("id").as("k"), lit(0L).as("v")),
            root, append = true)
          ()
        }
      })
      def batchDirs: Int = Option(new java.io.File(s"$root/data").listFiles())
        .map(_.count(_.isDirectory)).getOrElse(0)
      val before = batchDirs
      val landed = cat.mergeSnapshot(spark, root,
        spark.range(lo, hi + 1).select(col("id").as("k"), lit(-seed).as("v"))
          .union(spark.range(ins, ins + 20)
            .select(col("id").as("k"), lit(1L).as("v"))), "k")
      assert(landed == 3L,
        s"seed $seed: racer v2 then merge re-publish v3, got $landed")
      assert(batchDirs - before == 2,
        s"seed $seed: exactly racer batch + ONE merge batch (written once)")
      // the head equals the sequential model (racer, merge) — which,
      // scope-disjoint, equals (merge, racer) too
      val st = scala.collection.mutable.Map.empty[Long, Long]
      (0L until 1000L).foreach(k => st(k) = k * 10L)
      (ins + 500 until ins + 600).foreach(st(_) = 0L)
      (lo to hi).foreach(st(_) = -seed)
      (ins until ins + 20).foreach(st(_) = 1L)
      val head = cat.readSnapshot(spark, root).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(head == st.toMap, s"seed $seed: head diverges from the serial model")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    }
  }

  /** The same cross-verb race under SEGMENTED manifests + chained
    * stats sidecars (spec-sized thresholds): the serializability
    * contract, the replan guarantee, version contiguity and the
    * no-orphan invariant must all be threshold-independent — the
    * segment carry changes what commit METADATA is written, never
    * which histories are admissible. */
  test("property: the same histories serialize under segmented manifests") {
    val cat = graft.sources.GraftCatalog
    val (i0, m0, d0) =
      (cat.manifestInlineMax, cat.manifestMaxIncludes, cat.statsMaxDepth)
    cat.manifestInlineMax = 2
    cat.manifestMaxIncludes = 3
    cat.statsMaxDepth = 2
    try for (seed <- Seq(46L, 47L)) raceSeed(seed)
    finally {
      cat.manifestInlineMax = i0
      cat.manifestMaxIncludes = m0
      cat.statsMaxDepth = d0
    }
  }

  private def raceSeed(seed: Long): Unit = {
    import org.apache.spark.sql.functions._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val cat = graft.sources.GraftCatalog
    locally {
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft-index/proprace_${seed}_${System.nanoTime()}"
      cat.commitSnapshot(
        spark.range(1000).select(col("id").as("k"), (col("id") * 10L).as("v"))
          .repartitionByRange(4, col("k")),
        root, append = false)
      def span(): (Long, Long) = {
        val lo = rnd.nextInt(500).toLong; (lo, lo + 100 + rnd.nextInt(400))
      }
      val (lo1, hi1) = span(); val (lo2, hi2) = span()
      val (lo3, hi3) = span()
      val ops: Seq[RaceOp] = rnd.shuffle(Seq[RaceOp](
        MergeOp(0, lo1, hi1, rnd.nextInt(10).toLong, 10000L),
        MergeOp(1, lo2, hi2, rnd.nextInt(10).toLong, 11000L),
        DeleteOp(2, 5L, rnd.nextInt(5).toLong, 300L + rnd.nextInt(700)),
        DeleteOp(3, 7L, rnd.nextInt(7).toLong, 300L + rnd.nextInt(700)),
        AppendOp(4, 20000L), AppendOp(5, 21000L),
        // r11: the merge-on-read physics race the CoW verbs on the
        // SAME table — DV sidecar publishes must serialize identically
        MorDeleteOp(6, 11L, rnd.nextInt(11).toLong, 300L + rnd.nextInt(700)),
        MorMergeOp(7, lo3, hi3, rnd.nextInt(10).toLong, 12000L),
        // r13: the equality-delete sidecar publish joins the race
        EqDeleteOp(8, 100L + rnd.nextInt(400), 60),
        // r14: maintenance compaction races ingest — its PINNED base
        // must abort rather than erase a concurrent commit
        CompactOp(9),
        // r17: a MoR-bearing TRANSACTION joins the race — fork,
        // {DV delete, append}, one flip (fast-forward or MoR graft)
        TxMorOp(10, 13L, rnd.nextInt(13).toLong, 300L + rnd.nextInt(700),
          13000L)))
      // Phase 1: race. Every failure must be the clean serializable
      // abort — anything else (NPE, torn state, wrong exception) fails.
      val results = Await.result(
        Future.sequence(ops.map(op => Future(scala.util.Try(op.run(root))))),
        300.seconds)
      val aborted = ops.zip(results).collect {
        case (op, scala.util.Failure(e)) =>
          assert(e.isInstanceOf[graft.sources.SnapshotConflictException],
            s"seed $seed op ${op.idx}: dirty abort ${e.getClass}: ${e.getMessage}")
          op
      }
      // Phase 2: losers replan against the new head — sequentially, so
      // each MUST land (the retry contract the docs promise callers).
      aborted.sortBy(_.idx).foreach(op => op.run(root))
      // Recover the table's own commit order from the #op meta tags.
      val hist = cat.describeSnapshotHistory(spark, root)
        .select("version", "meta").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      val tagged = hist.collect { case (v, m) if m.contains("#op:") =>
        v -> "#op:(\\d+)".r.findFirstMatchIn(m).get.group(1).toInt
      }.sortBy(_._1)
      assert(tagged.map(_._2).distinct.length == tagged.length,
        s"seed $seed: an op committed twice: $tagged")
      // Serializable: model-replay in version order == the head.
      val st = scala.collection.mutable.Map.empty[Long, Long]
      (0L until 1000L).foreach(k => st(k) = k * 10L)
      tagged.foreach { case (_, idx) => ops.find(_.idx == idx).get.model(st) }
      val head = cat.readSnapshot(spark, root).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(head.size == cat.readSnapshot(spark, root).count(),
        s"seed $seed: duplicate keys at head")
      assert(head == st.toMap,
        s"seed $seed: head diverges from serial replay " +
          s"(missing=${(st.keySet -- head.keySet).take(5)}, " +
          s"extra=${(head.keySet -- st.keySet).take(5)}, " +
          s"diff=${st.collect { case (k, v) if head.get(k).exists(_ != v) => k }.take(5)})")
      // Contiguous versions; no orphaned data files.
      val versions = cat.snapshotVersions(spark, root)
      assert(versions == (1L to versions.last),
        s"seed $seed: non-contiguous versions $versions")
      val referenced = versions.flatMap(v =>
        cat.readSnapshot(spark, root, Some(v)).inputFiles.toSeq)
        .map(f => org.apache.hadoop.fs.Path
          .getPathWithoutSchemeAndAuthority(new org.apache.hadoop.fs.Path(f))
          .toString).toSet
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$root/data"), true)
      val onDisk = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          onDisk += org.apache.hadoop.fs.Path
            .getPathWithoutSchemeAndAuthority(f.getPath).toString
      }
      assert(onDisk.subsetOf(referenced),
        s"seed $seed: orphaned data files ${(onDisk -- referenced).take(3)}")
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    }
  }
}
