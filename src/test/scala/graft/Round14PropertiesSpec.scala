package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.graph.{Centrality, Fixpoint}
import graft.operators.Analytics

/** Property tests for the round-14 operator batch: each distributed
  * algorithm checked against an independent sequential reference
  * implementation over seeded random inputs — the strongest guard a
  * fixpoint can carry besides its oracle gate. */
class Round14PropertiesSpec extends SparkSuite {
  import spark.implicits._

  private def randomGraph(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    (1 to m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
  }

  // ---- Borůvka vs sequential Kruskal ----

  private def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val out = scala.collection.mutable.Set[(Long, Long, Long)]()
    // the operator's total order: (weight, min-endpoint, max-endpoint)
    for ((a, b, w) <- edges.map { case (x, y, w) =>
        (math.min(x, y), math.max(x, y), w)
      }.sortBy { case (a, b, w) => (w, a, b) }) {
      if (find(a) != find(b)) { parent(find(a)) = find(b); out += ((a, b, w)) }
    }
    out.toSet
  }

  test("minimumSpanningForest equals sequential Kruskal on random graphs") {
    for (seed <- 1 to 6) {
      val rnd = new Random(seed + 100)
      val raw = randomGraph(seed, n = 24, m = 60)
        .map { case (a, b) => (a, b, (rnd.nextInt(40) + 1).toLong) }
      // collapse duplicate undirected pairs to min weight (the operator's
      // contract) before feeding the reference
      val canon = raw.groupBy { case (a, b, _) =>
          (math.min(a, b), math.max(a, b))
        }.map { case ((a, b), es) => (a, b, es.map(_._3).min) }.toSeq
      val got = Fixpoint.minimumSpanningForest(raw.toDF("src", "dst", "weight"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == kruskal(canon), s"seed $seed")
    }
  }

  // ---- CUSUM closed form vs the textbook recursion ----

  test("cusumAlarm matches the sequential max(0, S+x) recursion") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val vals = (1 to 60).map(_ => (rnd.nextInt(2001) - 1000).toLong)
      val mu = vals.sum / vals.length // floor-mean, matches the operator
      var s = 0L
      val want = vals.map { v => s = math.max(0L, s + (v - mu)); s }
      val df = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        .toDF("k", "t", "v")
      val got = Analytics.cusumAlarm(df, Seq("k"), Seq(col("t")), col("v"),
          threshold = 1L)
        .orderBy("t").collect().map(_.getAs[Long]("cusum")).toSeq
      assert(got == want, s"seed $seed")
    }
  }

  // ---- coreness vs brute-force peel ----

  private def bruteCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    var adj = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val core = scala.collection.mutable.Map[Long, Long]()
    var k = 1L
    while (adj.nonEmpty) {
      var changed = true
      while (changed) {
        val doomed = adj.filter(_._2.size < k).keySet
        changed = doomed.nonEmpty
        doomed.foreach(core(_) = k - 1)
        adj = (adj -- doomed).map { case (n, s) => n -> (s -- doomed) }
        adj = adj.filterNot { case (n, s) => s.isEmpty && {
          if (!core.contains(n)) core(n) = k - 1; true } }
      }
      k += 1
    }
    core.toMap
  }

  test("coreness equals the brute-force sequential peel on random graphs") {
    for (seed <- 1 to 5) {
      val edges = randomGraph(seed + 7, n = 30, m = 90)
      val got = Centrality.coreness(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteCoreness(edges), s"seed $seed")
    }
  }

  // ---- WL refinement is a partition refinement ----

  test("wlRefine round k+1 only splits color classes, never merges them") {
    for (seed <- 1 to 3) {
      val edges = randomGraph(seed + 31, n = 40, m = 70)
      if (edges.nonEmpty) {
        val df = edges.toDF("src", "dst")
        val c2 = Fixpoint.wlRefine(df, 2).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val c3 = Fixpoint.wlRefine(df, 3).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // same color at round 3 ⇒ same color at round 2
        for (Seq(a, b) <- c3.keys.toSeq.combinations(2))
          if (c3(a) == c3(b)) assert(c2(a) == c2(b), s"seed $seed: $a $b")
      }
    }
  }

  // ---- MIS/matching/coloring on larger random graphs ----

  test("MIS, matching and coloring hold their invariants on random graphs") {
    for (seed <- 1 to 3) {
      val edges = randomGraph(seed + 77, n = 60, m = 200)
      val df = edges.toDF("src", "dst")
      val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      val nodes = und.map(_._1)

      val mis = Fixpoint.maximalIndependentSet(df).collect()
        .map(_.getLong(0)).toSet
      assert(!und.exists { case (a, b) => mis(a) && mis(b) })
      for (v <- nodes if !mis(v))
        assert(und.exists { case (a, b) => a == v && mis(b) })

      val m = Fixpoint.maximalMatching(df).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val ends = m.flatMap(e => Seq(e._1, e._2))
      assert(ends.distinct.length == ends.length)
      val matched = ends.toSet
      for ((a, b) <- edges) assert(matched(a) || matched(b))

      val cols = Fixpoint.greedyColoring(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      for ((a, b) <- edges) assert(cols(a) != cols(b))
    }
  }
}
