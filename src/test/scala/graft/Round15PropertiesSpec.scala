package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.graph.Paths
import graft.operators.{Changelog, Spatial, Temporal}

/** Property tests for the round-15 operator batch: each distributed
  * algorithm checked against an independent sequential reference
  * implementation over seeded random inputs. */
class Round15PropertiesSpec extends SparkSuite {
  import spark.implicits._

  // ---- stBetweenness vs sequential BFS path counting ----

  private def bfsSigma(adj: Map[Long, Seq[Long]], s: Long): Map[Long, (Long, Long)] = {
    val distSigma = scala.collection.mutable.Map(s -> (0L, 1L))
    var frontier = Seq(s)
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      val next = scala.collection.mutable.Map[Long, Long]()
      for (u <- frontier; v <- adj.getOrElse(u, Nil)) {
        if (!distSigma.contains(v))
          next(v) = next.getOrElse(v, 0L) + distSigma(u)._2
      }
      frontier = next.keys.toSeq
      next.foreach { case (v, sg) => distSigma(v) = (d, sg) }
    }
    distSigma.toMap
  }

  test("stBetweenness equals sequential forward x backward sigma") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val edges = (1 to 80).map(_ =>
        (rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
        .filter { case (a, b) => a != b }.distinct
      val (s, t) = (0L, 15L)
      val fwd = bfsSigma(edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }, s)
      val bwd = bfsSigma(edges.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }, t)
      val want: Map[Long, (Long, Long)] = fwd.get(t) match {
        case None => Map.empty
        case Some((dst, _)) =>
          (fwd.keySet ++ bwd.keySet).flatMap { v =>
            (fwd.get(v), bwd.get(v)) match {
              case (Some((df, sf)), Some((db, sb))) if df + db == dst =>
                Some(v -> (df, sf * sb))
              case _ => None
            }
          }.toMap
      }
      val got = Paths.stBetweenness(edges.toDF("src", "dst"), s, t, maxDepth = 20)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want, s"seed $seed")
    }
  }

  // ---- topoLevels vs sequential longest-path DP ----

  test("topoLevels equals sequential longest-path DP on random DAGs") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 50)
      // orient edges small→large: guaranteed DAG
      val edges = (1 to 60).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val preds = edges.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
      val level = scala.collection.mutable.Map[Long, Long]()
      for (v <- nodes) // ascending id = topological order under the orientation
        level(v) = preds.getOrElse(v, Nil).map(p => level(p) + 1).foldLeft(0L)(math.max)
      val got = Paths.topoLevels(edges.toDF("src", "dst"), maxRounds = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == level.toMap, s"seed $seed")
    }
  }

  // ---- subtreeAggregate vs sequential recursion on random forests ----

  test("subtreeAggregate equals sequential subtree sums on random forests") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 90)
      // random forest: parent(v) < v for v not a root
      val n = 24
      val parents = (1L until n).flatMap { v =>
        if (rnd.nextInt(4) == 0) None // root
        else Some((rnd.nextInt(v.toInt).toLong, v))
      }
      val values = (0L until n).map(v => (v, rnd.nextInt(100).toLong - 20))
      val children = parents.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val vmap = values.toMap
      def sub(v: Long): (Long, Long) = {
        val kids = children.getOrElse(v, Nil).map(sub)
        (vmap(v) + kids.map(_._1).sum, 1L + kids.map(_._2).sum)
      }
      val inGraph = (parents.map(_._1) ++ parents.map(_._2)).distinct
      val want = inGraph.map(v => v -> sub(v)).toMap
      val got = Paths.subtreeAggregate(parents.toDF("src", "dst"),
          values.toDF("node", "value"), maxRounds = 30)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      assert(got == want, s"seed $seed")
    }
  }

  // ---- maintainJoin vs recomputed join on random delta streams ----

  test("maintainJoin equals full recompute under random add/remove deltas") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 7)
      def rel(tag: String, m: Int): Seq[(Long, String)] =
        (1 to m).map(i => (rnd.nextInt(6).toLong, s"$tag$i")).distinct
      val a0 = rel("a", 8)
      val b0 = rel("b", 6)
      // deltas: remove a random present row, add a random new one, per side
      val aRem = rnd.shuffle(a0).take(2).map { case (k, p) => (k, p, -1L) }
      val aAdd = Seq((rnd.nextInt(6).toLong, "aNew", 1L))
      val bRem = rnd.shuffle(b0).take(1).map { case (k, p) => (k, p, -1L) }
      val bAdd = Seq((rnd.nextInt(6).toLong, "bNew", 1L))
      val aF = a0.diff(aRem.map(t => (t._1, t._2))) ++ aAdd.map(t => (t._1, t._2))
      val bF = b0.diff(bRem.map(t => (t._1, t._2))) ++ bAdd.map(t => (t._1, t._2))
      val want = (for ((k, pa) <- aF; (k2, pb) <- bF if k == k2)
        yield (k, pa, pb, 1L)).toSet
      val view = a0.toDF("k", "pa").join(b0.toDF("k", "pb"), Seq("k"))
        .withColumn("mult", lit(1L))
      val got = Changelog.maintainJoin(view,
          a0.toDF("k", "pa"), b0.toDF("k", "pb"),
          (aRem ++ aAdd).toDF("k", "pa", "mult"),
          (bRem ++ bAdd).toDF("k", "pb", "mult"), Seq("k"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
      assert(got == want, s"seed $seed")
    }
  }

  // ---- gridNearest vs brute-force scan on random points ----

  test("gridNearest equals the brute-force argmin on random points") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 31)
      val left = (0 until 30).map(i =>
        (i.toLong, rnd.nextInt(500).toLong, rnd.nextInt(500).toLong))
      val right = (0 until 20).map(i =>
        (i.toLong, rnd.nextInt(500).toLong, rnd.nextInt(500).toLong))
      val r2 = 64L * 64L
      val want = left.flatMap { case (lid, lx, ly) =>
        val cands = right.map { case (rid, rx, ry) =>
          (rid, (lx - rx) * (lx - rx) + (ly - ry) * (ly - ry))
        }.filter(_._2 <= r2)
        if (cands.isEmpty) None
        else Some(lid -> cands.minBy { case (rid, d2) => (d2, rid) })
      }.toMap
      val got = Spatial.gridNearest(left.toDF("id", "x", "y"),
          right.toDF("id", "x", "y"), 64L, 64L)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want, s"seed $seed")
    }
  }

  // ---- asofJoinWithin vs sequential scan ----

  test("asofJoinWithin equals the sequential latest-within-tolerance scan") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 13)
      val left = (0 until 25).map(i =>
        (i.toLong, rnd.nextInt(3).toLong, rnd.nextInt(100).toLong))
      val right = (0 until 25).map(i =>
        (rnd.nextInt(3).toLong, rnd.nextInt(100).toLong, s"p$i"))
      val tol = 15L
      val want = left.map { case (id, k, t) =>
        val c = right.filter { case (rk, rt, _) => rk == k && rt <= t }
        if (c.isEmpty) id -> ((None, None))
        else {
          // operator semantics: latest rt; ties → greatest payload
          val (rt, p) = c.map { case (_, rt, p) => (rt, p) }.max
          if (t - rt <= tol) id -> ((Some(p), Some(t - rt)))
          else id -> ((None, None))
        }
      }.toMap
      val got = Temporal.asofJoinWithin(left.toDF("id", "k", "t"),
          right.toDF("k", "rt", "p"), Seq("k"), "t", "rt", Seq("p"), tol)
        .collect().map(r => r.getLong(0) ->
          ((Option(r.getString(3)), Option(r.get(4)).map(_.asInstanceOf[Long]))))
        .toMap
      assert(got == want, s"seed $seed")
    }
  }
}
