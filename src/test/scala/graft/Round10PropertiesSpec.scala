package graft

import scala.util.Random

import org.apache.spark.sql.functions._

/** Round-10-session property batch: weighted conductance degenerates to
  * the unweighted pass at weight 1 (the same law the weighted/unweighted
  * modularity pair obeys). */
class Round10PropertiesSpec extends SparkSuite {
  import spark.implicits._

  test("conductanceWeighted with unit weights equals conductance") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 400)
      // canonical a < b, distinct: equivalence holds on simple graphs
      // (the weighted variant sums parallel rows, the unweighted dedups)
      val edges = (1 to 60).map(_ =>
        (1L + rnd.nextInt(20), 1L + rnd.nextInt(20)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val e = edges.toDF("src", "dst")
      val asg = (1L to 20L).map(n => (n, n % 4)).toDF("node", "community")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) Long.MinValue else r.getLong(4))
      val un = graft.graph.Centrality.conductance(e, asg)
        .collect().map(key).toSet
      val wt = graft.graph.Centrality.conductanceWeighted(
        e.withColumn("w", lit(1L)), asg, "w").collect().map(key).toSet
      assert(un == wt, s"seed $seed")
    }
  }

  test("cusum equals the sequential reset recurrence") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 410)
      val rows = (1L to 200L).map(i => (i, rnd.nextInt(40).toLong))
      val target = 20L
      // sequential S_i = max(0, S_{i-1} + x_i - target)
      val want = rows.scanLeft((0L, 0L)) { case ((_, s), (i, x)) =>
        (i, math.max(0L, s + x - target))
      }.tail.toMap
      val got = graft.operators.Analytics.cusum(
          rows.toDF("i", "x"), col("i"), Nil, col("x"), lit(target))
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("cusum")).toMap
      assert(got == want, s"seed $seed")
    }
  }

  test("exactQuantilesByGroup equals the per-group sorted pick") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 420)
      val rows = (1 to 300).map(i =>
        (s"g${rnd.nextInt(4)}", rnd.nextInt(1000).toLong))
      val qs = Seq(250000L, 500000L, 900000L)
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        val sorted = rs.map(_._2).sorted
        qs.map { q =>
          val rk = math.max(1L, (q * sorted.size + 999999L) / 1000000L)
          (g, q) -> sorted(rk.toInt - 1)
        }
      }.toMap
      val got = graft.operators.Analytics.exactQuantilesByGroup(
          rows.toDF("g", "v"), col("g"), col("v"), qs)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"seed $seed")
    }
  }

  test("cohensKappa hand case and degenerate constant raters") {
    // a=[x,x,y,y], b=[x,y,y,y]: po=3/4, pe=(2*1+2*3)/16=1/2, kappa=1/2
    val df = Seq(("x", "x"), ("x", "y"), ("y", "y"), ("y", "y")).toDF("a", "b")
    val r = graft.operators.Analytics.cohensKappa(df, col("a"), col("b"))
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 750000L, 500000L, 500000L)))
    // both raters constant: pe = 1e6 -> kappa undefined (NULL), not 1
    val const = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    val rc = graft.operators.Analytics.cohensKappa(const, col("a"), col("b"))
      .collect().head
    assert(rc.getLong(1) == 1000000L && rc.isNullAt(3))
    // negative kappa: systematic disagreement below chance
    val neg = Seq(("x", "y"), ("y", "x"), ("x", "y"), ("y", "x")).toDF("a", "b")
    val rn = graft.operators.Analytics.cohensKappa(neg, col("a"), col("b"))
      .collect().head
    assert(rn.getLong(3) == -1000000L)
  }

  test("effectiveSampleSize equals the Kish formula, uniform weights give n") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 430)
      val rows = (1 to 100).map(i => (s"g${i % 3}", 1L + rnd.nextInt(50)))
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val ws = rs.map(_._2)
        val ess = (BigInt(ws.sum) * ws.sum / ws.map(w => BigInt(w) * w).sum)
        g -> ess.toLong
      }
      val got = graft.text.Sampling.effectiveSampleSize(
          rows.toDF("g", "w"), col("g"), col("w"))
        .collect().map(r => r.getString(0) -> r.getAs[Long]("ess")).toMap
      assert(got == want, s"seed $seed")
    }
    val unif = (1 to 60).map(i => (s"g${i % 2}", 5L)).toDF("g", "w")
    val got = graft.text.Sampling.effectiveSampleSize(unif, col("g"), col("w"))
      .collect().map(r => (r.getAs[Long]("ess"), r.getAs[Long]("efficiency_ppm")))
    assert(got.forall(_ == ((30L, 1000000L))))
  }

  test("conductanceWeighted hand case: bridged triangles, weighted bridge") {
    // triangles {1,2,3} and {4,5,6}, intra weight 2 each edge, bridge 3-4
    // weight 5. vol(A) = 2*2*3 + 5 = 17, W2 = 2*(6*2+5) = 34, complement
    // vol = 17 -> min = 17; cut(A) = 5 -> phi = 5_000_000/17 = 294117 ppm
    val e = Seq((1L, 2L, 2L), (2L, 3L, 2L), (3L, 1L, 2L),
      (4L, 5L, 2L), (5L, 6L, 2L), (6L, 4L, 2L), (3L, 4L, 5L))
      .toDF("src", "dst", "w")
    val asg = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L),
      (6L, 20L)).toDF("node", "community")
    val rows = graft.graph.Centrality.conductanceWeighted(e, asg, "w")
      .orderBy("community").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 20L))
    for (r <- rows) {
      assert(r.getLong(1) == 3L)   // n_nodes
      assert(r.getLong(2) == 17L)  // volume
      assert(r.getLong(3) == 5L)   // cut_weight
      assert(r.getLong(4) == 294117L)
    }
  }
}
