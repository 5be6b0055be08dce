package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.{Changelog, Network, Temporal}

/** Property tests for the round-16 batch: incremental join maintenance,
  * bitemporal reads, and CIDR containment checked against independent
  * sequential references over seeded random inputs. */
class Round16PropertiesSpec extends SparkSuite {
  import spark.implicits._

  // ---- maintainJoin vs full recompute ----

  test("maintainJoin equals the full recompute of the post-delta join") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      def randSide(): Set[(Long, Long)] =
        (1 to 12).map(_ => (rnd.nextInt(6).toLong, rnd.nextInt(4).toLong)).toSet
      val a0 = randSide()
      val b0 = randSide()
      // random signed deltas: delete a present row, insert an absent one
      def randDelta(base: Set[(Long, Long)]): Seq[(Long, Long, Long)] =
        (1 to 6).map(_ => (rnd.nextInt(6).toLong, rnd.nextInt(4).toLong))
          .distinct.map { case (k, v) =>
            if (base.contains((k, v))) (k, v, -1L) else (k, v, 1L) }
      val dA = randDelta(a0)
      val dB = randDelta(b0)
      def applied(base: Set[(Long, Long)], d: Seq[(Long, Long, Long)]) =
        d.foldLeft(base) { case (s, (k, v, m)) =>
          if (m > 0) s + ((k, v)) else s - ((k, v)) }
      val a1 = applied(a0, dA)
      val b1 = applied(b0, dB)
      val want = (for {
        (ka, av) <- a1; (kb, bv) <- b1 if ka == kb
      } yield (ka, av, bv, 1L)).toSet
      val view0 = (for {
        (ka, av) <- a0; (kb, bv) <- b0 if ka == kb
      } yield (ka, av, bv, 1L)).toSeq.toDF("k", "a_val", "b_val", "mult")
      val got = Changelog.maintainJoin(view0,
          a0.toSeq.toDF("k", "a_val"), b0.toSeq.toDF("k", "b_val"),
          dA.toDF("k", "a_val", "mult"), dB.toDF("k", "b_val", "mult"),
          Seq("k"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want, s"seed $seed")
    }
  }

  // ---- bitemporalAsOf vs sequential two-dimensional filter ----

  test("bitemporalAsOf equals the sequential latest-assertion read") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 20)
      // (key, valid_from, valid_to(nullable), tx_from, value) with
      // (key, valid_from, tx_from) unique
      val hist = (for {
        key <- 1L to 4L
        vf <- Seq(0L, 10L, 20L, 30L)
        tx <- 1L to 5L
        if rnd.nextBoolean()
      } yield {
        val vt: java.lang.Long =
          if (rnd.nextInt(4) == 0) null else java.lang.Long.valueOf(vf + 10L)
        (key, vf, vt, tx, rnd.nextInt(100).toLong)
      }).toSeq
      val txAsOf = 1L + rnd.nextInt(5)
      val validAsOf = rnd.nextInt(45).toLong
      val want = hist
        .filter(_._4 <= txAsOf)
        .groupBy(h => (h._1, h._2)).values
        .map(_.maxBy(_._4))
        .filter(h => h._2 <= validAsOf && (h._3 == null || validAsOf < h._3))
        .map(h => (h._1, h._2, h._4, h._5)).toSet
      val got = Temporal.bitemporalAsOf(
          hist.toDF("key", "valid_from", "valid_to", "tx_from", "value"),
          Seq("key"), "tx_from", "valid_from", "valid_to",
          lit(txAsOf), lit(validAsOf))
        .select(col("key"), col("valid_from"), col("tx_from"), col("value"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want, s"seed $seed txAsOf=$txAsOf validAsOf=$validAsOf")
    }
  }

  // ---- topoLevelsLifted vs the frontier sweep ----

  test("topoLevelsLifted matches topoLevels on random DAGs") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 80)
      // orient small->large: guaranteed DAG, multi-parent allowed
      val edges = (1 to 70).map(_ =>
        (rnd.nextInt(24).toLong, rnd.nextInt(24).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val e = edges.toDF("src", "dst")
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sweep = toMap(graft.graph.Paths.topoLevels(e, maxRounds = 40))
      val lifted = toMap(graft.graph.Paths.topoLevelsLifted(e, maxDepth = 40))
      assert(lifted == sweep, s"seed $seed")
    }
  }

  test("topoLevelsLifted detects cycles in-plan") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val ex = intercept[Exception] {
      graft.graph.Paths.topoLevelsLifted(e, maxDepth = 8).collect()
    }
    assert(ex.getMessage.contains("cycle"))
  }

  // ---- subtreeAggregateLifted vs the level-synchronous sweep ----

  test("subtreeAggregateLifted matches subtreeAggregate on random forests") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 60)
      // random forest: each node 2..N picks a parent with a smaller id
      // (sometimes none -> multiple roots)
      val edges = (2 to 40).flatMap { k =>
        if (rnd.nextInt(5) == 0) None
        else Some((1L + rnd.nextInt(k - 1).toLong, k.toLong))
      }
      val values = (1 to 40).map(k => (k.toLong, rnd.nextInt(50).toLong))
      val e = edges.toDF("src", "dst")
      val v = values.toDF("node", "value")
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val sweep = toMap(graft.graph.Paths.subtreeAggregate(e, v, maxRounds = 50))
      val lifted = toMap(graft.graph.Paths.subtreeAggregateLifted(e, v, maxDepth = 50))
      assert(lifted == sweep, s"seed $seed")
    }
  }

  test("topoLevelsLifted raises past a power-of-two depth budget") {
    // chain of depth 20 with maxDepth=16: the doubling loop must close
    // STRICTLY past the budget, or nodes 17..20 silently level to 0 —
    // the regression the round-8 review verified
    val e = (1 to 20).map(k => (k.toLong, k.toLong + 1L)).toDF("src", "dst")
    val ex = intercept[Exception] {
      graft.graph.Paths.topoLevelsLifted(e, maxDepth = 16).collect()
    }
    assert(ex.getMessage.contains("depth past the 16 budget"))
  }

  test("subtreeAggregateLifted raises when the tree outruns maxDepth") {
    // chain of depth 20 with maxDepth=15: without the surviving-jump
    // overflow marker this under-counted levels and dropped descendant
    // sums silently (root subtree_sum 16 instead of 21)
    val e = (1 to 20).map(k => (k.toLong, k.toLong + 1L)).toDF("src", "dst")
    val v = (1 to 21).map(k => (k.toLong, 1L)).toDF("node", "value")
    val ex = intercept[Exception] {
      graft.graph.Paths.subtreeAggregateLifted(e, v, maxDepth = 15).collect()
    }
    assert(ex.getMessage.contains("deeper than the 15 budget"))
  }

  test("subtreeAggregateLifted rejects multi-parent nodes loudly") {
    val e = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val v = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "value")
    val ex = intercept[Exception] {
      graft.graph.Paths.subtreeAggregateLifted(e, v, maxDepth = 8).collect()
    }
    assert(ex.getMessage.contains("multiple parents"))
  }

  // ---- allenCensus vs brute-force classification ----

  private def allenRel(as: Long, ae: Long, bs: Long, be: Long): String =
    if (ae < bs) "before" else if (as > be) "after"
    else if (as == bs && ae == be) "equals"
    else if (ae == bs) "meets" else if (be == as) "met_by"
    else if (as == bs && ae < be) "starts" else if (as == bs) "started_by"
    else if (ae == be && as > bs) "finishes" else if (ae == be) "finished_by"
    else if (as > bs && ae < be) "during"
    else if (as < bs && ae > be) "contains"
    else if (as < bs) "overlaps" else "overlapped_by"

  test("allenCensus partitions |A|x|B| and matches brute classification") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 100)
      def ivs(n: Int) = (1 to n).map { _ =>
        val s = rnd.nextInt(60).toLong
        (s, s + 1 + rnd.nextInt(12).toLong)
      }
      val a = ivs(25)
      val b = ivs(20)
      val want = (for ((as_, ae) <- a; (bs, be) <- b)
        yield allenRel(as_, ae, bs, be))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val got = Temporal.allenCensus(
          a.toDF("s", "e"), b.toDF("s", "e"), bucketSeconds = 7L)
        .collect().map(r => r.getString(0) -> r.getLong(1))
        .filter(_._2 > 0).toMap
      assert(got == want, s"seed $seed")
      assert(got.values.sum == a.size.toLong * b.size)
    }
  }

  // ---- cidrContainJoin vs brute-force containment ----

  test("cidrContainJoin equals brute-force interval containment") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 40)
      val ips = (1 to 40).map(i =>
        (i.toLong, rnd.nextLong(1L << 32)))
      val nets = (1 to 15).map { i =>
        val plen = 8 + rnd.nextInt(25) // [8, 32]
        val span = 1L << (32 - plen)
        (i.toLong, rnd.nextLong(1L << 32), plen.toLong, span)
      }
      val want = (for {
        (id, ip) <- ips
        (nid, base, plen, span) <- nets
        if ip >= base && ip < base + span
      } yield (id, ip, nid, base, plen)).toSet
      val got = Network.cidrContainJoin(
          ips.toDF("id", "ip"),
          nets.map(n => (n._1, n._2, n._3)).toDF("net_id", "base", "prefix_len"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getInt(4).toLong)).toSet
      assert(got == want, s"seed $seed")
    }
  }
}
