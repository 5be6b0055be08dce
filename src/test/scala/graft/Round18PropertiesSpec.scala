package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.{Attribution, Changelog, EntityResolution}

/** Round-18 property batch: the h-index coreness fixpoint against the
  * cascade peel, and the round-8 analytics (multi-touch attribution,
  * Fellegi–Sunter classification, CDC sequence audit) against
  * independent sequential references over seeded random inputs. */
class Round18PropertiesSpec extends SparkSuite {
  import spark.implicits._

  // ---- corenessHIndex vs the cascade peel ----

  test("corenessHIndex equals the cascade peel on random graphs") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 300)
      val n = 30
      val edges = (1 to 120).map(_ =>
        (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
        .filter { case (a, b) => a != b }.distinct
      val e = edges.toDF("src", "dst")
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val peel = toMap(graft.graph.Centrality.coreness(e))
      val hIdx = toMap(graft.graph.Centrality.corenessHIndex(e))
      assert(hIdx == peel, s"seed $seed")
    }
  }

  // ---- multiTouch credit conservation ----

  test("multiTouch: every model's credit total is sum(value) x 1e6 over credited conversions") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 310)
      val lookback = 50L
      val touches = (1 to 40).map(i => (
        1L + rnd.nextInt(5),            // user
        i.toLong,                        // touch_id
        s"ch${rnd.nextInt(4)}",          // channel
        rnd.nextInt(200).toLong))        // ts
      val convs = (1 to 12).map(i => (
        1L + rnd.nextInt(5),             // user
        100L + i,                        // conv_id
        rnd.nextInt(220).toLong,         // ts
        1L + rnd.nextInt(1000)))         // value_cents
      // sequential assignment: a touch credits the EARLIEST conversion
      // at/after it within the lookback for the same user
      val credited = touches.flatMap { case (u, _, _, ts) =>
        convs.filter(c => c._1 == u && c._3 >= ts && c._3 - ts <= lookback)
          .sortBy(c => (c._3, c._2)).headOption.map(_._2)
      }.toSet
      val want = convs.filter(c => credited(c._2)).map(_._4).sum *
        BigInt(1000000)
      val out = Attribution.multiTouch(
        touches.toDF("user_id", "touch_id", "channel", "ts"),
        convs.toDF("user_id", "conv_id", "ts", "value_cents"), lookback)
        .collect()
      for (model <- Attribution.Models) {
        val got = out.filter(_.getString(0) == model)
          .map(r => BigInt(r.getLong(3))).sum
        assert(got == want, s"seed $seed model $model")
      }
    }
  }

  // ---- classify decisions monotone in the thresholds ----

  test("classify: raising thresholds only moves decisions toward non-link") {
    val rank = Map("link" -> 2, "possible" -> 1, "non-link" -> 0)
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 320)
      val cols = Seq("a1", "a2", "a3")
      val labeled = (1 to 200).map(i => (i.toLong, rnd.nextBoolean(),
        rnd.nextBoolean(), rnd.nextBoolean(), rnd.nextInt(3) > 0))
        .toDF("k", "a1", "a2", "a3", "is_match")
      val table = EntityResolution.patternTable(labeled, cols, "is_match")
      def decisions(lower: Long, upper: Long): Map[Long, String] =
        EntityResolution.classify(labeled, table, cols, lower, upper)
          .select(col("k"), col("decision")).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      val loose = decisions(100000L, 1000000L)
      val strict = decisions(500000L, 20000000L)
      loose.keys.foreach { k =>
        assert(rank(strict(k)) <= rank(loose(k)),
          s"seed $seed pair $k: ${loose(k)} -> ${strict(k)} under stricter thresholds")
      }
    }
  }

  // ---- goodTuring on a hand-checked corpus ----

  test("goodTuring: frequency-of-frequencies, smoothed counts, unseen mass") {
    // a x3, d x2, b x1, c x1  =>  N_1 = 2, N_2 = 1, N_3 = 1, N = 7
    val dt = Seq((1L, "a"), (1L, "a"), (2L, "a"), (1L, "d"), (2L, "d"),
      (1L, "b"), (2L, "c")).toDF("doc_id", "term")
    val got = graft.text.TextFunctions.goodTuring(dt, maxR = 12)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          r.getLong(3))).toMap
    // r* x1e6: r=1 -> 2*N_2/N_1 = 2*1/2 = 1.0; r=2 -> 3*N_3/N_2 = 3.0;
    // r=3 -> N_4 = 0 -> NULL. mass_ppm: r*N_r*1e6 div 7.
    assert(got(1L) == ((2L, Some(1000000L), 285714L)))
    assert(got(2L) == ((1L, Some(3000000L), 285714L)))
    assert(got(3L) == ((1L, None, 428571L)))
    assert(got.size == 3)
  }

  // ---- exactQuantiles vs a sorted-sequence reference ----

  test("exactQuantiles matches the sorted-multiset reference") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 340)
      val vals = (1 to 500).map(_ => rnd.nextInt(40).toLong)
      val qs = Seq(1L, 10000L, 250000L, 500000L, 750000L, 990000L, 1000000L)
      val sorted = vals.sorted
      val want = qs.map { q =>
        val rank = math.max(1L, (q * vals.size + 999999L) / 1000000L)
        q -> sorted((rank - 1).toInt)
      }.toMap
      val got = graft.operators.Analytics.exactQuantiles(
        vals.toDF("x"), col("x"), qs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed")
    }
  }

  // ---- ROUGE-N on hand pairs ----

  test("rougeN: clipped overlap, exact ppm P/R/F1, empty-side NULLs") {
    // cand "a b a c" vs ref "a b a b": bigrams cand {ab, ba, ac},
    // ref {ab, ba, ab} -> clipped overlap = min(1,2)+min(1,1) = 2 of 3/3
    val docs = Seq((1L, "a b a c"), (2L, "a b a b"), (3L, "x")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("cand_id", "ref_id")
    val got = graft.text.TextFunctions.rougeN(pairs, docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)),
          if (r.isNullAt(7)) None else Some(r.getLong(7)))).toMap
    assert(got((1L, 2L)) == ((2L, 3L, 3L, Some(666666L), Some(666666L))))
    // ref "x" has no bigram: overlap 0, ref_grams 0 -> recall NULL,
    // F1 = 0 (denominator 3 + 0 > 0)
    assert(got((1L, 3L)) == ((0L, 3L, 0L, None, Some(0L))))
  }

  // ---- burstiness on hand series ----

  test("burstiness: metronomic series scores 0, bursty series blows past 1e6") {
    val rows = Seq(
      ("cron", 0L), ("cron", 10L), ("cron", 20L), ("cron", 30L),
      ("bot", 0L), ("bot", 1L), ("bot", 2L), ("bot", 100L),
      ("single", 0L), ("single", 5L))
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      .toDF("k", "t", "id")
    val got = graft.operators.Analytics.burstiness(rows, Seq("k"), col("t"),
      Seq(col("id").asc)).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got("cron") == ((3L, 30L, Some(0L))))
    // gaps 1, 1, 98: cv2 = 3*(3*9606 - 10000) / (2*10000) = 2.8227
    assert(got("bot") == ((3L, 100L, Some(2822700L))))
    assert(got("single") == ((1L, 5L, None)))
  }

  // ---- tokenPack vs a sequential contiguous packer ----

  test("tokenPack matches the sequential contiguous packing") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 370)
      val docs = (1 to 60).map(i =>
        (i.toLong, (1 to (1 + rnd.nextInt(20))).map(_ => "w").mkString(" ")))
      val budget = 16L
      // sequential reference: same hash order, running token sum
      def h(id: Long): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"pk:$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(14)
        java.lang.Long.parseLong(hex, 16)
      }
      var cum = 0L
      val want = docs.map { case (id, t) => (id, t.split(" ").length.toLong) }
        .sortBy { case (id, _) => (h(id), id) }
        .map { case (id, n) =>
          val before = cum; cum += n
          id -> (n, before / budget, before % budget)
        }.toMap
      val got = graft.text.Sampling.tokenPack(
        docs.toDF("doc_id", "text"), "doc_id", "text", budget)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got == want, s"seed $seed")
    }
  }

  // ---- Mann-Whitney U2 vs brute-force pair comparison ----

  test("mannWhitneyU2 equals the brute-force pairwise comparison count") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 360)
      val rows = (1 to 200).map(i =>
        (rnd.nextInt(12).toLong, i % 3 == 0))
      val as = rows.filter(_._2).map(_._1)
      val bs = rows.filterNot(_._2).map(_._1)
      // u2 = sum over (a, b) pairs of 2*[a > b] + [a == b]
      val want = (for (a <- as; b <- bs)
        yield (if (a > b) 2L else if (a == b) 1L else 0L)).sum
      val r = graft.operators.Analytics.mannWhitneyU2(
        rows.toDF("v", "s"), col("v"), col("s")).collect().head
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        ((as.size.toLong, bs.size.toLong, want, 2L * as.size * bs.size)),
        s"seed $seed")
    }
  }

  // ---- rank fusion on hand-checked lists ----

  test("rankFusion: exact RRF contributions and consensus ordering") {
    val l1 = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rank")
    val l2 = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "rank")
    val got = graft.text.TextFunctions.rankFusion(Seq(l1, l2), 60L, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // rrf: d2 = 1e6 div 61 + 1e6 div 62 = 16393 + 16129 = 32522;
    //      d1 = 16393; d3 = 16129 — the both-lists doc wins
    assert(got.toSeq == Seq((1L, 2L, 32522L, 2L), (2L, 1L, 16393L, 1L),
      (3L, 3L, 16129L, 1L)))
  }

  // ---- modularity on a hand-checked graph ----

  test("modularity: two bridged triangles under the triangle partition") {
    // m = 7; e_A = e_B = 3; d_A = d_B = 7
    // Q = 2*(3/7 - (7/14)^2) = 5/14 -> 357142 ppm (truncated)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L),
      (3L, 4L)).toDF("src", "dst")
    val asg = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L),
      (6L, 20L)).toDF("node", "community")
    val r = graft.graph.Centrality.modularity(e, asg).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 7L, 357142L)))
    // nodes absent from the assignment are singleton communities: with
    // an EMPTY assignment every node is its own community, e_c = 0, so
    // Q = -sum(d_c^2)/4m^2 = -(2*4 + 2*9 + 2*4)/196 = -34/196
    // -> -173469 ppm (truncated toward zero, the div contract)
    val empty = Seq.empty[(Long, Long)].toDF("node", "community")
    val r2 = graft.graph.Centrality.modularity(e, empty).collect().head
    assert(r2.getLong(0) == 6L && r2.getLong(2) == -173469L)
  }

  // ---- weighted modularity degenerates to unweighted at weight 1 ----

  test("modularityWeighted with unit weights equals modularity") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 390)
      // canonical a < b so no anti-parallel duplicates: the weighted
      // variant SUMS parallel rows (multigraph reading) while the
      // unweighted one dedups them — equivalence holds on simple graphs
      val edges = (1 to 60).map(_ =>
        (1L + rnd.nextInt(20), 1L + rnd.nextInt(20)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val e = edges.toDF("src", "dst")
      val asg = (1L to 20L).map(n => (n, n % 4)).toDF("node", "community")
      val un = graft.graph.Centrality.modularity(e, asg).collect().head
      val wt = graft.graph.Centrality.modularityWeighted(
        e.withColumn("w", lit(1L)), asg, "w").collect().head
      assert((un.getLong(0), un.getLong(1), un.getLong(2)) ==
        ((wt.getLong(0), wt.getLong(1), wt.getLong(2))), s"seed $seed")
    }
  }

  // ---- retentionPolicy vs a sequential rule replay ----

  test("retentionPolicy marks match the sequential recent/weekly ladder") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 380)
      val rows = (1 to 2).flatMap { q =>
        (1 to 40).map(_ => (s"q$q",
          1700000000L + rnd.nextInt(40) * 86400L)).distinct
      }
      val keepLast = 5
      val want = rows.groupBy(_._1).flatMap { case (q, rs) =>
        val tags = rs.map(_._2).distinct.sortBy(-_)
        val recent = tags.take(keepLast).toSet
        val weekly = tags.groupBy(_ / 604800L).values.map(_.max).toSet
        tags.map { t =>
          val reason = if (recent(t)) "recent"
            else if (weekly(t)) "weekly" else "drop"
          (q, t) -> reason
        }
      }.toMap
      val got = graft.drift.Drift.retentionPolicy(
        rows.distinct.toDF("query", "tag"), keepLast)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          r.getString(3)).toMap
      assert(got == want, s"seed $seed")
      assert(got.forall { case ((q, t), reason) =>
        (reason != "drop") == want((q, t)).!=("drop") })
    }
  }

  // ---- conductance on the bridged triangles ----

  test("conductance: bridged triangles cut exactly one edge each side") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L),
      (3L, 4L)).toDF("src", "dst")
    val asg = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L),
      (6L, 20L)).toDF("node", "community")
    val got = graft.graph.Centrality.conductance(e, asg)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // vol = 7 each (2m = 14), cut = 1 each -> 1e6 div 7 = 142857 ppm
    assert(got == Map(10L -> ((3L, 7L, 1L, 142857L)),
      20L -> ((3L, 7L, 1L, 142857L))))
    // a community owning ALL volume has an undefined ratio -> NULL
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val one = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("node", "community")
    val r2 = graft.graph.Centrality.conductance(tri, one).collect().head
    assert(r2.getLong(3) == 0L && r2.isNullAt(4))
  }

  // ---- sharedRuns vs brute-force longest common substring ----

  test("sharedRuns: max_run equals the brute-force longest shared token run") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 350)
      // small alphabet forces real shared runs; dfCap high so the cap
      // never bites and the exact contract is testable
      val docs = (1 to 8).map(i =>
        (i.toLong, (1 to 30).map(_ => s"w${rnd.nextInt(6)}").mkString(" ")))
      val minRun = 3
      def lcsRun(a: Array[String], b: Array[String]): Int = {
        var best = 0
        for (i <- a.indices; j <- b.indices) {
          var k = 0
          while (i + k < a.length && j + k < b.length && a(i + k) == b(j + k))
            k += 1
          best = math.max(best, k)
        }
        best
      }
      val want = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        run = lcsRun(ta.split(" "), tb.split(" ")) if run >= minRun
      } yield (ia, ib) -> run.toLong).toMap
      val got = graft.dedup.Dedup.sharedRuns(
        docs.toDF("doc_id", "text"), "doc_id", "text", minRun, dfCap = 100000L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"seed $seed")
    }
  }

  // ---- sequenceAudit vs a sequential replay ----

  test("sequenceAudit: gap and out-of-order counts match a sequential replay") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 330)
      val rows = (1 to 3).flatMap { key =>
        val versions = (1 to 20).map(_ => 1L + rnd.nextInt(15)).distinct
        versions.zipWithIndex.flatMap { case (v, i) =>
          // occasional duplicate arrival of the same version
          val arrivals = 1 + rnd.nextInt(2)
          (0 until arrivals).map(a => (key.toLong, v, (i * 3 + a).toLong))
        }
      }
      val got = Changelog.sequenceAudit(
        rows.toDF("key", "version", "arrival"), Seq("key"), "version", "arrival")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
      rows.groupBy(_._1).foreach { case (key, rs) =>
        val vs = rs.map(_._2).distinct.sorted
        val diffs = vs.zip(vs.drop(1)).map { case (a, b) => b - a - 1 }
        val nGaps = diffs.count(_ > 0)
        val maxGap = if (diffs.exists(_ > 0)) diffs.max else 0L
        // arrival replay ordered by (arrival, version): count versions
        // strictly below the running max of PRIOR rows
        val ordered = rs.sortBy(r => (r._3, r._2))
        var prevMax = Long.MinValue
        var ooo = 0L
        ordered.foreach { r =>
          if (prevMax != Long.MinValue && r._2 < prevMax) ooo += 1
          prevMax = math.max(prevMax, r._2)
        }
        val (hi, gGaps, gMaxGap, gOoo) = got(key)
        assert(hi == vs.max && gGaps == nGaps && gMaxGap == maxGap &&
          gOoo == ooo, s"seed $seed key $key: got ${got(key)}, " +
          s"want (${vs.max}, $nGaps, $maxGap, $ooo)")
      }
    }
  }
}
