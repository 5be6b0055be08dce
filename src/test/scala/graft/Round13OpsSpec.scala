package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Analytics
import graft.text.Sketches

/** Round-13 additions: Misra–Gries heavy hitters and the Analytics gate
  * battery edge cases — hand-sized inputs where counters and cohort
  * cells are checkable by eye. */
class Round13OpsSpec extends SparkSuite {
  import spark.implicits._

  test("mgSummaries keeps at most k counters per partition") {
    val df = (1 to 1000).map(i => s"key${i % 37}").toDF("k").repartition(3)
    val perPart = Sketches.mgSummaries(df, "k", 5)
    // 3 partitions × ≤5 counters
    assert(perPart.count() <= 15)
  }

  test("heavyHitters finds exactly the keys above n/(k+1), with exact counts") {
    // 16 a, 8 b, 4 c, 4 d; n = 32; k = 2 → threshold n/3 = 10.67:
    // only a (16) clears it; b at 8 must NOT appear even if it stays a
    // candidate.
    val rows = Seq.fill(16)("a") ++ Seq.fill(8)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(4)("d")
    val df = rows.toDF("k").repartition(4)
    val hh = Sketches.heavyHitters(df, "k", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(hh.toSeq == Seq(("a", 16L, 32L)))
  }

  test("heavyHitters guarantee survives adversarial partitioning") {
    // single skewed key diluted by 60 distinct fillers, 8 partitions:
    // hot carries 80 of 140 rows; k = 4 → threshold 28
    val rows = Seq.fill(80)("hot") ++ (1 to 60).map(i => s"f$i")
    val df = rows.toDF("k").repartition(8)
    val hh = Sketches.heavyHitters(df, "k", 4).collect()
    assert(hh.map(_.getString(0)).toSeq == Seq("hot"))
    assert(hh.head.getLong(1) == 80L && hh.head.getLong(2) == 140L)
  }

  test("allPairsJaccard equals brute-force exact Jaccard at the threshold") {
    // hand sets: A~B at 3/5 = 0.6, C disjoint, D == A (J = 1.0),
    // E subset of A but too small to clear the length filter at t=0.5
    val shingled = Seq(
      (1L, Seq(1L, 2L, 3L, 4L)),
      (2L, Seq(1L, 2L, 3L, 5L)),
      (3L, Seq(10L, 11L, 12L)),
      (4L, Seq(1L, 2L, 3L, 4L)),
      (5L, Seq(1L))).toDF("doc_id", "shingles")
    val got = graft.dedup.Dedup.allPairsJaccard(shingled, 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 600000L, (1L, 4L) -> 1000000L,
      (2L, 4L) -> 600000L))
  }

  test("allPairsJaccard finds cross-block pairs blockedJaccard misses") {
    // same trailing content, different two leading tokens → different
    // blocks for blockedJaccard; Jaccard of shingle sets still high
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "omega psi gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val shingled = graft.dedup.Dedup.shingleTable(docs, "doc_id", "text")
    val blocked = graft.dedup.Dedup.blockedJaccard(shingled, 300000L).count()
    val allp = graft.dedup.Dedup.allPairsJaccard(shingled, 300000L).count()
    assert(blocked == 0L)
    assert(allp == 1L)
  }

  test("retentionCohorts counts distinct users per (cohort, offset) cell") {
    val ev = Seq((1L, 0L), (1L, 0L), (1L, 2L), (2L, 0L), (2L, 1L), (3L, 1L))
      .toDF("u", "pd")
    val r = Analytics.retentionCohorts(ev, "u", col("pd"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    // cohort 0: users 1,2 at offset 0; user 1 at +2; user 2 at +1
    assert(r((0L, 0L)) == 2L && r((0L, 1L)) == 1L && r((0L, 2L)) == 1L)
    // cohort 1: user 3 only
    assert(r((1L, 0L)) == 1L)
    assert(r.size == 4)
  }

  test("targetEncodeOof excludes the row's own fold and nulls single-fold cats") {
    val df = Seq(("x", 0L, 10L), ("x", 0L, 20L), ("x", 1L, 40L),
      ("y", 0L, 7L)).toDF("cat", "fold", "t")
    val enc = Analytics.targetEncodeOof(df, "cat", col("fold"), col("t"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(enc(("x", 0L)) == Some(40L)) // sees only fold 1's 40
    assert(enc(("x", 1L)) == Some(15L)) // (10+20) div 2
    assert(enc(("y", 0L)) == None)      // no other fold to learn from
  }

  test("rollingAnomaly flags a spike and leaves the baseline unjudged") {
    val vals = Seq.fill(10)(100L) :+ 100000L
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("series", "seq", "v")
    val out = Analytics.rollingAnomaly(df, Seq(col("series")), Seq(col("seq")),
        col("v"), lookback = 10, minBaseline = 5, k = 3)
      .orderBy(col("seq")).collect()
    // first 5 rows: baseline too thin → NULL
    assert(out.take(5).forall(_.isNullAt(out.head.fieldIndex("is_anomaly"))))
    // flat middle: not anomalous
    assert(out.slice(5, 10).forall(!_.getBoolean(out.head.fieldIndex("is_anomaly"))))
    // the spike: anomalous
    assert(out.last.getBoolean(out.head.fieldIndex("is_anomaly")))
  }

  test("tvdDrift is 0 for identical sides and 1e6 for disjoint sides") {
    val same = Seq((1L, true), (1L, false), (2L, true), (2L, false))
      .toDF("bin", "is_a")
    val r1 = Analytics.tvdDrift(same, col("bin"), col("is_a")).collect().head
    assert(r1.getLong(2) == 0L)
    val disjoint = Seq((1L, true), (2L, false)).toDF("bin", "is_a")
    val r2 = Analytics.tvdDrift(disjoint, col("bin"), col("is_a")).collect().head
    assert(r2.getLong(2) == 1000000L)
  }

  test("rectangleCensus counts K4's three 4-cycles twice each via diagonals") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val out = graft.graph.Centrality.rectangleCensus(k4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // every pair has exactly 2 common neighbors -> 1 rectangle per diagonal
    assert(out.size == 6 && out.values.forall(_ == ((2L, 1L))))
    // sum over diagonals = 6 = 2 x the 3 distinct 4-cycles of K4
  }

  test("rectangleCensus: pure star has no rectangles, 4-cycle has one") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    assert(graft.graph.Centrality.rectangleCensus(star).count() == 0L)
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val out = graft.graph.Centrality.rectangleCensus(c4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == Set((1L, 3L, 2L, 1L), (2L, 4L, 2L, 1L)))
  }

  test("doubleSweepDiameter is exact on a path graph") {
    // path 1-2-3-4-5-6: diameter 5; sweep from node 1 finds node 6
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val r = graft.graph.Centrality.doubleSweepDiameter(path, maxDepth = 10)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((6L, 5L, 5L)))
  }

  test("sessionizeGaps splits on gap and is contiguous within sessions") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1L), (1L, "2024-01-01 00:10:00", 2L),
      (1L, "2024-01-01 01:10:00", 3L), // 60 min gap -> new session
      (2L, "2024-01-01 00:00:00", 4L))
      .toDF("user_id", "ts_s", "event_id")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val out = graft.operators.Temporal.sessionizeGaps(ev, Seq("user_id"), "ts",
        Seq("event_id"), gapMicros = 1800L * 1000000L)
      .select(col("event_id"), col("session_idx"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("paretoFrontier2d keeps non-dominated rows including ties on both axes") {
    val df = Seq((1L, 5L, 1L), (2L, 3L, 3L), (3L, 1L, 5L),
      (4L, 3L, 2L), // dominated by row 2
      (5L, 3L, 3L)  // exact tie with row 2: both stay
    ).toDF("id", "x", "y")
    val got = graft.operators.Analytics.paretoFrontier2d(df, col("x"), col("y"))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 5L))
  }

  test("blockDiff equals the plain content diff; equal snapshots diff empty") {
    val a = Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "z", 30L))
      .toDF("k", "name", "bal")
    val b = Seq((1L, "x", 10L), (2L, "y", 25L), (4L, "w", 40L))
      .toDF("k", "name", "bal")
    val got = graft.drift.Drift.blockDiff(a, b, "k", Seq("name", "bal"), 8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("2", "added"), ("4", "added"), ("2", "removed"),
      ("3", "removed")))
    assert(graft.drift.Drift.blockDiff(a, a, "k", Seq("name", "bal"), 8)
      .count() == 0L)
  }

  test("scanClusters: two triangles bridged by a hub classify core/hub/outlier") {
    // triangles {1,2,3} and {4,5,6}; node 10 bridges 1 and 4; pendant 11 on 10
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (10L, 1L), (10L, 4L), (10L, 11L)).toDF("src", "dst")
    val out = graft.graph.Fixpoint.scanClusters(g, epsX1e3 = 600L, mu = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    // triangle members: sigma within a triangle is high -> cores, two clusters
    Seq(1L, 2L, 3L).foreach(n => assert(out(n) == (("core", 1L)), s"node $n"))
    Seq(4L, 5L, 6L).foreach(n => assert(out(n) == (("core", 4L)), s"node $n"))
    // 10 is adjacent to both clusters but similar to neither -> hub
    assert(out(10L)._1 == "hub")
    // 11 touches only the hub -> outlier
    assert(out(11L)._1 == "outlier")
    assert(out.size == 8)
  }

  test("scanClusters attaches a border node to its smallest candidate cluster") {
    // K4 {1,2,3,4} plus node 9 linked to 1 and 2: sigma(9,1)^2 =
    // (1+2)^2/(3*6) = 0.5 and sigma(1,3)^2 = (2+2)^2/36 = 0.444 — at
    // eps = 0.65 (eps^2 = 0.4225) every edge is similar; K4 members
    // reach mu = 4 eps-neighbors+self, node 9 only 3 -> border, attached
    // to the K4 cluster
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (9L, 1L), (9L, 2L)).toDF("src", "dst")
    val out = graft.graph.Fixpoint.scanClusters(g, epsX1e3 = 650L, mu = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    Seq(1L, 2L, 3L, 4L).foreach(n => assert(out(n)._1 == "core"))
    assert(out(9L) == (("border", 1L)))
  }

  test("ewmaHalf matches the closed form on a hand series") {
    // series 4, 8, 12 with lookback 4: num_3 = 12*4 + 8*2 + 4*1 = 68, n=3
    val df = Seq((1L, 1L, 4L), (1L, 2L, 8L), (1L, 3L, 12L))
      .toDF("g", "seq", "v")
    val out = graft.operators.Analytics.ewmaHalf(df, Seq(col("g")),
        Seq(col("seq")), col("v"), lookback = 4)
      .orderBy(col("seq")).collect()
      .map(r => (r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 4L), (2L, 20L), (3L, 68L)))
    // ewma_3 = 68 / 2^3 = 8.5 = 12/2 + 8/4 + 4/8 exact
  }

  test("cmsJoinCardinality upper-bounds and approximates the true join size") {
    val a = (1 to 200).map(i => (s"k${i % 50}", 1L)).toDF("k", "n")
      .groupBy("k").agg(sum("n").as("n"))
    val b = (1 to 100).map(i => (s"k${i % 25}", 1L)).toDF("k", "n")
      .groupBy("k").agg(sum("n").as("n"))
    val sa = graft.text.Sketches.countMinSketch(a, "k", "n", 4, 64)
    val sb = graft.text.Sketches.countMinSketch(b, "k", "n", 4, 64)
    val est = graft.text.Sketches.cmsJoinCardinality(sa, sb)
      .collect().head.getLong(0)
    // true: 25 shared keys x 4 x 4 = 400; CMS estimate never underestimates
    assert(est >= 400L && est <= 800L)
  }

  test("bfsPathCounts sums parent sigmas per level on a braided diamond") {
    // 1->{2,3}->4->5 plus direct 1->4: dist(4)=1 via the shortcut, so
    // the two 2-hop routes do NOT count; 5 inherits sigma from 4 only
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (1L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = graft.graph.Fixpoint.bfsPathCounts(e, seeds, maxDepth = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> ((0L, 1L)), 2L -> ((1L, 1L)), 3L -> ((1L, 1L)),
      4L -> ((1L, 1L)), 5L -> ((2L, 1L))))
    // without the shortcut, 4 gets two shortest paths
    val e2 = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val out2 = graft.graph.Fixpoint.bfsPathCounts(e2, seeds, maxDepth = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out2(4L) == ((2L, 2L)))
  }

  test("cooccurrencePmi counts windowed unordered pairs with exact ratios") {
    // "a b c a": window 2 -> pairs (a,b),(a,c),(b,c),(a,b backwards
    // canonicalized),(a,c? c-a dist 1) ... enumerate: (1,2)=ab,
    // (1,3)=ac, (2,3)=bc, (2,4)=ab, (3,4)=ac -> ab:2 ac:2 bc:1
    val docs = Seq((1L, "a b c a")).toDF("doc_id", "text")
    val out = graft.text.TextFunctions.cooccurrencePmi(docs, "doc_id", "text",
        window = 2, minPair = 1L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // margins over pair table: a: 2+2=4, b: 2+1=3, c: 2+1=3; N = 5
    // ratio(ab) = 2*5*1e6 div (4*3) = 833333; (ac) same; (bc) = 5e6 div 9
    assert(out == Map(("a", "b") -> ((2L, 833333L)), ("a", "c") -> ((2L, 833333L)),
      ("b", "c") -> ((1L, 555555L))))
  }

  test("qualityReferential flags orphans only where parents are missing") {
    import graft.queries.MetricsQueries
    val r = MetricsQueries.qualityReferential(spark, "/root/testdata/sf0.001")
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    // the synthetic warehouse is referentially intact across all 8 FK
    // edges — the audit's value is proving that in one report (and the
    // operator's orphan arithmetic is covered by the construction: a
    // missing parent key would flip n_orphans, breaking the oracle hash)
    assert(r.size == 8)
    assert(r.values.forall(_._2 == 0L))
    assert(r("events_customer")._1 == 1000L)
    assert(r("lineitem_orders")._1 > 0L)
  }

  test("maintainAgg equals full recompute and drops emptied groups") {
    import graft.operators.Changelog
    val base = Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("k", "v")
    val snap = Changelog.aggregate(base, Seq("k"), Seq("v"))
    // delete both of a's rows, insert one for c
    val delta = Seq(("a", 10L, -1L), ("a", 20L, -1L), ("c", 7L, 1L))
      .toDF("k", "v", "mult")
    val out = Changelog.maintainAgg(snap, delta, Seq("k"), "mult", Seq("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map("b" -> ((1L, 5L)), "c" -> ((1L, 7L))))
  }

  test("backoffCoverage classifies tokens at the highest covering level") {
    val train = Seq((0L, "a b c d")).toDF("doc_id", "text")
    // test doc "a b c x": pos3 'c' has trigram (a,b,c) in train -> tri;
    // pos4 'x': trigram (b,c,x) absent, bigram (c,x) absent, 'x' OOV
    // second test doc "b c d d": (b,c,d) tri hit; (c,d,d): no tri, no
    // bigram (d,d), but 'd' in vocab -> uni
    val test = Seq((1L, "a b c x"), (3L, "b c d d"), (5L, "a b"))
      .toDF("doc_id", "text")
    val out = graft.text.TextFunctions.backoffCoverage(train, test, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == ((2L, 1L, 0L, 0L, 1L)))
    assert(out(3L) == ((2L, 1L, 0L, 1L, 0L)))
    assert(out(5L) == ((0L, 0L, 0L, 0L, 0L))) // under 3 tokens: unscored
  }

  test("intervalMaxConcurrency honors half-open touch and counts overlap") {
    // [0,10) [5,15) overlap -> 2; [15,20) starts exactly when [5,15)
    // ends -> no overlap; key b single interval -> 1
    val df = Seq(("a", 0L, 10L), ("a", 5L, 15L), ("a", 15L, 20L),
      ("b", 0L, 1L)).toDF("k", "s", "e")
    val out = graft.operators.Temporal
      .intervalMaxConcurrency(df, Seq("k"), "s", "e")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 2L, "b" -> 1L))
  }

  test("tokenBudget allocates proportionally to sqrt mass") {
    val df = Seq(("a", 100L), ("b", 400L)).toDF("source", "tokens")
    val out = Analytics.tokenBudget(df, "source", col("tokens"), budget = 300L)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    // weights 10 and 20 → 100 and 200 tokens
    assert(out("a") == ((100L, 1000000L)))
    assert(out("b") == ((200L, 500000L)))
  }
}
