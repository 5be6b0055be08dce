package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{Centrality, Fixpoint}
import graft.operators.Analytics

/** Round-14 additions: transition census, linear attribution, column
  * profile, association rules, WL refinement, Borůvka MSF, densest
  * subgraph — hand-sized inputs with answers checkable by eye. */
class Round14OpsSpec extends SparkSuite {
  import spark.implicits._

  // ---- transitionCensus ----

  test("transitionCensus counts consecutive pairs with exact ppm") {
    // user 1: A B A B → A→B, B→A, A→B; user 2: A A → A→A
    val df = Seq(
      (1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "A"), (1L, 4L, "B"),
      (2L, 1L, "A"), (2L, 2L, "A")).toDF("u", "t", "s")
    val out = Analytics.transitionCensus(df, Seq(col("u")), Seq(col("t")), col("s"))
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(("A", "B")) == (2L, 666666L))
    assert(out(("A", "A")) == (1L, 333333L))
    assert(out(("B", "A")) == (1L, 1000000L))
    assert(out.size == 3)
  }

  // ---- linearAttribution ----

  test("linearAttribution splits value exactly, remainder to earliest") {
    val conv = Seq((7L, 100L, 100L, 1000L)).toDF("k", "cid", "v", "cts")
    val touch = Seq(
      (7L, 1L, "a", 500L),   // in window
      (7L, 2L, "b", 700L),   // in window
      (7L, 3L, "c", 900L),   // in window
      (7L, 4L, "d", 1000L),  // AT conversion ts → excluded (strictly before)
      (7L, 5L, "e", 10L),    // too old (lookback 600)
      (8L, 6L, "f", 900L)    // other key
    ).toDF("k", "tid", "ch", "tts")
    val out = Analytics.linearAttribution(
        conv, col("k"), col("cid"), col("v"), col("cts"),
        touch, col("k"), col("tid"), col("ch"), col("tts"), 600L)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toMap
    // 100 over 3 touches: 34 to the earliest (tid 1), 33, 33
    assert(out == Map(1L -> 34L, 2L -> 33L, 3L -> 33L))
  }

  test("linearAttribution credit re-sums to the conversion value") {
    val conv = Seq((1L, 10L, 997L, 100000L)).toDF("k", "cid", "v", "cts")
    val touch = (1 to 7).map(i => (1L, i.toLong, "ch", 1000L * i))
      .toDF("k", "tid", "ch", "tts")
    val total = Analytics.linearAttribution(
        conv, col("k"), col("cid"), col("v"), col("cts"),
        touch, col("k"), col("tid"), col("ch"), col("tts"), 1000000L)
      .agg(sum("credit")).collect()(0).getLong(0)
    assert(total == 997L)
  }

  // ---- columnProfile ----

  test("columnProfile reports rows, nulls, distinct, min/max per column") {
    val df = Seq(
      (1L, Some("x")), (2L, None), (3L, Some("a")), (3L, Some("x"))
    ).toDF("id", "tag")
    val out = Analytics.columnProfile(df, Seq("id", "tag"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(out("id") == (4L, 0L, 3L, "1", "3"))
    assert(out("tag") == (4L, 1L, 2L, "a", "x"))
  }

  // ---- associationRules ----

  test("associationRules computes support, confidence and lift exactly") {
    val df = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"),
      (3L, "a")).toDF("t", "i")
    val out = Analytics.associationRules(df, col("t"), col("i"), minSupport = 2L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // only (a,b) clears support 2; both orientations emitted
    assert(out.size == 2)
    // a→b: n_ab=2, n_a=3, n_b=2, conf=666666, lift=2*3*1e6/(3*2)=1e6
    assert(out(("a", "b")) == (2L, 3L, 2L, 666666L, 1000000L))
    // b→a: conf = 2/2 = 1e6
    assert(out(("b", "a")) == (2L, 2L, 3L, 1000000L, 1000000L))
  }

  test("associationRules dedups repeated items within a transaction") {
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"))
      .toDF("t", "i")
    val out = Analytics.associationRules(df, col("t"), col("i"), 2L)
      .filter(col("a") === "a" && col("b") === "b").collect()
    assert(out.length == 1 && out(0).getLong(2) == 2L) // n_ab = 2, not 3
  }

  // ---- wlRefine ----

  test("wlRefine separates structural roles on a path") {
    // path 1-2-3: ends equivalent, middle distinct — at every round
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = Fixpoint.wlRefine(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(3L))
    assert(out(1L) != out(2L))
  }

  test("wlRefine distinguishes multiset-identical but count-different hoods") {
    // star K1,3 vs star K1,2: centers differ (3 vs 2 neighbor colors),
    // leaves of BOTH stars share a color (one neighbor that is a center
    // of... no — centers have different colors at round 2, so leaves
    // split at round 3; at round 1 all leaves agree)
    val edges = Seq((10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (20L, 22L)).toDF("src", "dst")
    val r1 = Fixpoint.wlRefine(edges, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(11L) == r1(21L)) // all leaves alike after one round
    assert(r1(10L) != r1(20L)) // centers differ: 3 vs 2 neighbors
    val r2 = Fixpoint.wlRefine(edges, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2(11L) != r2(21L)) // leaves now see different center colors
    assert(r2(11L) == r2(12L)) // same-star leaves always alike
  }

  // ---- minimumSpanningForest ----

  private def msfSet(edges: DataFrame): Set[(Long, Long, Long)] =
    Fixpoint.minimumSpanningForest(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("minimumSpanningForest drops the heaviest cycle edge") {
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (4L, 1L, 9L))
      .toDF("src", "dst", "weight")
    assert(msfSet(edges) == Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L)))
  }

  test("minimumSpanningForest breaks ties by (weight, endpoints)") {
    // equal-weight triangle: (1,2) and (1,3) beat (2,3) in the total order
    val edges = Seq((2L, 3L, 5L), (1L, 3L, 5L), (1L, 2L, 5L))
      .toDF("src", "dst", "weight")
    assert(msfSet(edges) == Set((1L, 2L, 5L), (1L, 3L, 5L)))
  }

  test("minimumSpanningForest spans each component separately") {
    val edges = Seq((1L, 2L, 4L), (2L, 3L, 1L),
      (10L, 11L, 7L)).toDF("src", "dst", "weight")
    assert(msfSet(edges) ==
      Set((1L, 2L, 4L), (2L, 3L, 1L), (10L, 11L, 7L)))
  }

  test("minimumSpanningForest handles chained merges in one round") {
    // a path with increasing weights: every edge is some component's
    // minimum in round 1 → the pointer chain 1→2→3→…→8 must fully
    // contract via pointer jumping, and the MSF is the whole path
    val edges = (1L to 7L).map(i => (i, i + 1, 10L + i))
      .toDF("src", "dst", "weight")
    assert(msfSet(edges) == (1L to 7L).map(i => (i, i + 1, 10L + i)).toSet)
    // a 16-node star-of-paths stress: two rounds needed
    val e2 = ((1L to 15L).map(i => (i, i + 1, 100L - i)) ++
      Seq((1L, 16L, 1L))).toDF("src", "dst", "weight")
    assert(Fixpoint.minimumSpanningForest(e2).count() == 16L - 1)
  }

  test("minimumSpanningForest collapses duplicate edges to min weight") {
    val edges = Seq((1L, 2L, 5L), (2L, 1L, 3L), (2L, 3L, 4L))
      .toDF("src", "dst", "weight")
    assert(msfSet(edges) == Set((1L, 2L, 3L), (2L, 3L, 4L)))
  }

  // ---- densestSubgraph ----

  test("densestSubgraph finds a planted clique against a path fringe") {
    // K8 on 1..8 (density 3.5) + a 30-node path hanging off node 8
    val k8 = for (a <- 1L to 8L; b <- (a + 1) to 8L) yield (a, b)
    val path = (8L until 38L).map(i => (i, i + 1))
    val edges = (k8 ++ path).toDF("src", "dst")
    val out = Centrality.densestSubgraph(edges).collect()
    assert(out.map(_.getLong(0)).toSet == (1L to 8L).toSet)
    assert(out.head.getLong(1) == 8L && out.head.getLong(2) == 28L)
  }

  // ---- ksStatistic ----

  test("ksStatistic is 0 for identical samples and 1 for disjoint ones") {
    val same = Seq((1L, true), (2L, true), (1L, false), (2L, false))
      .toDF("v", "is_a")
    val r1 = Analytics.ksStatistic(same, col("v"), col("is_a")).collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3)) ==
      (2L, 2L, 0L, 4L))
    val disj = Seq((1L, true), (2L, true), (3L, false), (4L, false))
      .toDF("v", "is_a")
    val r2 = Analytics.ksStatistic(disj, col("v"), col("is_a")).collect()(0)
    assert(r2.getLong(2) == 4L && r2.getLong(3) == 4L) // D = 1
  }

  test("ksStatistic matches a hand-computed mixed case") {
    // A = {1,3}, B = {2,3}: max gap at v=1 → |1·2 − 0·2| = 2, den = 4
    val df = Seq((1L, true), (3L, true), (2L, false), (3L, false))
      .toDF("v", "is_a")
    val r = Analytics.ksStatistic(df, col("v"), col("is_a")).collect()(0)
    assert((r.getLong(2), r.getLong(3)) == (2L, 4L))
  }

  // ---- maximalIndependentSet ----

  private def checkMis(edges: Seq[(Long, Long)]): Set[Long] = {
    val df = edges.toDF("src", "dst")
    val mis = Fixpoint.maximalIndependentSet(df).collect()
      .map(_.getLong(0)).toSet
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    // independence: no two MIS nodes adjacent
    assert(!und.exists { case (a, b) => mis(a) && mis(b) })
    // maximality: every non-MIS node has a MIS neighbor
    val nodes = und.map(_._1)
    for (n <- nodes if !mis(n))
      assert(und.exists { case (a, b) => a == n && mis(b) },
        s"node $n has no MIS neighbor")
    mis
  }

  test("maximalIndependentSet is independent, maximal and deterministic") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(checkMis(tri).size == 1)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val m1 = checkMis(path)
    assert(m1 == checkMis(path)) // deterministic run-to-run
    // 40-node random-ish graph: property check only
    val big = (1L to 40L).flatMap(i => Seq((i, i % 40 + 1), (i, (i * 7) % 40 + 1)))
      .filter { case (a, b) => a != b }
    checkMis(big)
  }

  // ---- maximalMatching ----

  private def checkMatching(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val df = edges.toDF("src", "dst")
    val m = Fixpoint.maximalMatching(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // disjointness: no node appears twice
    val ends = m.toSeq.flatMap(e => Seq(e._1, e._2))
    assert(ends.distinct.size == ends.size)
    // maximality: every input edge touches a matched node
    val matchedNodes = ends.toSet
    for ((a, b) <- edges if a != b)
      assert(matchedNodes(a) || matchedNodes(b), s"edge ($a,$b) unmatched")
    m
  }

  test("maximalMatching is disjoint, maximal and deterministic") {
    assert(checkMatching(Seq((1L, 2L))) == Set((1L, 2L)))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val m1 = checkMatching(path)
    assert(m1 == checkMatching(path))
    // a path always matches ceil-half rounded down pairs at least 2
    assert(m1.size >= 2)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    assert(checkMatching(star).size == 1) // star matches exactly one edge
  }

  // ---- timeWeightedAverage ----

  test("timeWeightedAverage holds each value until the next observation") {
    val df = Seq(
      (1L, 0L, 10L), (1L, 100L, 20L), (1L, 300L, 5L), // gaps 100, 200
      (2L, 50L, 99L)                                   // lone observation
    ).toDF("u", "t", "v")
    val out = Analytics.timeWeightedAverage(df, Seq(col("u")), col("t"),
        col("v")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (10L * 100 + 20L * 200, 300L))
    assert(out(2L) == (0L, 0L))
  }

  // ---- greedyColoring ----

  private def checkColoring(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = edges.toDF("src", "dst")
    val cols = Fixpoint.greedyColoring(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((a, b) <- edges if a != b)
      assert(cols(a) != cols(b), s"edge ($a,$b) same color ${cols(a)}")
    val deg = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e._1, e._2)).groupBy(identity).map(_._2.size).max
    assert(cols.values.max <= deg, "more than maxdeg+1 colors used")
    cols
  }

  test("greedyColoring is proper, bounded and deterministic") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(checkColoring(tri).values.toSet == Set(0L, 1L, 2L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val c1 = checkColoring(path)
    assert(c1 == checkColoring(path))
    // star: center one color, all leaves another
    val star = (2L to 9L).map(i => (1L, i))
    val cs = checkColoring(star)
    assert(cs.filterNot(_._1 == 1L).values.toSet.size == 1)
    // denser random-ish graph: property check only
    val big = (1L to 40L).flatMap(i =>
      Seq((i, i % 40 + 1), (i, (i * 7) % 40 + 1), (i, (i * 13) % 40 + 1)))
      .filter { case (a, b) => a != b }
    checkColoring(big)
  }

  // ---- slidingWindowCounts (batch semantics) ----

  test("slidingWindowCounts lands each event in windowLen/slide windows") {
    val df = Seq(
      ("2024-01-01 10:25:00", "click", 1.0),
      ("2024-01-01 10:45:00", "click", 2.0)
    ).toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"),
        col("value"))
    val out = graft.streaming.Streaming
      .slidingWindowCounts(df, "ts", "1 hour", "20 minutes", "2 hours")
      .collect()
    // event 1 → windows starting 09:40, 10:00, 10:20;
    // event 2 → 10:00, 10:20, 10:40 → 10:00/10:20 hold both
    assert(out.map(_.getLong(2)).sum == 6L) // 3 window memberships each
    val both = out.filter(_.getLong(2) == 2L)
    assert(both.length == 2)
  }

  // ---- cusumAlarm ----

  test("cusumAlarm matches the closed-form prefix identity by hand") {
    // mean 5; deviations -5,-5,-5,+5,+5,+5 → S = 0,0,0,5,10,15
    val df = (1 to 6).map(i => ("a", i.toLong, if (i <= 3) 0L else 10L))
      .toDF("k", "t", "v")
    val out = Analytics.cusumAlarm(df, Seq("k"), Seq(col("t")), col("v"), 8L)
      .orderBy("t").collect()
      .map(r => (r.getAs[Long]("cusum"), r.getAs[Boolean]("is_alarm")))
    assert(out.map(_._1).toSeq == Seq(0L, 0L, 0L, 5L, 10L, 15L))
    assert(out.map(_._2).toSeq == Seq(false, false, false, false, true, true))
  }

  test("cusumAlarm resets after a dip (max(0, ...) semantics)") {
    // mean 0; values 4,-9,4,4: P = 4,-5,-1,3; minP = 4?→ no: running
    // min of P = 4,-5,-5,-5 → S = P - min(0, minP) = 4,0,4,8
    val df = Seq(("a", 1L, 4L), ("a", 2L, -9L), ("a", 3L, 4L), ("a", 4L, 1L))
      .toDF("k", "t", "v")
    val out = Analytics.cusumAlarm(df, Seq("k"), Seq(col("t")), col("v"), 100L)
      .orderBy("t").collect().map(_.getAs[Long]("cusum")).toSeq
    assert(out == Seq(4L, 0L, 4L, 5L))
  }

  // ---- randomWalks ----

  test("randomWalks stay on edges, are deterministic, stop at dead ends") {
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val starts = Seq((100L, 1L), (200L, 3L)).toDF("walk_id", "node")
    val run1 = Fixpoint.randomWalks(sym, starts, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val run2 = Fixpoint.randomWalks(sym, starts, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run1 == run2)                       // deterministic
    assert(run1.count(_._1 == 100L) == 5)      // full-length walk
    val edgeSet = Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L))
    for (w <- Seq(100L, 200L)) {
      val path = run1.filter(_._1 == w).toSeq.sortBy(_._2).map(_._3)
      path.sliding(2).foreach {
        case Seq(a, b) => assert(edgeSet((a, b)), s"walk $w jumped $a->$b")
        case _ =>
      }
    }
    // directed dead end: 1→2, nothing out of 2 → walk emits 2 rows
    val dir = Seq((1L, 2L)).toDF("src", "dst")
    val one = Fixpoint.randomWalks(dir, Seq((9L, 1L)).toDF("walk_id", "node"), 4)
    assert(one.count() == 2)
  }

  // ---- kAnonymityViolations ----

  test("kAnonymityViolations lists exactly the violating classes") {
    val df = Seq(
      ("US", "A", 1L), ("US", "A", 2L), ("US", "A", 3L), // size 3, 3 values → OK
      ("US", "B", 5L), ("US", "B", 5L), ("US", "B", 5L), // size 3, 1 value → l-violation
      ("DE", "A", 7L)                                     // size 1 → k-violation
    ).toDF("country", "seg", "salary")
    val out = graft.stats.DataQuality.kAnonymityViolations(
        df, Seq("country", "seg"), "salary", k = 2L, l = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out == Set(("US", "B", 3L, 1L), ("DE", "A", 1L, 1L)))
  }

  // ---- skewReport ----

  test("skewReport ranks heavy keys with exact shares and salt factors") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val out = graft.graph.Skew.skewReport(df, col("k"), parallelism = 5,
        topK = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("a", 6L, 600000L, 3L),  // ceil(6·5/10) = 3-way salt
      ("b", 3L, 300000L, 2L)))
  }

  // ---- similarityHistogram ----

  test("similarityHistogram lands identical/orthogonal/opposite pairs in ±10/0") {
    import graft.similarity.Similarity
    // ids 0..3: two identical, one orthogonal, one opposite of vec 0
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.similarityHistogram(Similarity.quantized(emb))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every pair's squared cosine is exactly 0 or 1e6: only buckets
    // -10, 0, 10 can appear, and the counts cover all non-self pairs
    assert(out.keySet.subsetOf(Set(-10L, 0L, 10L)))
    assert(out.values.sum >= 2)
  }

  // ---- cdcChunks ----

  test("cdcChunks boundaries move with content: shared passage re-syncs") {
    val passage = (1 to 40).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, "alpha beta " + passage),
      (2L, "x y z w q r s t u v " + passage)).toDF("doc_id", "text")
    val chunks = graft.text.TextFunctions.cdcChunks(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every token lands in exactly one chunk
    assert(chunks.filter(_._1 == 1L).map(_._3).sum == 42L)
    assert(chunks.filter(_._1 == 2L).map(_._3).sum == 50L)
    // the defining CDC property: despite different offsets, the two docs
    // share chunk signatures once the rolling hash re-syncs inside the
    // common passage (fixed-width windows would share nothing)
    val sigs1 = chunks.filter(_._1 == 1L).map(_._4).toSet
    val sigs2 = chunks.filter(_._1 == 2L).map(_._4).toSet
    assert((sigs1 & sigs2).nonEmpty)
    // chunk ids are dense from 0
    val idx1 = chunks.filter(_._1 == 1L).map(_._2).sorted.toSeq
    assert(idx1 == (0L until idx1.length).toSeq)
  }

  // ---- audioFeatures ----

  test("audioFeatures computes exact PCM-stub statistics") {
    import graft.multimodal.Multimodal
    // bytes 100, 90, 100 → samples +4, −6, +4: two sign changes,
    // sum |s| = 14, peak 6
    val media = Seq(Multimodal.MediaRecord(1L, Array[Byte](100, 90, 100), "t"),
      Multimodal.MediaRecord(2L, Array[Byte](96), "t")) // sample 0 → non-negative
      .toDS()
    val out = Multimodal.audioFeatures(media).collect()
      .map(f => f.media_id -> (f.n_samples, f.sum_abs, f.n_sign_changes,
        f.peak_abs)).toMap
    assert(out(1L) == (3L, 14L, 2L, 6L))
    assert(out(2L) == (1L, 0L, 0L, 0L))
  }

  // ---- rakeKeywords ----

  test("rakeKeywords scores phrases by exact degree/frequency sums") {
    // "red fox | red fox jumps": freq red=2 fox=2 jumps=1;
    // degree red=5 fox=5 jumps=3 → wscores 2.5M, 2.5M, 3M;
    // "red fox jumps" = 8M beats "red fox" = 5M
    val docs = Seq((1L, "red fox the red fox jumps")).toDF("doc_id", "text")
    val out = graft.text.TextFunctions.rakeKeywords(docs, "doc_id", "text",
        Seq("the"), topK = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("red fox jumps", 1L, 3L, 8000000L),
      ("red fox", 1L, 2L, 5000000L)))
  }

  // ---- downsampleLttb ----

  test("downsampleLttb keeps endpoints and spikes") {
    // 100 flat points with one spike at t=55: bucket 0 keeps t=0,
    // bucket 3 keeps t=99, bucket 2 keeps the spike, bucket 1 keeps the
    // point farthest from the centroid line (t=49 by the exact area)
    val pts = (0L until 100L).map(t => ("s", t, if (t == 55L) 1000L else 0L))
      .toDF("k", "t", "v")
    val out = Analytics.downsampleLttb(pts, Seq("k"), col("t"), col("v"), 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out(0L) == 0L)   // first bucket → earliest point
    assert(out(3L) == 99L)  // last bucket → latest point
    assert(out(2L) == 55L)  // spike survives
    assert(out(1L) == 49L)  // max |12−t|·40 area in the flat bucket
  }

  // ---- coreness ----

  test("coreness labels fringe, clique and bridge levels exactly") {
    // path 1-2-3 (coreness 1) + K4 {10,11,12,13} (coreness 3), bridged
    // 3-10: the bridge changes nothing (degree-1 attachment)
    val k4 = for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 10L)) ++ k4).toDF("src", "dst")
    val out = Centrality.coreness(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    assert((10L to 13L).forall(out(_) == 3L))
    // a triangle-with-tail: triangle 2-core, tail 1-core
    val t = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val o2 = Centrality.coreness(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
  }

  // ---- neighborhoodFunction ----

  test("neighborhoodFunction is monotone and converges at the diameter") {
    // path 1-2-3-4 symmetrized: diameter 3 → the register sum stops
    // growing after round 3 (every ball is the whole component)
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val sym = (p ++ p.map(_.swap)).toDF("src", "dst")
    val out = Centrality.neighborhoodFunction(sym, rounds = 5, nRegisters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 to 4).forall(t => out(t.toLong) <= out(t.toLong + 1)))
    assert(out(0L) < out(3L))         // balls genuinely grow
    assert(out(3L) == out(5L))        // converged at the diameter
    // at convergence every node holds the same (global-max) registers:
    // the sum must be divisible by the node count
    assert(out(5L) % 4 == 0)
  }

  // ---- condensationEdges ----

  test("condensationEdges collapses cycles and keeps the DAG skeleton") {
    // ring {1,2,3} → comp 3; ring {4,5} → comp 5; two edges 3→4 and
    // 3→5 collapse to ONE quotient edge (3, 5)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 4L), (3L, 4L), (3L, 5L)).toDF("src", "dst")
    val out = Fixpoint.condensationEdges(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((3L, 5L)))
  }

  // ---- featureHash ----

  test("featureHash is deterministic and occurrence-additive") {
    val docs = Seq((1L, "alpha"), (2L, "alpha alpha"), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    val out = graft.text.TextFunctions.featureHash(docs, "doc_id", "text", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val d1 = out.filter(_._1._1 == 1L)
    assert(d1.size == 1 && math.abs(d1.head._2) == 1L)
    val (dim, w) = (d1.head._1._2, d1.head._2)
    assert(out((2L, dim)) == 2 * w) // two occurrences double the weight
    assert(out((3L, dim)) == w)     // beta lands in its own dim (w.h.p.)
    assert(out.count(_._1._1 == 3L) == 2)
  }

  test("densestSubgraph keeps round 0 when nothing beats the full graph") {
    // a triangle peels whole in round 1 (deg·V = 9 ≤ 4·E = 12):
    // best stays the full graph
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val out = Centrality.densestSubgraph(edges).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(out.head.getLong(1) == 3L && out.head.getLong(2) == 3L)
  }
}
