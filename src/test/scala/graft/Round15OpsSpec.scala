package graft

import org.apache.spark.sql.functions._

import graft.graph.Paths
import graft.operators.{Analytics, Spatial}
import graft.text.{Sketches, TextFunctions}

/** Round-15 additions: s–t betweenness counts, DAG layering, bipartite
  * projection, chi², Gini, KMV set ops, postings cosine, vocab growth,
  * grid nearest — hand-sized inputs with answers checkable by eye. */
class Round15OpsSpec extends SparkSuite {
  import spark.implicits._

  // ---- stBetweenness ----

  test("stBetweenness multiplies forward and backward path counts") {
    // diamond + tail: 1→{2,3}→4→5; two shortest 1→5 paths share 1,4,5
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val out = Paths.stBetweenness(e, 1L, 5L, maxDepth = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (0L, 2L)) // endpoints carry total path count
    assert(out(2L) == (1L, 1L))
    assert(out(3L) == (1L, 1L))
    assert(out(4L) == (2L, 2L))
    assert(out(5L) == (3L, 2L))
    assert(out.size == 5)
  }

  test("stBetweenness drops nodes off every shortest path") {
    // 1→2→4 (short) vs 1→3→5→4 (long): 3 and 5 are off-path
    val e = Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 5L), (5L, 4L))
      .toDF("src", "dst")
    val nodes = Paths.stBetweenness(e, 1L, 4L, maxDepth = 8)
      .collect().map(_.getLong(0)).toSet
    assert(nodes == Set(1L, 2L, 4L))
  }

  test("stBetweenness is empty when t is unreachable") {
    val e = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    assert(Paths.stBetweenness(e, 1L, 4L, maxDepth = 4).count() == 0L)
  }

  // ---- topoLevels ----

  test("topoLevels takes the LONGEST path, not the shortest") {
    // 1→2→3 plus shortcut 1→3: level(3) = 2
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val out = Paths.topoLevels(e, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("topoLevels throws on a cycle instead of spinning") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Paths.topoLevels(e, maxRounds = 5)
    }
    assert(ex.getMessage.contains("cycle"))
  }

  // ---- bipartiteProject ----

  test("bipartiteProject counts shared lefts, ordered pairs only") {
    val a = Seq(("L1", "a"), ("L1", "b"), ("L1", "c"),
      ("L2", "a"), ("L2", "b"), ("L3", "b"), ("L3", "c"),
      ("L2", "a") /* duplicate association collapses */)
      .toDF("l", "r")
    val out = Paths.bipartiteProject(a, "l", "r", minShared = 2L, maxDegree = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("a", "b") -> 2L, ("b", "c") -> 2L)) // (a,c) has 1
  }

  test("bipartiteProject fails loudly past maxDegree") {
    val a = (1 to 5).map(i => ("hub", s"r$i")).toDF("l", "r")
    val ex = intercept[Exception] {
      Paths.bipartiteProject(a, "l", "r", 1L, maxDegree = 4).collect()
    }
    assert(ex.getMessage.contains("maxDegree"))
  }

  // ---- chiSquareCells ----

  test("chiSquareCells matches the hand-computed 2x2 contingency") {
    // observed: (r1,c1)=10 (r1,c2)=20 (r2,c1)=30 (r2,c2)=40; N=100
    val rows =
      Seq.fill(10)(("r1", "c1")) ++ Seq.fill(20)(("r1", "c2")) ++
        Seq.fill(30)(("r2", "c1")) ++ Seq.fill(40)(("r2", "c2"))
    val out = Analytics.chiSquareCells(rows.toDF("r", "c"), col("r"), col("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // r1 tot 30, r2 tot 70, c1 tot 40, c2 tot 60
    // (10*100-30*40)^2*1e6/(30*40*100)  = 200^2*1e6/120000  = 333333
    assert(out(("r1", "c1")) == (10L, 333333L))
    // (20*100-30*60)^2*1e6/(30*60*100)  = 200^2*1e6/180000  = 222222
    assert(out(("r1", "c2")) == (20L, 222222L))
    // (30*100-70*40)^2*1e6/(70*40*100)  = 200^2*1e6/280000  = 142857
    assert(out(("r2", "c1")) == (30L, 142857L))
    // (40*100-70*60)^2*1e6/(70*60*100)  = 200^2*1e6/420000  = 95238
    assert(out(("r2", "c2")) == (40L, 95238L))
  }

  // ---- giniByGroup ----

  test("giniByGroup: hand values, uniform group, zero-total group") {
    val df = Seq(
      ("g1", 1L, 1L), ("g1", 2L, 2L), ("g1", 3L, 3L), ("g1", 4L, 4L),
      ("g2", 5L, 1L), ("g2", 5L, 2L),
      ("g3", 0L, 1L), ("g3", 0L, 2L)).toDF("g", "v", "id")
    val out = Analytics.giniByGroup(df, col("g"), col("v"), col("id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // g1: S=10, Σi·x=30 → (60-50)*1e6/(4*10) = 250000
    assert(out("g1") == (4L, 10L, 250000L))
    assert(out("g2") == (2L, 10L, 0L)) // perfectly equal
    assert(out("g3") == (2L, 0L, 0L))  // vacuous, not NULL/crash
  }

  test("giniByGroup refuses negative values") {
    val df = Seq(("g", -1L, 1L)).toDF("g", "v", "id")
    val ex = intercept[Exception] {
      Analytics.giniByGroup(df, col("g"), col("v"), col("id")).collect()
    }
    assert(ex.getMessage.contains("negative"))
  }

  // ---- kmvSetOps ----

  test("kmvSetOps is exact when both sides fit in the sample") {
    val a = (1 to 10).map(_.toString).toDF("v")
    val b = (6 to 15).map(_.toString).toDF("v")
    val r = Sketches.kmvSetOps(a, b, "v", k = 64).collect().head
    assert(r.getLong(1) == 15L) // union 1..15
    assert(r.getLong(2) == 5L)  // intersection 6..10
  }

  test("kmvSetOps estimates within 3x at k=64 on 2000-element sets") {
    val a = (1 to 2000).map(_.toString).toDF("v")
    val b = (1001 to 3000).map(_.toString).toDF("v")
    val r = Sketches.kmvSetOps(a, b, "v", k = 64).collect().head
    val (u, i) = (r.getLong(1), r.getLong(2))
    assert(u > 1000 && u < 9000, s"union est $u vs true 3000")
    assert(i >= 0 && i < 3000, s"inter est $i vs true 1000")
  }

  // ---- cosinePostingsTopK ----

  test("cosinePostingsTopK: identical docs score exactly 1e6 ppm") {
    val tf = Seq(
      (1L, "x", 2L), (1L, "y", 1L),
      (2L, "x", 2L), (2L, "y", 1L), // doc 2 ≡ doc 1
      (3L, "z", 5L)).toDF("doc_id", "term", "tf")
    val out = TextFunctions.cosinePostingsTopK(tf, dfCap = 10L, k = 5).collect()
    assert(out.length == 1) // doc 3 shares no term with anyone
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getLong(3) == 1000000L)
  }

  test("cosinePostingsTopK drops terms above dfCap from the index") {
    // "hot" is in all 3 docs; with dfCap=2 only "rare" links 1 and 2
    val tf = Seq(
      (1L, "hot", 1L), (2L, "hot", 1L), (3L, "hot", 1L),
      (1L, "rare", 1L), (2L, "rare", 1L)).toDF("doc_id", "term", "tf")
    val out = TextFunctions.cosinePostingsTopK(tf, dfCap = 2L, k = 10).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(out.head.getLong(3) == 1000000L) // both vectors = {rare: w}
  }

  // ---- vocabGrowth ----

  test("vocabGrowth: monotone curve, exact totals at decile 10") {
    val terms = Seq(
      (1L, "a"), (1L, "b"), (1L, "a"),
      (2L, "b"), (2L, "c"),
      (3L, "d")).toDF("doc_id", "term")
    val rows = TextFunctions.vocabGrowth(terms)
      .orderBy("decile").collect()
    val last = rows.last
    assert(last.getLong(0) == 10L)
    assert(last.getLong(1) == 3L) // all docs
    assert(last.getLong(2) == 6L) // all occurrences
    assert(last.getLong(3) == 4L) // vocab {a,b,c,d}
    // cumulative: n_docs, n_tokens, vocab all non-decreasing in decile
    val trip = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(trip.sliding(2).forall {
      case Array((d1, t1, v1), (d2, t2, v2)) => d1 <= d2 && t1 <= t2 && v1 <= v2
      case _ => true
    })
  }

  // ---- gridNearest ----

  test("gridNearest finds the argmin inside the radius, ties to min id") {
    val l = Seq((0L, 10L, 10L), (9L, 3000L, 3000L)).toDF("id", "x", "y")
    val r = Seq(
      (1L, 12L, 10L),   // d2 = 4  → winner for left 0
      (2L, 10L, 13L),   // d2 = 9
      (3L, 200L, 200L)) // far from everything
      .toDF("id", "x", "y")
    val out = Spatial.gridNearest(l, r, radius = 64L, cell = 64L)
      .collect().map(row => row.getLong(0) -> (row.getLong(1), row.getLong(2))).toMap
    assert(out == Map(0L -> (1L, 4L))) // left 9 has no neighbor → absent
  }

  test("gridNearest crosses cell boundaries (9-cell claim)") {
    // (63,63) and (65,65) are in different 64-cells but d2=8
    val l = Seq((0L, 63L, 63L)).toDF("id", "x", "y")
    val r = Seq((1L, 65L, 65L)).toDF("id", "x", "y")
    val out = Spatial.gridNearest(l, r, 64L, 64L).collect()
    assert(out.length == 1 && out.head.getLong(2) == 8L)
  }

  test("gridNearest breaks distance ties to the smaller right id") {
    val l = Seq((0L, 100L, 100L)).toDF("id", "x", "y")
    val r = Seq((7L, 103L, 100L), (5L, 97L, 100L)).toDF("id", "x", "y")
    val out = Spatial.gridNearest(l, r, 64L, 64L).collect().head
    assert(out.getLong(1) == 5L && out.getLong(2) == 9L)
  }

  test("gridNearest rejects cell < radius") {
    val p = Seq((0L, 0L, 0L)).toDF("id", "x", "y")
    intercept[IllegalArgumentException] {
      Spatial.gridNearest(p, p, radius = 65L, cell = 64L)
    }
  }

  // ---- subtreeAggregate ----

  test("subtreeAggregate rolls values up a forest, self included") {
    //      1(10)          7(5)
    //     /    \
    //   2(20)  3(30)
    //   /
    // 4(40)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (7L, 8L)).toDF("src", "dst")
    val v = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (7L, 5L), (8L, 2L))
      .toDF("node", "value")
    val out = graft.graph.Paths.subtreeAggregate(e, v, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) == (0L, 100L, 4L))
    assert(out(2L) == (1L, 60L, 2L))
    assert(out(3L) == (1L, 30L, 1L))
    assert(out(4L) == (2L, 40L, 1L))
    assert(out(7L) == (0L, 7L, 2L))
    assert(out(8L) == (1L, 2L, 1L))
  }

  test("subtreeAggregate treats nodes without a value row as zero") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val v = Seq((2L, 9L)).toDF("node", "value")
    val out = graft.graph.Paths.subtreeAggregate(e, v, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 9L, 2L -> 9L))
  }

  // ---- reciprocity ----

  test("reciprocity counts mutual edges; self-loops and dups excluded") {
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 3L), (1L, 2L))
      .toDF("src", "dst")
    val r = graft.graph.Paths.reciprocity(e).collect().head
    // distinct non-loop edges: (1,2),(2,1),(1,3) → 2 reciprocal
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (3L, 2L, 666666L))
  }

  // ---- maintainJoin ----

  test("maintainJoin equals the recomputed join under adds and removals") {
    val a0 = Seq((1L, "o1"), (1L, "o2"), (2L, "o3")).toDF("k", "oa")
    val b0 = Seq((1L, "x"), (3L, "y")).toDF("k", "ob")
    val view = a0.join(b0, Seq("k")).withColumn("mult", lit(1L))
    // remove o2, add o4 under key 3; add key-2 right row "z"
    val dA = Seq((1L, "o2", -1L), (3L, "o4", 1L)).toDF("k", "oa", "mult")
    val dB = Seq((2L, "z", 1L)).toDF("k", "ob", "mult")
    val out = graft.operators.Changelog.maintainJoin(view, a0, b0, dA, dB, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    // final A = {o1@1, o3@2, o4@3}, final B = {x@1, y@3, z@2}
    assert(out == Set((1L, "o1", "x", 1L), (2L, "o3", "z", 1L), (3L, "o4", "y", 1L)))
  }

  test("maintainJoin cancels multiplicities to zero exactly") {
    val a0 = Seq((1L, "o1")).toDF("k", "oa")
    val b0 = Seq((1L, "x")).toDF("k", "ob")
    val view = a0.join(b0, Seq("k")).withColumn("mult", lit(1L))
    val dA = Seq((1L, "o1", -1L)).toDF("k", "oa", "mult")
    val dB = Seq((1L, "w", 0L)).toDF("k", "ob", "mult").filter(col("mult") =!= 0)
    assert(graft.operators.Changelog.maintainJoin(
      view, a0, b0, dA, dB, Seq("k")).count() == 0L)
  }

  // ---- zipfRanks ----

  test("zipfRanks orders by frequency then term, exact products") {
    val t = Seq((1L, "b"), (1L, "b"), (1L, "b"), (1L, "a"), (1L, "a"),
      (2L, "c"), (2L, "a")).toDF("doc_id", "term")
    val out = TextFunctions.zipfRanks(t, k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, "a", 3L, 3L), (2L, "b", 3L, 6L)))
  }

  // ---- seasonalDecompose ----

  test("seasonalDecompose: floor-mean index and mean abs residual") {
    val df = Seq(("g", 0L, 10L), ("g", 0L, 20L), ("g", 1L, 7L))
      .toDF("t", "hr", "cents")
    val out = Analytics.seasonalDecompose(df, col("t"), col("hr"), col("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(("g", 0L)) == (2L, 15L, 5L)) // |10-15|,|20-15| → mean 5
    assert(out(("g", 1L)) == (1L, 7L, 0L))
  }

  // ---- madOutliers ----

  test("madOutliers: lower medians, 3-MAD census ignores the tail") {
    val df = (Seq(1L, 2L, 3L, 4L, 100L).map(("g", _)) ++ Seq(("h", 5L)))
      .toDF("t", "v")
    val out = Analytics.madOutliers(df, col("t"), col("v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // g: median 3, d = [2,1,0,1,97] → mad 1, outliers d > 3: only 97
    assert(out("g") == (5L, 3L, 1L, 1L))
    assert(out("h") == (1L, 5L, 0L, 0L)) // singleton: mad 0, no outliers
  }

  // ---- benfordDeviation ----

  test("benfordDeviation: leading digits, ppm vs literal expectation") {
    val df = Seq(1L, 10L, 123L, 2L, 250L, 9L, 0L, -5L).toDF("v")
    val out = Analytics.benfordDeviation(df, col("v"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (3L, 500000L, 301030L, 198970L))
    assert(out(2L) == (2L, 333333L, 176091L, 157242L))
    assert(out(9L) == (1L, 166666L, 45757L, 120909L))
    assert(out.size == 3) // 0 and negatives carry no Benford digit
  }

  // ---- Similarity.truncated ----

  test("truncated slices the quantized prefix and renorms exactly") {
    val q = Seq((1L, Seq(1000L, 2000L, 3000L))).toDF("vec_id", "q")
      .withColumn("norm2", expr("aggregate(q, 0L, (a, x) -> a + x * x)"))
    val t = graft.similarity.Similarity.truncated(q, dims = 2).collect().head
    assert(t.getSeq[Long](1) == Seq(1000L, 2000L))
    assert(t.getLong(2) == 5000000L)
  }

  // ---- ohlcBars ----

  test("ohlcBars: open at earliest (t, tie), close at latest, exact hi/lo") {
    val df = Seq(("g", 0L, 1L, 1L, 10L), ("g", 0L, 2L, 1L, 30L),
      ("g", 0L, 2L, 2L, 5L), ("g", 1L, 9L, 1L, 7L))
      .toDF("ty", "bk", "t", "tie", "cents")
    val out = Analytics.ohlcBars(df, col("ty"), col("bk"), col("t"),
        col("tie"), col("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(out(("g", 0L)) == (3L, 10L, 30L, 5L, 5L))
    assert(out(("g", 1L)) == (1L, 7L, 7L, 7L, 7L))
  }

  // ---- rankNormalize ----

  test("rankNormalize: endpoints at 0 and 1e6, singleton at 0") {
    val df = Seq(("g", 10L, 1L), ("g", 20L, 2L), ("g", 30L, 3L), ("s", 9L, 4L))
      .toDF("ty", "cents", "id")
    val out = Analytics.rankNormalize(df, col("ty"), col("cents"), col("id"))
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(out == Map(1L -> 0L, 2L -> 500000L, 3L -> 1000000L, 4L -> 0L))
  }

  // ---- setOverlapPairs ----

  test("setOverlapPairs: exact Jaccard, non-overlapping pairs absent") {
    val gt = Seq(("A", "x"), ("A", "y"), ("A", "z"), ("A", "x"),
      ("B", "y"), ("B", "z"), ("C", "w")).toDF("g", "term")
    val out = TextFunctions.setOverlapPairs(gt)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out == Map(("A", "B") -> (3L, 2L, 2L, 666666L)))
  }

  // ---- corrMatrix ----

  test("corrMatrix: perfect pair hits 1e6 ppm, hand values elsewhere") {
    val df = Seq((1L, 2L, 1L), (2L, 4L, 1L), (3L, 6L, 2L)).toDF("x", "y", "z")
    val out = Analytics.corrMatrix(df, Seq(
        ("x", col("x")), ("y", col("y")), ("z", col("z"))))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(out(("x", "y")) == (1000000L, 1L)) // y = 2x exactly
    // x vs z: num=3, d1=6, d2=2 → 9e6 // 12 = 750000
    assert(out(("x", "z")) == (750000L, 1L))
    assert(out(("y", "z")) == (750000L, 1L))
  }

  // ---- asofJoinWithin ----

  test("asofJoinWithin blanks stale matches instead of falling back") {
    val l = Seq((1L, 100L), (2L, 100L)).toDF("k", "t")
    val r = Seq((1L, 90L, "a"), (1L, 50L, "b"), (2L, 100L, "c"))
      .toDF("k", "rt", "p")
    def run(tol: Long) = graft.operators.Temporal
      .asofJoinWithin(l, r, Seq("k"), "t", "rt", Seq("p"), tol)
      .collect().map(row => row.getLong(0) ->
        (Option(row.getString(2)), Option(row.get(3)))).toMap
    val wide = run(20L)
    assert(wide(1L) == (Some("a"), Some(10L))) // latest click, age 10
    assert(wide(2L) == (Some("c"), Some(0L)))  // equal time is inclusive
    val tight = run(5L)
    // the latest match is stale → NO match; never falls back to older "b"
    assert(tight(1L) == (None, None))
    assert(tight(2L) == (Some("c"), Some(0L)))
  }

  // ---- ngramNovelty ----

  test("ngramNovelty: rank-1 doc is all-novel, totals partition vocab") {
    val dt = Seq(
      (1L, "x"), (1L, "y"), (1L, "x"), // dup occurrence collapses
      (2L, "y"), (2L, "z"),
      (3L, "x"), (3L, "z"), (3L, "w")).toDF("doc_id", "term")
    val rows = TextFunctions.ngramNovelty(dt).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val byRank = rows.values.toSeq.sortBy(_._1)
    assert(byRank.head._3 == byRank.head._2) // rank 1: every term novel
    assert(byRank.head._4 == 1000000L)
    assert(rows.values.map(_._3).sum == 4L)  // novel counts partition {w,x,y,z}
    assert(rows(1L)._2 == 2L && rows(2L)._2 == 2L && rows(3L)._2 == 3L)
  }

  // ---- scd2Audit ----

  test("scd2Audit counts overlaps, gaps and open-mid rows per key") {
    val iv = Seq(
      ("k", 0L, Some(10L)), ("k", 5L, Some(15L)),   // overlap
      ("k", 20L, Some(30L)), ("k", 40L, Some(50L)), // two gaps (15→20, 30→40)
      ("o", 0L, None), ("o", 5L, Some(9L)),          // open interval mid-chain
      ("c", 0L, Some(5L)), ("c", 5L, Some(9L)))      // clean
      .toDF("k", "s", "e")
    val out = graft.operators.Temporal.scd2Audit(iv, Seq("k"), "s", "e")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("k") == (4L, 1L, 2L, 0L))
    assert(out("o") == (2L, 0L, 0L, 1L))
    assert(out("c") == (2L, 0L, 0L, 0L))
  }

  // ---- mixtureSchedule ----

  test("mixtureSchedule interleaves smoothly by weight") {
    val df = Seq(("a", 1L, 2L), ("a", 2L, 2L), ("b", 9L, 1L))
      .toDF("g", "id", "w")
    val out = graft.text.Sampling.mixtureSchedule(df)
      .orderBy("epoch_rank").collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
    // W=3: a at virtual 0 and 2, b at 1 → epoch order a, b, a
    assert(out.map(_._1).toSeq == Seq("a", "b", "a"))
    assert(out.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(out.map(_._3).toSeq == Seq(1L, 2L, 3L))
  }

  test("mixtureSchedule refuses non-positive weights") {
    val df = Seq(("a", 1L, 0L)).toDF("g", "id", "w")
    val ex = intercept[Exception] {
      graft.text.Sampling.mixtureSchedule(df).collect()
    }
    assert(ex.getMessage.contains("non-positive"))
  }

  // ---- diffInDiff ----

  test("diffInDiff: hand cell means and estimate") {
    val df = Seq((0, 0, 10L), (0, 1, 20L), (1, 0, 30L), (1, 1, 60L))
      .toDF("tr", "po", "v")
    val r = Analytics.diffInDiff(df, col("tr") === 1, col("po") === 1, col("v"))
      .collect().head
    assert(r.getAs[Long]("m00_x1e4") == 100000L)
    assert(r.getAs[Long]("m11_x1e4") == 600000L)
    assert(r.getAs[Long]("did_x1e4") == 200000L) // (60-30)-(20-10) scaled
  }

  // ---- rfmSegments ----

  test("rfmSegments: aligned quintiles land on the diagonal") {
    val orders = (1L to 5L).map(i => (i, i, i * 10L)).toDF("c", "t", "v")
    val out = Analytics.rfmSegments(orders, col("c"), col("t"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(out == (1L to 5L).map(i => (i, i, i) -> 1L).toMap)
  }

  // ---- temporalReach ----

  test("temporalReach: edges that fired before arrival cannot carry you") {
    val e = Seq((1L, 2L, 5L), (2L, 3L, 3L), (1L, 3L, 1L), (3L, 4L, 2L),
      (5L, 6L, 9L)).toDF("src", "dst", "t")
    val out = graft.graph.Fixpoint.temporalReach(e, Seq(1L).toDF("node"), 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3 arrives at 1 (direct); the 2→3 edge at t=3 < arrival(2)=5 is dead
    assert(out == Map(1L -> 0L, 2L -> 5L, 3L -> 1L, 4L -> 2L))
  }

  test("temporalReach: an improved arrival reopens later edges") {
    val e = Seq((1L, 2L, 9L), (1L, 3L, 1L), (3L, 2L, 2L), (2L, 5L, 3L))
      .toDF("src", "dst", "t")
    val out = graft.graph.Fixpoint.temporalReach(e, Seq(1L).toDF("node"), 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 2 first lands at 9 (blocking 2→5@3), then improves to 2 via 3,
    // which reopens the t=3 edge
    assert(out(2L) == 2L && out(5L) == 3L)
  }

  // ---- cidrContainJoin ----

  test("cidrContainJoin: mask containment across /16 buckets, loud guard") {
    val ips = Seq((1L, 167772160L + 200L * 65536 + 1), // 10.200.0.1
      (2L, 3232235521L)).toDF("id", "ip")              // 192.168.0.1
    val nets = Seq((10L, 167772160L, 8), (20L, 3232235520L, 30))
      .toDF("net_id", "base", "prefix_len")            // 10/8, 192.168.0.0/30
    val out = graft.operators.Network.cidrContainJoin(ips, nets)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(out == Set((1L, 10L), (2L, 20L))) // the /8 match crosses buckets
    val bad = Seq((1L, 0L, 7)).toDF("net_id", "base", "prefix_len")
    intercept[Exception] {
      graft.operators.Network.cidrContainJoin(ips, bad).collect()
    }
  }

  // ---- paretoPoint ----

  test("paretoPoint: smallest top-k reaching the threshold share") {
    val df = Seq(("a", 80L), ("b", 10L), ("c", 10L)).toDF("e", "v")
    val r = Analytics.paretoPoint(df, col("e"), col("v"), 800000L)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (3L, 100L, 1L, 333333L))
  }

  // ---- incrementalComponents ----

  test("incrementalComponents equals a full recompute after new edges") {
    val base = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val labels = graft.graph.Fixpoint.connectedComponents(base)
    val newEdges = Seq((2L, 3L), (7L, 8L)).toDF("a", "b")
    val got = graft.graph.Fixpoint.incrementalComponents(labels, newEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
    val full = graft.graph.Fixpoint.connectedComponents(
        base.unionByName(newEdges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)
  }

  // ---- rankingQualityHdcg ----

  test("rankingQualityHdcg: exact harmonic gains vs the ideal order") {
    val ranked = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("rank", "doc_id")
    val rel = Seq((10L, 1L), (20L, 3L)).toDF("doc_id", "rel") // 30 missing → 0
    val r = Analytics.rankingQualityHdcg(ranked, rel).collect().head
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 2500000L) // 1·1e6 + 3·5e5
    assert(r.getLong(2) == 3500000L) // ideal: 3·1e6 + 1·5e5
    assert(r.getLong(3) == 714285L)
  }

  // ---- cohortLtv ----

  test("cohortLtv: cumulative value and per-user floor rates") {
    val ev = Seq(("A", 0L, 10L), ("A", 1L, 20L), ("B", 0L, 5L), ("C", 1L, 7L))
      .toDF("u", "pd", "cents")
    val out = Analytics.cohortLtv(ev, "u", col("pd"), col("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out((0L, 0L)) == (2L, 15L, 7L))
    assert(out((0L, 1L)) == (2L, 35L, 17L))
    assert(out((1L, 0L)) == (1L, 7L, 7L))
  }

  // ---- importanceWeights ----

  test("importanceWeights: exact share ratios, loud unreachable mass") {
    val src = Seq("a", "a", "b", "b").toDF("lang")
    val tgt = Seq("a", "c").toDF("lang")
    val out = graft.text.Sampling.importanceWeights(src, tgt, "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(out("a") == (2L, 1L, Some(1000000L))) // (1·4·1e6)/(2·2)
    assert(out("b") == (2L, 0L, Some(0L)))
    assert(out("c") == (0L, 1L, None)) // in target, absent from source
  }

  // ---- patchPlan ----

  test("patchPlan: full patches plus the short tail, empty payloads skip") {
    val m = Seq((1L, 70L), (2L, 32L), (3L, 0L)).toDF("id", "n")
    val out = graft.multimodal.Multimodal.patchPlan(m, "id", "n", 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map((1L, 0L) -> (0L, 32L), (1L, 1L) -> (32L, 32L),
      (1L, 2L) -> (64L, 6L), (2L, 0L) -> (0L, 32L)))
  }

  // ---- widestPath ----

  test("widestPath takes the max-min bottleneck, not the shortest route") {
    val e = Seq((1L, 2L, 10L), (2L, 4L, 3L), (1L, 3L, 5L), (3L, 4L, 5L))
      .toDF("src", "dst", "cap")
    val out = graft.graph.Fixpoint.widestPath(e, Seq(1L).toDF("node"),
        sourceWidth = 100L, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // to 4: min(10,3)=3 via 2, min(5,5)=5 via 3 → widest 5
    assert(out == Map(1L -> 100L, 2L -> 10L, 3L -> 5L, 4L -> 5L))
  }

  // ---- greedyCoverage ----

  test("greedyCoverage picks marginal-max docs and stops when dry") {
    val dt = Seq((1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "c"), (2L, "d"), (3L, "a"), (3L, "b")).toDF("doc_id", "term")
    val out = TextFunctions.greedyCoverage(dt, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // d3 never adds anything once d1 is in; selection stops after d2
    assert(out.toSeq == Seq((1L, 1L, 3L, 3L), (2L, 2L, 1L, 4L)))
  }

  // ---- bitemporalAsOf ----

  test("bitemporalAsOf: corrections visible only after their tx time") {
    val hist = Seq(
      (1L, 0L, 10L, 0L, 100L),  // original: valid [0,10)
      (1L, 0L, 20L, 5L, 150L),  // correction at tx 5: valid [0,20)
      (2L, 0L, 10L, 0L, 7L))
      .toDF("k", "valid_from", "valid_to", "tx_from", "p")
    def read(tx: Long, v: Long) = graft.operators.Temporal
      .bitemporalAsOf(hist, Seq("k"), "tx_from", "valid_from", "valid_to",
        lit(tx), lit(v))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    // before the correction was known, validity ended at 10
    assert(read(3L, 12L) == Map.empty)
    // after tx 5 the correction extends validity and changes the value
    assert(read(7L, 12L) == Map(1L -> 150L))
    // both keys in effect at v=3; key 1 reads the corrected value
    assert(read(7L, 3L) == Map(1L -> 150L, 2L -> 7L))
  }

  // ---- hllWindowed ----

  test("hllWindowed: trailing merge equals the whole-range estimate") {
    val df = Seq(("g", 1L, "u1"), ("g", 1L, "u2"), ("g", 2L, "u2"),
      ("g", 2L, "u3"), ("g", 3L, "u4")).toDF("g", "hr", "u")
    val win = graft.text.Sketches.hllWindowed(df, "g", "u", col("hr"), 3)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    def whole(buckets: Seq[Long]) = graft.text.Sketches
      .hllEstimate(df.filter(col("hr").isin(buckets: _*)), "g", "u")
      .collect().head.getAs[Long]("est_distinct")
    assert(win(3L) == whole(Seq(1L, 2L, 3L))) // full trailing window
    assert(win(1L) == whole(Seq(1L)))          // nothing earlier to merge
    assert(win(2L) == whole(Seq(1L, 2L)))
  }

  // ---- regularPathQuery ----

  test("regularPathQuery walks the product automaton, not the graph") {
    val e = Seq((1L, 2L, "a"), (2L, 3L, "b"), (1L, 4L, "b"))
      .toDF("src", "dst", "label")
    val nfa = Seq((0L, "a", 1L), (1L, "b", 2L)).toDF("s_from", "label", "s_to")
    val visited = graft.graph.Fixpoint.regularPathQuery(
        e, nfa, Seq(1L).toDF("node"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4 is graph-reachable but 'b' has no transition from state 0
    assert(visited == Set((1L, 0L), (2L, 1L), (3L, 2L)))
  }

  // ---- trigramSearch ----

  test("trigramSearch: lossless prune, exact verify, short-pattern guard") {
    val docs = Seq((1L, "hello world"), (2L, "world peace"), (3L, "help"),
      (4L, "worxorlxrld") /* all of wor/orl/rld but not the pattern */)
      .toDF("doc_id", "text")
    val out = TextFunctions.trigramSearch(docs, "doc_id", "text", "world")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 7L, 2L -> 1L)) // 4 survives the prune, dies in verify
    intercept[IllegalArgumentException] {
      TextFunctions.trigramSearch(docs, "doc_id", "text", "ab")
    }
  }

  // ---- dimDrift ----

  test("dimDrift: per-dimension means and deltas, exact chain") {
    val a = Seq((1L, Seq(100L, 200L)), (2L, Seq(300L, 200L))).toDF("vec_id", "q")
    val b = Seq((3L, Seq(100L, 0L))).toDF("vec_id", "q")
    val out = graft.similarity.Similarity.dimDrift(a, b)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out(0L) == (2L, 1L, 200000000L, 100000000L, 100000000L))
    assert(out(1L) == (2L, 1L, 200000000L, 0L, 200000000L))
  }

  // ---- robustnessSweep ----

  test("robustnessSweep: full survival keeps components, zero shatters") {
    val e = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val out = graft.graph.Paths.robustnessSweep(e, Seq(0L, 1000000L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1000000L) == (5L, 2L, 3L)) // {1,2,3} and {4,5}
    assert(out(0L) == (5L, 5L, 1L))       // every node a singleton
  }

  // ---- linearClassifierScore ----

  test("linearClassifierScore: margins are additive over tokens") {
    val docs = Seq((1L, "alpha"), (2L, "alpha alpha"), (3L, "alpha beta"),
      (4L, "beta")).toDF("doc_id", "text")
    val out = TextFunctions.linearClassifierScore(docs, "doc_id", "text",
        dims = 64, threshold = 0L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    val wA = out(1L)._2
    val wB = out(4L)._2
    assert(out(2L) == (2L, 2 * wA, 2 * wA > 0))
    assert(out(3L) == (2L, wA + wB, wA + wB > 0))
    assert(wA >= -1000 && wA <= 1000)
  }

  // ---- sketchMergeSink ----

  test("sketchMergeSink registers equal the batch registers, replay-proof") {
    implicit val sqlCtx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val df = source.toDF().toDF("g", "v")
    val ref = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.DataFrame](null)
    val q = graft.streaming.Streaming.sketchMergeSink(df, ref, "g", "v").start()
    try {
      source.addData(("a", 1L), ("a", 2L), ("b", 1L))
      q.processAllAvailable()
      source.addData(("a", 3L), ("a", 1L)) // 1 replayed — max is idempotent
      q.processAllAvailable()
    } finally q.stop()
    val batch = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 1L)).toDF("g", "v")
    val want = graft.text.Sketches.hllRegisters(batch, "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val got = ref.get()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == want)
  }
}
