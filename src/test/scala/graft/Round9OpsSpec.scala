package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.graph.Centrality
import graft.operators.Temporal
import graft.stats.DataQuality

/** Round-9 operators: interval coalescing, single-pass data quality,
  * HITS, link prediction, Bloom decontamination. */
class Round9OpsSpec extends SparkSuite {
  import spark.implicits._

  // ---- coalesceIntervals ----

  test("coalesceIntervals: overlap merges, touch merges, gap splits") {
    val iv = Seq(
      ("a", 1L, 0L, 10L),   // island 1
      ("a", 2L, 5L, 12L),   // overlaps -> merge
      ("a", 3L, 12L, 15L),  // touches prev max end -> merge
      ("a", 4L, 16L, 20L),  // gap of 1 -> new island
      ("b", 5L, 0L, 1L)     // other key untouched
    ).toDF("k", "id", "s", "e")
    val out = Temporal.coalesceIntervals(iv, Seq("k"), "s", "e", Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set(("a", 0L, 15L, 3L), ("a", 16L, 20L, 1L), ("b", 0L, 1L, 1L)))
  }

  test("coalesceIntervals: contained intervals and duplicate rows stay in one island") {
    val iv = Seq(
      ("a", 1L, 0L, 100L),
      ("a", 2L, 10L, 20L),   // fully contained
      ("a", 3L, 10L, 20L),   // exact duplicate (tie on (s, e))
      ("a", 4L, 50L, 120L)
    ).toDF("k", "id", "s", "e")
    val out = Temporal.coalesceIntervals(iv, Seq("k"), "s", "e", Seq("id"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 120L, 4L)))
  }

  // ---- DataQuality ----

  test("DataQuality.report: every metric exact on a corpus with nulls and dupes") {
    val df = Seq(
      (1L, Some("x"), 10L),
      (2L, Some("y"), 20L),
      (2L, None, 30L),
      (3L, Some("z"), -5L)
    ).toDF("id", "tag", "v")
    val out = DataQuality.report(df, Seq(
      DataQuality.Uniqueness(Seq("id")),
      DataQuality.Completeness("tag"),
      DataQuality.Compliance("v_pos", col("v") > 0),
      DataQuality.NumericProfile("v")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("rows", "count")) == 4L)
    assert(out(("uniqueness:id", "distinct_x1e6")) == 750000L)      // 3 of 4
    assert(out(("completeness:tag", "non_null_x1e6")) == 750000L)   // 3 of 4
    assert(out(("compliance:v_pos", "satisfied_x1e6")) == 750000L)  // -5 fails
    assert(out(("profile:v", "min")) == -5L)
    assert(out(("profile:v", "max")) == 30L)
    assert(out(("profile:v", "sum")) == 55L)
  }

  test("DataQuality.report: null predicate counts as unsatisfied") {
    val df = Seq((1L, Some("a")), (2L, None)).toDF("id", "tag")
    val out = DataQuality.report(df,
        Seq(DataQuality.Compliance("tag_is_a", col("tag") === "a")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("compliance:tag_is_a", "satisfied_x1e6")) == 500000L)
  }

  test("quality_suite gate reads its table exactly once (N checks, 1 scan)") {
    // AQE hides the physical tree behind AdaptiveSparkPlanExec, so count
    // scan nodes in the stringified plan (which prints the full tree)
    val plan = graft.queries.AnalysisQueries
      .qualitySuite(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val scans = "(?m)Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"quality suite must cost one scan, found $scans")
  }

  // ---- HITS ----

  test("hits: hand-computed scores on a 3-node DAG, two rounds") {
    // 1->2, 1->3, 2->3
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val out = Centrality.hits(e, rounds = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // a1 = indegree (1:0, 2:1, 3:2); h1 = (1:3, 2:2, 3:0)
    // a2 = (1:0, 2:3, 3:5);          h2 = (1:8, 2:5, 3:0)
    assert(out == Map(1L -> (8L, 0L), 2L -> (5L, 3L), 3L -> (0L, 5L)))
  }

  test("hits: rounds outside 1..5 are rejected, self-loops ignored") {
    val e = Seq((1L, 2L), (2L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] { Centrality.hits(e, rounds = 6) }
    intercept[IllegalArgumentException] { Centrality.hits(e, rounds = 0) }
    val out = Centrality.hits(e, rounds = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // self-loop dropped: plain 1->2 edge graph
    assert(out == Map(1L -> (1L, 0L), 2L -> (0L, 1L)))
  }

  // ---- linkPrediction ----

  test("linkPrediction: 4-cycle scores exactly its two diagonals") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val out = Centrality.linkPrediction(e)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // both diagonals: cn=2 (the two shared cycle corners, deg 2 each),
    // ra = 2 * (1e12 // 2), jaccard = 2e6 // (2+2-2)
    val want = (2L, 1000000000000L, 1000000L)
    assert(out == Map((1L, 3L) -> want, (2L, 4L) -> want))
  }

  test("linkPrediction: adjacent pairs are excluded even when they share neighbors") {
    // 4-cycle plus the (1,3) diagonal: (1,3) is now an edge -> excluded
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("src", "dst")
    val out = Centrality.linkPrediction(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!out.contains((1L, 3L)))
    assert(out.contains((2L, 4L)))
  }

  // ---- labelPropagation ----

  test("labelPropagation: two triangles bridged by one edge keep distinct communities") {
    // triangle A = {1,2,3}, triangle B = {10,11,12}, bridge 3-10
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val out = graft.graph.Fixpoint.labelPropagation(e, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 pulls the bridge label 3 into node 10, round 2's triangle
    // majority (11, 12 both voting 10) overrides it — communities settle
    // to each triangle's smallest member and stay there
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation: round bounds enforced, isolated self-loop dropped") {
    val e = Seq((1L, 2L), (3L, 3L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      graft.graph.Fixpoint.labelPropagation(e, rounds = 0)
    }
    val out = graft.graph.Fixpoint.labelPropagation(e, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 3 has only a self-loop -> not in the node universe at all
    assert(out == Map(1L -> 1L, 2L -> 1L))
  }

  // ---- intervalOverlapJoin ----

  test("intervalOverlapJoin: overlap pairs exact, multi-bucket pairs claimed once") {
    val l = Seq((1L, 0L, 250L), (2L, 500L, 600L)).toDF("l_id", "l_s", "l_e")
    val r = Seq(
      (10L, 100L, 400L),  // overlaps 1 across buckets 1-3
      (20L, 240L, 260L),  // overlaps 1 only
      (30L, 590L, 700L),  // overlaps 2
      (40L, 250L, 500L)   // touches 1 at 250 (half-open: NO overlap), ends at 2's start: NO
    ).toDF("r_id", "r_s", "r_e")
    val out = Temporal.intervalOverlapJoin(l, "l_s", "l_e", r, "r_s", "r_e",
        bucketSeconds = 100L)
      .select("l_id", "r_id")
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1)))
    // no duplicates even though (1,10) shares buckets 1 and 2
    assert(out.length == out.distinct.length)
    assert(out.toSet == Set((1L, 10L), (1L, 20L), (2L, 30L)))
  }

  test("intervalOverlapJoin: equi-keys partition the candidate space") {
    val l = Seq(("a", 1L, 0L, 100L), ("b", 2L, 0L, 100L)).toDF("k", "l_id", "l_s", "l_e")
    val r = Seq(("a", 10L, 50L, 150L), ("b", 20L, 50L, 150L)).toDF("k", "r_id", "r_s", "r_e")
    val out = Temporal.intervalOverlapJoin(l, "l_s", "l_e", r, "r_s", "r_e",
        bucketSeconds = 1000L, keys = Seq("k"))
      .select("l_id", "r_id").collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(out == Set((1L, 10L), (2L, 20L)))
  }

  test("intervalOverlapJoin: empty and inverted half-open intervals match nothing") {
    // empty [10,10) sits inside [5,20); inverted [30,20) spans [25,35) —
    // both would bucket-match without the e<=s filter
    val l = Seq((1L, 10L, 10L), (2L, 30L, 20L)).toDF("l_id", "l_s", "l_e")
    val r = Seq((10L, 5L, 20L), (20L, 25L, 35L)).toDF("r_id", "r_s", "r_e")
    val out = Temporal.intervalOverlapJoin(l, "l_s", "l_e", r, "r_s", "r_e",
      bucketSeconds = 7L)
    assert(out.count() == 0L)
    // and empty intervals on the RIGHT match nothing either
    val out2 = Temporal.intervalOverlapJoin(r, "r_s", "r_e", l, "l_s", "l_e",
      bucketSeconds = 7L)
    assert(out2.count() == 0L)
  }

  test("DataQuality.report: empty input yields concrete values, never null") {
    val df = Seq((1L, Some("x"), 10L)).toDF("id", "tag", "v").filter(lit(false))
    val out = DataQuality.report(df, Seq(
      DataQuality.Uniqueness(Seq("id")),
      DataQuality.Completeness("tag"),
      DataQuality.Compliance("v_pos", col("v") > 0)))
      .collect()
    // fraction metrics are vacuously 1e6 on zero rows; no value is null
    val m = out.map(r => (r.getString(0), r.getString(1)) -> r.isNullAt(2)).toMap
    assert(m.values.forall(_ == false), s"null values in $m")
    val v = out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(v(("rows", "count")) == 0L)
    assert(v(("completeness:tag", "non_null_x1e6")) == 1000000L)
    assert(v(("compliance:v_pos", "satisfied_x1e6")) == 1000000L)
  }

  // ---- decontaminateBloom ----

  test("decontaminateBloom is byte-identical to the exact-join path") {
    val mk = (id: Long, t: String) => (id, t)
    val docs = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(2L, "totally unrelated words here nothing shared at all"),
      mk(10L, "alpha beta gamma delta epsilon zeta eta theta"),   // eval copy of 1
      mk(3L, "alpha beta gamma delta something else entirely now"),
      mk(20L, "another eval only document with private content")
    ).toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val eval = docs.filter(col("doc_id") % 10 === 0)
    val exact = Dedup.decontaminate(train, eval, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val bloom = Dedup.decontaminateBloom(train, eval, "doc_id", "text", 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(bloom == exact)
    assert(exact.exists { case (id, n, c) => id == 1L && n > 0 && c })
    assert(exact.exists { case (id, _, c) => id == 2L && !c })
  }
}
