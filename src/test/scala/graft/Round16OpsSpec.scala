package graft

import org.apache.spark.sql.functions._

import graft.graph.Fixpoint

/** Round-16 additions: SCC artifact reuse and the condensation-from-
  * labels quotient overload. */
class Round16OpsSpec extends SparkSuite {
  import spark.implicits._

  // ---- condensationEdges(labels, edges) ----

  test("condensationEdges from precomputed labels matches the from-scratch run") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 4L), (3L, 4L), (3L, 5L), (5L, 6L)).toDF("src", "dst")
    val labels = Fixpoint.stronglyConnectedComponents(edges)
    val fromLabels = Fixpoint.condensationEdges(labels, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromScratch = Fixpoint.condensationEdges(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromLabels == fromScratch)
    assert(fromLabels == Set((3L, 5L), (5L, 6L)))
  }

  // ---- Readers.iterateDicts ----

  test("iterateDicts streams all rows without a cap") {
    val df = spark.range(0, 150000).selectExpr("id", "id * 2 AS dbl")
    // over the list readers' DefaultMaxRows (100k) — the capped reader
    // refuses, the iterator streams
    intercept[IllegalArgumentException] { graft.client.Readers.listOfDicts(df) }
    val it = graft.client.Readers.iterateDicts(df)
    var n = 0L
    var sum = 0L
    it.foreach { m => n += 1; sum += m("dbl").asInstanceOf[Long] }
    assert(n == 150000L)
    assert(sum == 149999L * 150000L)
  }

  // ---- ReferenceLibrary ----

  test("reference library spans all four frameworks with titled controls") {
    import graft.rules.ReferenceLibrary
    val shortNames = ReferenceLibrary.rules.flatMap(_.controls).map(_.shortName).toSet
    assert(shortNames == Set("cis", "soc2", "iso27001", "nist-ai-rmf"))
    ReferenceLibrary.rules.foreach { r =>
      // subimage_coverage.py ships WITHOUT framework mappings in the
      // reference; every other rule must carry titled controls
      assert(r.facts.nonEmpty &&
        (r.controls.nonEmpty || r.ruleId == "subimage-coverage"))
      r.controls.foreach(c => assert(c.title.nonEmpty && c.revision.nonEmpty))
    }
    assert(ReferenceLibrary.rules.flatMap(_.facts).map(_.factId).distinct.size >= 19)
  }

  test("controlSummary fans each fact out to every mapped control") {
    import graft.rules._
    val fw = Framework("t", Seq(Rule("r1", "r1",
      facts = Seq(
        Fact("f1", "f1", "A", s => { import s.implicits._
          Seq(1L, 1L, 2L).toDF("asset_id") }),
        Fact("f2", "f2", "A", s => { import s.implicits._
          Seq.empty[Long].toDF("asset_id") })),
      frameworks = Seq(
        FrameworkControl("cis x", "cis", "1.1", Some("aws"), Some("6.0.0"), Some("t1")),
        FrameworkControl("soc 2", "soc2", "cc6.1", Some("tsc"), Some("2022"), Some("t2"))))))
    val rows = RulesRunner.controlSummary(spark, fw).collect()
      .map(r => (r.getString(0), r.getString(3), r.getString(6),
        r.getLong(7), r.getLong(8))).toSet
    assert(rows == Set(
      ("cis", "1.1", "f1", 3L, 2L), ("soc2", "cc6.1", "f1", 3L, 2L),
      ("cis", "1.1", "f2", 0L, 0L), ("soc2", "cc6.1", "f2", 0L, 0L)))
  }

  test("valueMapping leaves unmapped provider vocab NULL") {
    import graft.ontology.Ontology
    val df = Seq("running", "impaired", "stopped").toDF("raw")
      .select(col("raw"), Ontology.valueMapping(col("raw"),
        Map("running" -> "running", "stopped" -> "stopped")).as("state"))
    val got = df.collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got("running").contains("running"))
    assert(got("impaired").isEmpty)
    assert(got("stopped").contains("stopped"))
  }

  // ---- tClosenessViolations ----

  test("tCloseness flags the skewed class and passes the balanced one") {
    // global: 4×a, 4×b. class q=1 balanced (2a,2b): tvd=0.
    // class q=2 skewed (2a,0b): tvd = 1/2(|1/2-1/2... ) = |2/2-4/8| etc.
    val df = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"), (1L, "b"),
      (2L, "a"), (2L, "a"), (2L, "b"), (2L, "b")).toDF("q", "s")
    assert(graft.stats.DataQuality
      .tClosenessViolations(df, Seq("q"), "s", 100000L).isEmpty)
    val skew = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "a")).toDF("q", "s")
    // global: 3a,1b. class 2 = (2a, 0b): tvd = 1/2(|1 - 3/4| + |0 - 1/4|)
    // = 1/4 -> 250000 ppm; class 1 = (1a,1b): tvd = 1/4 too
    val out = graft.stats.DataQuality
      .tClosenessViolations(skew, Seq("q"), "s", 200000L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 250000L, 2L -> 250000L))
  }

  // ---- Fellegi–Sunter ----

  test("patternTable computes exact ppm likelihood ratios") {
    import graft.operators.EntityResolution
    // pattern (true): 3 matches, 1 unmatch; pattern (false): 1 match,
    // 3 unmatches. totals: tm=4, tu=4 -> lr(true) = (3*4e6)/(1*4) = 3e6
    val lab = Seq(
      (true, true), (true, true), (true, true), (true, false),
      (false, true), (false, false), (false, false), (false, false))
      .toDF("name_agree", "is_match")
    val rows = EntityResolution.patternTable(lab, Seq("name_agree"), "is_match")
      .collect().map(r => r.getBoolean(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    assert(rows(true) == (3L, 1L, 3000000L))
    assert(rows(false) == (1L, 3L, 333333L))
    // match-only pattern -> null lr (infinite evidence)
    val lab2 = Seq((true, true), (false, false)).toDF("a", "is_match")
    val r2 = EntityResolution.patternTable(lab2, Seq("a"), "is_match")
      .filter(col("a")).collect().head
    assert(r2.isNullAt(3))
  }

  test("classify thresholds into link / possible / non-link") {
    import graft.operators.EntityResolution
    val lab = Seq(
      (true, true), (true, true), (true, true), (true, false),
      (false, true), (false, false), (false, false), (false, false))
      .toDF("a", "is_match")
    val table = EntityResolution.patternTable(lab, Seq("a"), "is_match")
    val out = EntityResolution.classify(
        Seq((1L, true), (2L, false)).toDF("id", "a"), table, Seq("a"),
        lowerPpm = 500000L, upperPpm = 2000000L)
      .select(col("id"), col("decision"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "link", 2L -> "non-link"))
    // unseen pattern -> possible
    val out2 = EntityResolution.classify(
        Seq((3L, true)).toDF("id", "a"),
        table.filter(!col("a")), Seq("a"), 500000L, 2000000L)
      .select(col("id"), col("decision"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2 == Map(3L -> "possible"))
  }

  // ---- Attribution.multiTouch ----

  test("multiTouch credits models exactly and shares sum to 1e6") {
    import graft.operators.Attribution
    // user 1: touches at t=1 (ads), 2 (email), 3 (ads); conversion at t=5
    // value 1000c. user 2: one touch outside the lookback -> no credit.
    val touches = Seq(
      (1L, 101L, "ads", 1L), (1L, 102L, "email", 2L), (1L, 103L, "ads", 3L),
      (2L, 201L, "ads", 1L)).toDF("user_id", "touch_id", "channel", "ts")
    val convs = Seq((1L, 900L, 5L, 1000L), (2L, 901L, 100L, 500L))
      .toDF("user_id", "conv_id", "ts", "value_cents")
    val out = Attribution.multiTouch(touches, convs, lookbackSec = 10L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // first: ads@1; last: ads@3; linear: 333333/333333/333334 with the
    // remainder on the LAST touch (ads); u-shaped: 400000/200000/400000
    assert(out(("first_touch", "ads")) == (1L, 1000000L * 1000L))
    assert(out(("last_touch", "ads")) == (1L, 1000000L * 1000L))
    assert(out(("linear", "ads")) == (2L, (333333L + 333334L) * 1000L))
    assert(out(("linear", "email")) == (1L, 333333L * 1000L))
    assert(out(("u_shaped", "ads")) == (2L, 800000L * 1000L))
    assert(out(("u_shaped", "email")) == (1L, 200000L * 1000L))
    // every model's total credit = 1e6 x value
    Attribution.Models.foreach { m =>
      val tot = out.collect { case ((`m`, _), (_, c)) => c }.sum
      assert(tot == 1000000L * 1000L, m)
    }
  }

  // ---- Changelog.sequenceAudit ----

  test("sequenceAudit reports gaps and out-of-order arrivals") {
    import graft.operators.Changelog
    // key 1: versions 1,2,5,6 arriving as 2,1,5,6 -> one gap (3..4, len 2),
    // one out-of-order row (v=1 arrives after v=2).
    // key 2: clean 1,2,3 in order -> all zeros.
    val ch = Seq(
      (1L, 2L, 10L), (1L, 1L, 20L), (1L, 5L, 30L), (1L, 6L, 40L),
      (2L, 1L, 10L), (2L, 2L, 20L), (2L, 3L, 30L))
      .toDF("k", "version", "arrival")
    val out = Changelog.sequenceAudit(ch, Seq("k"), "version", "arrival")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(out(1L) == (4L, 4L, 1L, 6L, 1L, 2L, 1L))
    assert(out(2L) == (3L, 3L, 1L, 3L, 0L, 0L, 0L))
  }

  // ---- cliqueCensusK4 ----

  test("cliqueCensusK4 counts each K4 exactly once") {
    import graft.graph.Centrality
    // K5 on {1..5} -> C(5,4)=5; plus a dangling triangle {6,7,8} -> 0
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val extra = Seq((6L, 7L), (7L, 8L), (6L, 8L), (5L, 6L))
    val n = Centrality.cliqueCensusK4((k5 ++ extra).toDF("src", "dst"))
      .collect().head.getLong(0)
    assert(n == 5L)
    // empty graph -> 0
    val n0 = Centrality.cliqueCensusK4(Seq.empty[(Long, Long)].toDF("src", "dst"))
      .collect().head.getLong(0)
    assert(n0 == 0L)
  }

  // ---- sccArtifact ----

  test("sccArtifact builds once and reads back byte-identical labels") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("graft_scc_spec")
      .resolve("art").toString
    val first = Fixpoint.sccArtifact(spark, edges, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fresh = Fixpoint.stronglyConnectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(first == fresh)
    // second call must LOAD, not rebuild: poison the input and verify the
    // cached assignment still comes back
    val poisoned = Seq((9L, 9L)).toDF("src", "dst")
    val second = Fixpoint.sccArtifact(spark, poisoned, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(second == first)
  }
}
