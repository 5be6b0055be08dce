package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.graph.{Centrality, Fixpoint}
import graft.text.{Sketches, TextFunctions}

/** Round-8 operators: composite quality filter, near-dup cluster
  * representative selection. */
class Round8OpsSpec extends SparkSuite {
  import spark.implicits._

  // ---- qualityFilter ----

  test("qualityFilter: each rule independently gates keep") {
    val long = ("w " * 40).trim                        // 40 words, mean len 1 -> fails mean-len floor
    val good = (1 to 40).map(i => s"tok$i").mkString(" ") + " the"  // 41 distinct words incl stopword
    val repet = (Seq.fill(40)("the")).mkString(" ")    // distinct ratio 1/40 -> fails
    val nostop = (1 to 40).map(i => s"tok$i").mkString(" ")  // no stopword -> fails
    val short = "the quick fox"                        // 3 words -> fails word floor
    val docs = Seq(
      (1L, good), (2L, short), (3L, repet), (4L, nostop), (5L, long)
    ).toDF("doc_id", "text")
    val out = TextFunctions.qualityFilter(docs, "doc_id", "text", Seq("the", "a"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false, 5L -> false))
  }

  test("qualityFilter metrics are exact integers") {
    val docs = Seq((1L, "aa bbb the aa")).toDF("doc_id", "text")
    val r = TextFunctions.qualityFilter(docs, "doc_id", "text", Seq("the"),
      minWords = 1L).collect().head
    assert(r.getLong(1) == 4L)                   // n_words
    assert(r.getLong(2) == 2500000L)             // (2+3+3+2)/4 = 2.5
    assert(r.getLong(3) == 750000L)              // 3 distinct of 4
    assert(r.getLong(4) == 1L)                   // one stopword hit
  }

  // ---- representatives ----

  test("representatives: longest doc wins its cluster, ties to min id; singletons keep themselves") {
    // docs 1,2,3 near-identical (same text +/- one trailing word), doc 9 unrelated
    val base = (1 to 12).map(i => s"alpha bravo charlie delta echo fox$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),     // longest -> representative
      (3L, base),
      (9L, (1 to 30).map(i => s"zulu$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.representatives(docs, "doc_id", "text", minJaccX1e6 = 500000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out(1L) == ((1L, 2L, false)))
    assert(out(2L) == ((1L, 2L, true)))
    assert(out(3L) == ((1L, 2L, false)))
    assert(out(9L) == ((9L, 9L, true)))
  }

  // ---- histogram quantile sketch ----

  test("histQuantiles: estimate within 1/16 relative error of the exact value") {
    // geometric-ish spread exercising unit buckets and several octaves
    val vals = (1L to 2000L).map(i => i * i % 50021L + 1L)
    val df = vals.map(("all", _)).toDF("g", "v")
    val est = Sketches.histQuantiles(
        Sketches.histBuckets(df, "g", "v"), Seq(500, 900, 990))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    val sorted = vals.sorted
    for ((q, e) <- est) {
      val target = ((q * vals.size + 999) / 1000).toInt
      val exact = sorted(target - 1)
      assert(e <= exact, s"q=$q lower bound must not exceed exact")
      assert(exact < e + (e >> 4) + 1, s"q=$q exact=$exact est=$e outside 1/16 bound")
    }
  }

  test("histBuckets: values below 16 get exact unit buckets; nonpositive dropped") {
    val df = Seq(("a", 1L), ("a", 15L), ("a", 15L), ("a", 0L), ("a", -7L))
      .toDF("g", "v")
    val out = Sketches.histBuckets(df, "g", "v")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 1L, 15L -> 2L))
  }

  test("histMerge: shard histograms merged == whole-data histogram") {
    val vals = (1L to 999L).map(i => (i % 7, "g%d".format(i % 3), i * 31 % 4096L + 1L))
    val df = vals.toDF("p", "g", "v")
    val merged = (0L to 6L).map(p => Sketches.histBuckets(
        df.filter(col("p") === p), "g", "v"))
      .reduce(Sketches.histMerge)
    val direct = Sketches.histBuckets(df, "g", "v")
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
  }

  test("representatives: equal lengths tie to the smallest id") {
    val base = (1 to 12).map(i => s"kilo lima mike november oscar papa$i").mkString(" ")
    val docs = Seq((7L, base), (4L, base), (5L, base)).toDF("doc_id", "text")
    val out = Dedup.representatives(docs, "doc_id", "text", minJaccX1e6 = 900000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(4L -> true, 5L -> false, 7L -> false))
  }

  // ---- kCore ----

  test("kCore: a tail peels away in cascade, the cycle survives with its degrees") {
    // triangle 1-2-3 with a pendant chain 3-4-5-6: k=2 keeps exactly the triangle,
    // and the chain needs THREE peel rounds (6, then 5, then 4)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val out = Centrality.kCore(edges, k = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: k above the densest degree leaves an empty core; duplicate and self edges ignored") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 3L), (2L, 2L))
      .toDF("src", "dst")
    assert(Centrality.kCore(edges, k = 3L).isEmpty)
    val two = Centrality.kCore(edges, k = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore throws when the cascade outruns maxRounds") {
    val chainTri = Seq((1L, 2L), (2L, 3L), (1L, 3L)) ++
      (3L to 12L).map(i => (i, i + 1))
    val edges = chainTri.toDF("src", "dst")
    intercept[IllegalStateException] {
      Centrality.kCore(edges, k = 2L, maxRounds = 2)
    }
    // and with budget it agrees: only the triangle remains
    assert(Centrality.kCore(edges, k = 2L).count() == 3L)
  }

  test("clusteringCoefficient: clique 1.0, star center 0, degree-1 leaf 0") {
    // K4 on 1-4, star center 10 with leaves 11-13, pendant 5 off node 1
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (k4 ++ Seq((10L, 11L), (10L, 12L), (10L, 13L), (1L, 5L)))
      .toDF("src", "dst")
    val out = Centrality.clusteringCoefficient(edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(2L) == ((3L, 3L, 1000000L)))   // in K4: deg 3, 3 triangles, coeff 1
    assert(out(1L) == ((4L, 3L, 500000L)))    // K4 + pendant: 2*3/(4*3)
    assert(out(10L) == ((3L, 0L, 0L)))        // star center
    assert(out(5L) == ((1L, 0L, 0L)))         // degree-1 leaf
  }

  // ---- SCD2 as-of read ----

  test("asofRead: half-open interval semantics, pre-history probes drop") {
    import java.sql.Timestamp
    def t(s: Int) = Timestamp.valueOf(f"2024-01-0${s}%d 00:00:00")
    val ev = Seq((1L, t(2), "A"), (1L, t(4), "B"), (2L, t(3), "C"))
      .toDF("user_id", "ts", "state")
    val hist = graft.operators.Temporal.scd2(ev, Seq("user_id"), "ts", Seq("state"))
    val probes = Seq((1L, t(1)), (1L, t(2)), (1L, t(3)), (1L, t(4)), (1L, t(6)),
      (2L, t(5))).toDF("user_id", "probe_ts")
    val out = graft.operators.Temporal.asofRead(hist, probes, Seq("user_id"), "probe_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getString(2)).toMap
    assert(!out.contains((1L, t(1))))          // before first version
    assert(out((1L, t(2))) == "A")             // valid_from inclusive
    assert(out((1L, t(3))) == "A")
    assert(out((1L, t(4))) == "B")             // valid_to exclusive: B takes over
    assert(out((1L, t(6))) == "B")             // open current interval
    assert(out((2L, t(5))) == "C")
    assert(out.size == 5)
  }

  // ---- BM25 ----

  test("bm25Scores: hand-computed integer surrogate on a 2-doc corpus") {
    // T=5, N=2; doc1 "x x y" (len 3), doc2 "x z" (len 2); df: x=2, y=z=1
    val docs = Seq((1L, "x x y"), (2L, "x z")).toDF("doc_id", "text")
    val out = TextFunctions.bm25Scores(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2)) ->
        ((r.getLong(5), r.getLong(6)))).toMap  // (doc, tf) -> (idf_x1e3, bm25_x1e6)
    // doc1 x: tfn = 440000000 div 338 = 1301775, idf 1000
    assert(out((1L, 2L)) == ((1000L, 1301775L)))
    // doc2 x and z share tfn = 220000000 div 202 = 1089108; z idf 2000
    val doc2 = TextFunctions.bm25Scores(docs, "doc_id", "text")
      .filter(col("doc_id") === 2L)
      .collect().map(r => r.getLong(6)).sorted
    assert(doc2.toSeq == Seq(1089108L, 2178216L))
  }

  test("searchRanked: conjunctive filter and score-ordered top-k") {
    val docs = Seq((1L, "x x y"), (2L, "x z"), (3L, "y z")).toDF("doc_id", "text")
    val hits = TextFunctions.searchRanked(docs, "doc_id", "text", Seq("x"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // T=7, N=3, df(x)=2 → idf 1500; doc1: tfn = 616000000 div 484 = 1272727,
    // bm25 = 1909090; doc2: tfn = 308000000 div 290 = 1062068, bm25 = 1593102;
    // doc3 has no x
    assert(hits.toSeq == Seq((1L, 1909090L), (2L, 1593102L)))
    // conjunction: only doc2 has both x and z
    val and = TextFunctions.searchRanked(docs, "doc_id", "text", Seq("x", "z"), k = 5)
      .collect().map(_.getLong(0))
    assert(and.toSeq == Seq(2L))
  }

  test("searchRanked: duplicated query terms collapse instead of zeroing the result") {
    val docs = Seq((1L, "x x y"), (2L, "x z")).toDF("doc_id", "text")
    val dup = TextFunctions.searchRanked(docs, "doc_id", "text",
      Seq("x", "x"), k = 5).collect().map(_.getLong(0)).toSet
    assert(dup == Set(1L, 2L))
  }

  test("asofRead rejects probe columns colliding with history columns") {
    import java.sql.Timestamp
    def t(s: Int) = Timestamp.valueOf(f"2024-01-0${s}%d 00:00:00")
    val ev = Seq((1L, t(2), "A")).toDF("user_id", "ts", "state")
    val hist = graft.operators.Temporal.scd2(ev, Seq("user_id"), "ts", Seq("state"))
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Temporal.asofRead(hist,
        ev.withColumnRenamed("ts", "probe_ts"), Seq("user_id"), "probe_ts")
    }
    assert(ex.getMessage.contains("state"))
  }

  // ---- plan-shape scale claims ----

  test("qualityFilter plan has zero exchanges (pure scan-side map)") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = TextFunctions.qualityFilter(docs, "doc_id", "text", Seq("a"))
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"quality filter must not shuffle, found ${exchanges.size} exchange(s)")
  }

  test("histQuantiles read-out never re-scans data: only the materialized sketch") {
    val df = (1L to 100L).map(("g", _)).toDF("g", "v")
    val buckets = Sketches.histBuckets(df, "g", "v")
    // the read-out consumes the sketch twice (cum + totals); the sketch is
    // checkpointed so the plan scans ONLY the materialized KB-sized RDD —
    // the original data relation must not appear at all
    val plan = Sketches.histQuantiles(buckets, Seq(500, 900))
      .queryExecution.optimizedPlan
    val dataScans = plan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(dataScans.isEmpty,
      s"read-out must scan only the materialized sketch, found ${dataScans.size} data scans")
  }

  test("neighborAgg: undirected aggregation with exact floor means, self-loops dropped") {
    // star: 1-2, 1-3, 1-4 plus a self loop on 1; features 2→10, 3→20, 4→31
    val edges = Seq((1L, 2L), (1L, 3L), (4L, 1L), (1L, 1L)).toDF("src", "dst")
    val feats = Seq((1L, 100L), (2L, 10L), (3L, 20L), (4L, 31L)).toDF("node", "f")
    val out = Centrality.neighborAgg(edges, feats, "f")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(1L) == ((3L, 61L, 10L, 31L, 20L)))  // mean = 61 div 3 = 20
    assert(out(2L) == ((1L, 100L, 100L, 100L, 100L)))
    assert(out(4L) == ((1L, 100L, 100L, 100L, 100L)))
  }

  // ---- nearestSeed ----

  test("nearestSeed: exact distances, same-distance ties take the smallest label") {
    //  10 - 1 - 2 - 20 ; node 1 and 2 are 1 hop from both seeds via center? no:
    //  seeds 10 (label 10) and 20 (label 20); chain 10-1-2-20 both directions
    val base = Seq((10L, 1L), (1L, 2L), (2L, 20L), (1L, 99L), (99L, 1L))
    val edges = (base ++ base.map(_.swap)).toDF("src", "dst")
    val seeds = Seq((10L, 10L), (20L, 20L)).toDF("node", "label")
    val out = Fixpoint.nearestSeed(edges, seeds, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(1)))).toMap
    assert(out(10L) == ((0L, 10L)))
    assert(out(20L) == ((0L, 20L)))
    assert(out(1L) == ((1L, 10L)))   // 1 hop from seed 10, 2 from seed 20
    assert(out(2L) == ((1L, 20L)))   // symmetric
    assert(out(99L) == ((2L, 10L)))  // via node 1
  }

  test("winsorize clamps into the percentile band, keeps every row, flags clamps") {
    // group g: values 1..20 → p05 cut = value at rank ceil(.05*20)=1 → 1,
    // p95 cut = rank ceil(.95*20)=19 → 19; only 20 clamps down
    val df = (1L to 20L).map(v => (v, "g", v)).toDF("id", "grp", "v")
    val out = TextFunctions.winsorize(df, "id", "grp", "v", 0.05, 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(out.size == 20)
    assert(out(20L) == ((19L, true)))
    assert(out(19L) == ((19L, false)))
    assert(out(1L) == ((1L, false)))
    // tighter band: 10% trims both tails (rank 2 → 2, rank 18 → 18)
    val tight = TextFunctions.winsorize(df, "id", "grp", "v", 0.10, 0.90)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(tight(1L) == 2L && tight(20L) == 18L && tight(10L) == 10L)
  }

  // ---- degenerate inputs ----

  test("new operators tolerate empty/degenerate inputs") {
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Centrality.kCore(noEdges, k = 2L).isEmpty)
    assert(Centrality.clusteringCoefficient(noEdges).isEmpty)
    assert(Centrality.neighborAgg(noEdges,
      Seq((1L, 5L)).toDF("node", "f"), "f").isEmpty)
    // no seeds: nothing to label
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    assert(Fixpoint.nearestSeed(edges,
      Seq.empty[(Long, Long)].toDF("node", "label"), maxDepth = 3).isEmpty)
    // single-value histogram: every quantile reads the one bucket
    val one = Sketches.histQuantiles(
      Sketches.histBuckets(Seq(("g", 100L)).toDF("g", "v"), "g", "v"),
      Seq(1, 500, 1000))
      .collect().map(_.getLong(3)).toSet
    assert(one == Set(100L))
    // all-singleton corpus: every doc is its own representative
    val solo = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val reps = Dedup.representatives(solo, "doc_id", "text", 500000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(reps == Map(1L -> true, 2L -> true))
  }

  test("nearestSeed: maxDepth bounds the reach; equidistant node takes min label") {
    val base = Seq((10L, 1L), (20L, 1L), (1L, 2L), (2L, 3L))
    val edges = (base ++ base.map(_.swap)).toDF("src", "dst")
    val seeds = Seq((10L, 77L), (20L, 33L)).toDF("node", "label")
    val out = Fixpoint.nearestSeed(edges, seeds, maxDepth = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(1)))).toMap
    assert(out(1L) == ((1L, 33L)))   // tie between labels 77 and 33
    assert(out(2L) == ((2L, 33L)))
    assert(!out.contains(3L))        // 3 hops: beyond maxDepth
  }
}
