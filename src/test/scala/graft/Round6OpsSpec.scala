package graft

import org.apache.spark.sql.functions._

import graft.graph.Fixpoint
import graft.operators.StringJoin
import graft.text.{Sampling, Sketches, TextFunctions}

/** Round-6 operators: inverted index, collocations, group outliers,
  * hash split, KMV/Count-Min/HLL sketches, edit-distance join, BFS. */
class Round6OpsSpec extends SparkSuite {
  import spark.implicits._

  // ---- inverted index ----

  test("invertedIndex: sorted postings, df band drops hapax and stop-terms") {
    val docs = Seq(
      (3L, "x common"), (1L, "x common"), (2L, "x rare"),
      (4L, "x x x")).toDF("doc_id", "text")
    val out = TextFunctions.invertedIndex(docs, "doc_id", "text", 2L, 3L)
      .as[(String, Long, String)].collect().map { case (w, d, p) => w -> ((d, p)) }.toMap
    // "x" appears in 4 docs (> maxDf), "rare" in 1 (< minDf), "common" in 2
    assert(out == Map("common" -> (2L, "1,3")))
  }

  test("invertedIndex counts a doc once however often the term repeats") {
    val docs = Seq((1L, "a a a"), (2L, "a")).toDF("doc_id", "text")
    val out = TextFunctions.invertedIndex(docs, "doc_id", "text", 1L, 10L)
      .as[(String, Long, String)].collect()
    assert(out.toSeq == Seq(("a", 2L, "1,2")))
  }

  // ---- collocations ----

  test("collocations: lift ranks the always-together pair above the common one") {
    // "tight pair" always adjacent; "of the" adjacent but both words common
    val docs = Seq(
      (1L, "tight pair of the day"), (2L, "tight pair of the night"),
      (3L, "the day of days"), (4L, "the night of nights"))
      .toDF("doc_id", "text")
    val out = TextFunctions.collocations(docs, "doc_id", "text", 2L, 3)
      .select("wa", "wb", "lift_x1e3").as[(String, String, Long)].collect()
    assert(out.head._1 == "tight" && out.head._2 == "pair")
    // T = 4+4+3+3 = 14 bigrams; n_pair=2, n_first(tight)=2, n_second(pair)=2
    // -> lift = 1000*2*14 div (2*2) = 7000
    assert(out.head._3 == 7000L)
  }

  test("collocations: minCount floors support; single-token docs contribute nothing") {
    val docs = Seq((1L, "solo"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextFunctions.collocations(docs, "doc_id", "text", 2L, 5).collect()
    assert(out.isEmpty)
  }

  // ---- group outliers ----

  test("groupOutliers flags exactly the |x-mean| > z*sigma rows, per group") {
    // NOTE: nine-equal-plus-one at n=10 sits EXACTLY on the 3-sigma
    // boundary ((n x - S1)^2 = 9(n S2 - S1^2)) and must NOT flag (strict >).
    val boundary = (1L to 9L).map(i => (i, "g1", 10L)) :+ ((10L, "g1", 110L))
    // n=11: ten 10s and one 100 -> (11*100-200)^2 = 810000 >
    // 9*(11*11000-200^2) = 729000 -> flagged
    val over = (11L to 20L).map(i => (i, "g2", 10L)) :+ ((21L, "g2", 100L))
    val df = (boundary ++ over).toDF("doc_id", "grp", "v")
    val out = TextFunctions.groupOutliers(df, "doc_id", "grp", "v", 3)
      .filter(col("is_outlier")).select("doc_id").as[Long].collect().toSet
    assert(out == Set(21L))
  }

  // ---- hash split ----

  test("hashSplit covers every row, is key-deterministic, widths sum enforced") {
    val df = (1L to 1000L).toDF("k")
    val splits = Seq(("train", 800000L), ("valid", 100000L), ("test", 100000L))
    val out = Sampling.hashSplit(df, "k", splits)
    assert(out.count() == 1000L)
    val bySplit = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(bySplit.keySet.subsetOf(Set("train", "valid", "test")))
    assert(bySplit.values.sum == 1000L)
    assert(bySplit("train") > bySplit.getOrElse("valid", 0L))
    // determinism: same assignment under different partitioning
    val again = Sampling.hashSplit(df.repartition(7), "k", splits)
      .as[(Long, String)].collect().toMap
    val first = out.as[(Long, String)].collect().toMap
    assert(again == first)
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, "k", Seq(("a", 1L)))
    }
  }

  // ---- sketches ----

  test("KMV: below k the count is exact; above k the estimate is in range") {
    val small = Seq.tabulate(10)(i => ("g", s"v$i")).toDF("grp", "v")
    val s = Sketches.kmvDistinct(small, "grp", "v", 32)
      .select("est_distinct", "n_true").as[(Long, Long)].head()
    assert(s == ((10L, 10L)))
    val big = Seq.tabulate(5000)(i => ("g", s"v$i")).toDF("grp", "v")
    val b = Sketches.kmvDistinct(big, "grp", "v", 32)
      .select("est_distinct", "n_true").as[(Long, Long)].head()
    // 32-minimum estimator at n=5000: well within 3x either way
    assert(b._1 > 1600L && b._1 < 15000L)
  }

  test("Count-Min: estimates never underestimate and match absent-collision truth") {
    val counts = Seq(("a", 100L), ("b", 7L), ("c", 1L)).toDF("k", "cnt")
    val sk = Sketches.countMinSketch(counts, "k", "cnt", 4, 64)
    val est = Sketches.countMinLookup(sk, counts, "k", 4, 64)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    est.foreach { case (_, (truth, e)) => assert(e >= truth) }
    // 3 keys in 64 buckets: no collisions, estimates exact
    assert(est.forall { case (_, (truth, e)) => e == truth })
  }

  test("Count-Min sketch merges across partitions: cell-wise sums are stable") {
    val counts = (1 to 500).map(i => (s"k${i % 50}", 1L)).toDF("k", "cnt")
    val a = Sketches.countMinSketch(counts, "k", "cnt", 2, 16)
      .as[(Long, Long, Long)].collect().toSet
    val b = Sketches.countMinSketch(counts.repartition(13), "k", "cnt", 2, 16)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b)
    // total mass per row j equals the true total (toSeq: a Set would
    // dedup equal cell counts before the sum)
    assert(a.groupBy(_._1).values.forall(_.toSeq.map(_._3).sum == 500L))
  }

  test("HLL: duplicate-insensitive, estimate within the m=64 error envelope") {
    val dup = (1 to 3).flatMap(_ => Seq.tabulate(1000)(i => ("g", s"v$i")))
      .toDF("grp", "v")
    val r = Sketches.hllEstimate(dup, "grp", "v")
      .select("est_distinct", "n_true").as[(Long, Long)].head()
    assert(r._2 == 1000L)
    // raw HLL at m=64 (~13% sigma): accept 2.5 sigma
    assert(math.abs(r._1 - 1000L) < 330L)
  }

  // ---- edit-distance join ----

  test("editDistanceJoin matches within blocks only, exact distances") {
    val left = Seq((1L, "red widget"), (2L, "blue bolt")).toDF("id", "name")
    val right = Seq(
      (10L, "red widgex"),  // dist 1, same block
      (11L, "red gimmick"), // dist 5 -> dropped at k=2
      (12L, "blue bolt"),   // dist 0
      (13L, "teal bolt")    // different block (would be dist 2)
    ).toDF("id", "name")
    val out = StringJoin.editDistanceJoin(left, right, "id", "name", 2)
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 10L, 1L), (2L, 12L, 0L)))
  }

  test("editDistanceJoin length band prunes before levenshtein") {
    val left = Seq((1L, "a bb")).toDF("id", "name")
    val right = Seq((2L, "a bbcccc")).toDF("id", "name") // len diff 4 > k
    assert(StringJoin.editDistanceJoin(left, right, "id", "name", 2).count() == 0)
  }

  // ---- BFS ----

  test("bfsDistances labels minimum hop distance, bounded by maxDepth") {
    // 1 -> 2 -> 3 -> 4 and shortcut 1 -> 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = Fixpoint.bfsDistances(edges, seeds, 10)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    val capped = Fixpoint.bfsDistances(edges, seeds, 1)
      .as[(Long, Long)].collect().toMap
    assert(capped == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("bfsDistances handles cycles and maxDepth 0") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    assert(Fixpoint.bfsDistances(edges, seeds, 5).as[(Long, Long)].collect().toMap
      == Map(1L -> 0L, 2L -> 1L))
    assert(Fixpoint.bfsDistances(edges, seeds, 0).as[(Long, Long)].collect().toMap
      == Map(1L -> 0L))
  }
}
