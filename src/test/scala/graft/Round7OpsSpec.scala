package graft

import org.apache.spark.sql.functions._

import graft.graph.Fixpoint
import graft.text.TextFunctions

/** Round-7 operators: cross-doc repeated-span census, weighted SSSP. */
class Round7OpsSpec extends SparkSuite {
  import spark.implicits._

  // ---- repeatedSpans ----

  test("repeatedSpans: cross-doc spans count, within-doc repeats do not") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),   // shares "the quick brown fox" with doc 2
      (2L, "the quick brown fox sleeps"),
      (3L, "aa bb cc dd aa bb cc dd"),     // repeated WITHIN one doc only
      (4L, "too short")                    // < 4 tokens: zero windows
    ).toDF("doc_id", "text")
    val out = Fixtures.collectMap(
      TextFunctions.repeatedSpans(docs, "doc_id", "text", w = 4, minDocs = 2L))
    assert(out(1L) == (2L, 1L, 500000L))  // 2 windows, 1 shared
    assert(out(2L) == (2L, 1L, 500000L))
    assert(out(3L) == (5L, 0L, 0L))       // dup windows, but single-doc
    assert(out(4L) == (0L, 0L, 0L))
  }

  test("removeRepeatedSpans deletes covered tokens and reassembles in order") {
    val docs = Seq(
      (1L, "intro the quick brown fox outro"),
      (2L, "the quick brown fox"),           // fully covered -> empty
      (3L, "unrelated words entirely here")
    ).toDF("doc_id", "text")
    val out = TextFunctions.removeRepeatedSpans(docs, "doc_id", "text", 4, 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == (6L, 4L, "intro outro"))
    assert(out(2L) == (4L, 4L, ""))
    assert(out(3L) == (4L, 0L, "unrelated words entirely here"))
  }

  test("repeatedSpans: minDocs raises the sharing bar") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c d"),
      (4L, "e f g h"), (5L, "e f g h")
    ).toDF("doc_id", "text")
    val out = Fixtures.collectMap(
      TextFunctions.repeatedSpans(docs, "doc_id", "text", w = 4, minDocs = 3L))
    assert(out(1L)._2 == 1L)  // abcd in 3 docs: shared
    assert(out(4L)._2 == 0L)  // efgh in only 2 docs: below the bar
  }

  object Fixtures {
    def collectMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long)] =
      df.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  // ---- HLL mergeability ----

  test("hllMerge of arbitrary halves equals one direct register pass") {
    import graft.text.Sketches
    val rows = (1L to 300L).map(i => (s"g${i % 2}", s"w${i % 83}", i % 3))
      .toDF("g", "v", "p")
    val merged = Sketches.hllMerge(
      Sketches.hllMerge(
        Sketches.hllRegisters(rows.filter($"p" === 0), "g", "v"),
        Sketches.hllRegisters(rows.filter($"p" === 1), "g", "v")),
      Sketches.hllRegisters(rows.filter($"p" === 2), "g", "v"))
    val est = Sketches.hllEstimateFromRegisters(merged, rows, "e")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Sketches.hllEstimateFromRegisters(
        Sketches.hllRegisters(rows, "g", "v"), rows, "e")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == direct && est.keySet == Set("g0", "g1"))
  }

  // ---- lshCandidates ----

  test("lshCandidates is a superset of the verified minhash pairs") {
    import graft.dedup.Dedup
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),  // exact dup: every band collides
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val sh = Dedup.shingleTable(docs, "doc_id", "text")
    val cand = Dedup.lshCandidates(sh)
      .as[(Long, Long)].collect().toSet
    val verified = Dedup.minhashLsh(sh, 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(verified.subsetOf(cand) && verified.contains((1L, 2L)))
  }

  // ---- negativePairs ----

  test("negativePairs: k cross-label negatives per anchor, partition-invariant") {
    import graft.text.Sampling
    val items = (1L to 30L).map(i => (i, s"l${i % 3}")).toDF("id", "lab")
    val out = Sampling.negativePairs(items, "id", "lab", k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.length == 60)                       // 30 anchors x 2 draws
    val labelOf = (1L to 30L).map(i => i -> s"l${i % 3}").toMap
    assert(out.forall { case (a, _, n, nl) =>
      nl == labelOf(n) && nl != labelOf(a) && n != a })
    val again = Sampling.negativePairs(items.repartition(7), "id", "lab", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSet == again.toSet)
    intercept[IllegalArgumentException] {
      Sampling.negativePairs(items, "id", "lab", k = 3) // k must be < nLabels
    }
    intercept[IllegalArgumentException] {
      Sampling.negativePairs(items, "id", "lab", k = 0) // k must be >= 1
    }
  }

  test("negativePairs excludes null-label rows from anchors and strata") {
    import graft.text.Sampling
    val items = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, null))
      .toDF("id", "lab")
    val out = Sampling.negativePairs(items, "id", "lab", k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.length == 6)                         // 3 non-null anchors x 2
    assert(out.forall { case (a, n) => a != 4L && n != 4L })
  }

  // ---- IVF-PQ index persistence ----

  test("ivfPq save/load round trip serves identically to the in-plan path") {
    import graft.similarity.Similarity
    val rnd = new scala.util.Random(7)
    val embs = (0L until 50L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1), 0)).toDF("vec_id", "embedding", "label")
    val q = Similarity.quantized(embs).localCheckpoint(true)
    val queries = q.filter(col("vec_id") < 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.ivfPqSave(Similarity.ivfPqBuild(q), dir)
    val served = Similarity.ivfPqSearch(queries, q, Similarity.ivfPqLoad(spark, dir), k = 3)
      .select("query_id", "rank", "neighbor_id", "cos_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    val inPlan = Similarity.ivfPqTopK(queries, q, k = 3)
      .select("query_id", "rank", "neighbor_id", "cos_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(served == inPlan && served.nonEmpty)
  }

  // ---- pagerankPersonalized ----

  test("pagerankPersonalized: teleport mass stays on the seed cohort") {
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = graph.Centrality.pagerankPersonalized(edges, seeds, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r0: 1 -> 1e6, others 0. One round: node 1 = teleport only 150000;
    // node 2 = 0 + 85% of 1e6 = 850000; node 3 = 85% of (0+0) = 0;
    // node 4 (non-seed source) = 0
    assert(out == Map(1L -> 150000L, 2L -> 850000L, 3L -> 0L, 4L -> 0L))
  }

  test("pagerankPersonalized keeps edge-less seeds at the teleport floor") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("node")  // 99 touches no edge
    val out = graph.Centrality.pagerankPersonalized(edges, seeds, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 150000L, 2L -> 850000L, 99L -> 150000L))
  }

  test("canonicalUrl: host lowered, path case kept, tracking/frag/slash stripped") {
    val in = Seq(
      "https://A.Example.com/Path/X#frag",
      "https://a.example.com/Path/X?utm_source=a&utm_medium=b",
      "https://a.example.com/Path/X?utm_source=a&page=2",
      "http://a.example.com/",
      "https://a.example.com/p?page=2&gclid=zzz"
    ).toDF("url")
    val out = in.select(TextFunctions.canonicalUrl(col("url"))).as[String].collect()
    assert(out.toSeq == Seq(
      "https://a.example.com/Path/X",   // frag stripped, host lowered, Path case kept
      "https://a.example.com/Path/X",   // all-tracking query fully removed, no dangling ?
      "https://a.example.com/Path/X?page=2",
      "http://a.example.com",           // trailing slash
      "https://a.example.com/p?page=2"  // tail tracking param with its delimiter
    ))
  }

  test("bpeTrain census has no phantom trailing-empty pairs") {
    // every word ends in 'o': with Spark's empty-regex split artifact
    // unfiltered, the phantom (o, "") pair counts 5 and would win round
    // 1 over every real pair (count 1); the real top pair is (d, o)
    val docs = Seq((1L, "go so no to do")).toDF("doc_id", "text")
    val out = TextFunctions.bpeTrain(docs, "doc_id", "text", merges = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("g" -> 1L, "s" -> 1L, "n" -> 1L, "t" -> 1L,
      "o" -> 4L, "do" -> 1L))
  }

  // ---- lmScore ----

  test("lmScore: hand-computed bigram transition means") {
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b c"), (3L, "x")
    ).toDF("doc_id", "text")
    // unigrams a:3 b:3 c:1 x:1; bigrams (a,b):3 (b,a):1 (b,c):1
    // doc1: p = [1e6, 333333, 1e6] -> mean 777777
    // doc2: p = [1e6, 333333]      -> mean 666666
    // doc3: no bigrams -> zeros
    val out = TextFunctions.lmScore(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> (3L, 777777L), 2L -> (2L, 666666L), 3L -> (0L, 0L)))
  }

  // ---- bpeTrain ----

  test("bpeTrain follows the merge order and survives census dry-up") {
    val docs = Seq((1L, "low lower low"), (2L, "low lower")).toDF("doc_id", "text")
    // round-by-round: (l,o) ties (o,w) at 5, a-asc picks (l,o); then
    // (lo,w); then (e,r) beats (low,e) on a-asc; then (low,er); round 5
    // has no pairs left -> unchanged (the coalesce path)
    val out = TextFunctions.bpeTrain(docs, "doc_id", "text", merges = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("low" -> 3L, "lower" -> 2L))
  }

  test("bpeEncode applies the trained vocabulary in document order") {
    val docs = Seq((1L, "low lower low"), (2L, "low lower")).toDF("doc_id", "text")
    // after 2 merges: low -> "low", lower -> "low e r"
    val at2 = TextFunctions.bpeEncode(docs, "doc_id", "text", merges = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(at2 == Map(1L -> (5L, "low low e r low"), 2L -> (4L, "low low e r")))
    // after 4 merges both words are single symbols
    val at4 = TextFunctions.bpeEncode(docs, "doc_id", "text", merges = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(at4 == Map(1L -> (3L, "low lower low"), 2L -> (2L, "low lower")))
  }

  test("bpeTrain self-overlapping runs: bounded replace-to-fixpoint semantics") {
    // "a a a a a a" merging (a,a): pass 1 takes occurrences 1-2 and 4-5
    // (3 is delimiter-blocked), the residue has no adjacent singles left
    // -> [aa, a, aa, a], NOT single-pass-greedy's [aa, aa, aa]; pinned
    // here because the oracle applies the identical algorithm
    val docs = Seq((1L, "aaaaaa")).toDF("doc_id", "text")
    val out = TextFunctions.bpeTrain(docs, "doc_id", "text", merges = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("aa" -> 2L, "a" -> 2L))
  }

  // ---- sssp ----

  test("sssp takes the cheaper multi-hop path over the direct edge") {
    val edges = Seq(
      (1L, 2L, 10L),  // direct but expensive
      (1L, 3L, 1L), (3L, 2L, 2L),  // cheaper via 3
      (2L, 4L, 1L)
    ).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val out = Fixpoint.sssp(edges, seeds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 4L))
  }

  test("sssp: unreachable nodes are absent, multi-seed takes the min") {
    val edges = Seq(
      (1L, 2L, 5L), (6L, 2L, 1L),
      (9L, 10L, 1L)  // island not reachable from any seed
    ).toDF("src", "dst", "w")
    val seeds = Seq(1L, 6L).toDF("node")
    val out = Fixpoint.sssp(edges, seeds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 6L -> 0L, 2L -> 1L))
  }

  test("sssp converging exactly on the round budget does not throw") {
    // chain 1 -> 2 -> 3: needs exactly 2 relaxation rounds; the third
    // (confirmation) round must not be required to fit the budget
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val out = Fixpoint.sssp(edges, seeds, maxRounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("sssp matches an in-memory Dijkstra on random graphs") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val n = 12
      val edges = (1 to 30).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, (rnd.nextInt(9) + 1).toLong)
      }.filter { case (s, d, _) => s != d }.distinct
      val seeds = Seq(0L, (n / 2).toLong)
      // reference: plain Dijkstra over the adjacency list
      val adj = edges.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
      val dist = scala.collection.mutable.Map(seeds.map(_ -> 0L): _*)
      val pq = scala.collection.mutable.PriorityQueue(
        seeds.map(s => (0L, s)): _*)(Ordering.by(-_._1))
      while (pq.nonEmpty) {
        val (d, u) = pq.dequeue()
        if (dist(u) == d) adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (dist.get(v).forall(_ > d + w)) { dist(v) = d + w; pq.enqueue((d + w, v)) }
        }
      }
      val out = Fixpoint.sssp(edges.toDF("src", "dst", "w"), seeds.toDF("node"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == dist.toMap)
    }
  }

  test("sssp throws when the budget truncates genuinely unconverged paths") {
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    intercept[IllegalStateException] {
      Fixpoint.sssp(edges, seeds, maxRounds = 1)
    }
  }
}
