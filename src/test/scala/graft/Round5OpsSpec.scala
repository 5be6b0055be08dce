package graft

import org.apache.spark.sql.functions._

import graft.graph.{Centrality, Layout}
import graft.operators.{BloomJoin, Temporal}
import graft.text.{Sampling, TextFunctions}

/** Round-5 operators: SCD2 history, line-level dedup, weighted sampling,
  * URL census, z-order layout, triangle counting, Bloom join pruning. */
class Round5OpsSpec extends SparkSuite {
  import spark.implicits._

  // ---- scd2 ----

  test("scd2 collapses runs, closes intervals half-open, flags the open one") {
    val obs = Seq((7L, 1L, "A"), (7L, 2L, "A"), (7L, 3L, "B"), (7L, 4L, "A"))
      .toDF("k", "t", "s")
    val out = Temporal.scd2(obs, Seq("k"), "t", Seq("s"))
      .select("s", "valid_from", "valid_to", "is_current")
      .as[(String, Long, Option[Long], Boolean)].collect().sortBy(_._2)
    assert(out.toSeq == Seq(
      ("A", 1L, Some(3L), false),
      ("B", 3L, Some(4L), false),
      ("A", 4L, None, true)))
  }

  test("scd2 keeps a leading null-state run as its own interval") {
    val obs = Seq((7L, 1L, null.asInstanceOf[String]), (7L, 5L, "A"))
      .toDF("k", "t", "s")
    val out = Temporal.scd2(obs, Seq("k"), "t", Seq("s"))
      .select("s", "valid_from", "valid_to")
      .as[(Option[String], Long, Option[Long])].collect().sortBy(_._2)
    assert(out.toSeq == Seq((None, 1L, Some(5L)), (Some("A"), 5L, None)))
  }

  test("scd2 keeps keys independent and handles single-state keys") {
    val obs = Seq((1L, 10L, "X"), (2L, 10L, "Y"), (2L, 20L, "Y")).toDF("k", "t", "s")
    val out = Temporal.scd2(obs, Seq("k"), "t", Seq("s"))
      .select("k", "s", "is_current").as[(Long, String, Boolean)].collect().toSet
    assert(out == Set((1L, "X", true), (2L, "Y", true)))
  }

  test("new operators reject reserved/missing column contracts up front") {
    val ev = Seq((1L, 1L, "A")).toDF("k", "t", "s")
    intercept[IllegalArgumentException] {
      Temporal.scd2(ev.withColumnRenamed("s", "valid_from"), Seq("k"), "t",
        Seq("valid_from"))
    }
    intercept[IllegalArgumentException] {
      Temporal.scd2(ev, Seq("k"), "missing_time", Seq("s"))
    }
    val chunks = Seq(("s", 1L, 10L, 0L)).toDF("stream", "idx", "n_tok", "bin")
    intercept[IllegalArgumentException] {
      TextFunctions.packSequences(chunks, "stream", Seq("idx"), "n_tok", 512L)
    }
    val bin = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    intercept[IllegalArgumentException] {
      graft.multimodal.Multimodal.phashPairs(bin, "id", "payload", 3)
    }
  }

  // ---- lineDedup ----

  test("lineDedup drops only lines at/above the doc-frequency threshold, in order") {
    val docs = Seq(
      (1L, "alpha\ncommon\nbeta"),
      (2L, "gamma\ncommon\ndelta"),
      (3L, "common\ncommon"), // duplicate within one doc: df is still 3
      (4L, "solo\nsolo\nepsilon")) // df(solo)=1 -> both occurrences kept
      .toDF("doc_id", "text")
    val out = TextFunctions.lineDedup(docs, "doc_id", "text", "\n", maxDocFreq = 3)
      .select("doc_id", "kept_text", "n_lines", "n_kept")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1L, "alpha\nbeta", 3L, 2L)))
    assert(out(1) == ((2L, "gamma\ndelta", 3L, 2L)))
    assert(out(2) == ((3L, "", 2L, 0L))) // fully-boilerplate doc stays, empty
    assert(out(3) == ((4L, "solo\nsolo\nepsilon", 3L, 3L)))
  }

  test("lineDedup treats regex-metacharacter delimiters literally") {
    val docs = Seq((1L, "keep one|common"), (2L, "keep two|common"),
      (3L, "common|solo line")).toDF("doc_id", "text")
    val out = TextFunctions.lineDedup(docs, "doc_id", "text", "|", maxDocFreq = 3)
      .select("doc_id", "kept_text", "n_lines").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    // '|' unquoted would split between every character; literally it
    // yields two lines per doc, and only 'common' (df=3) is dropped
    assert(out.toSeq == Seq((1L, "keep one", 2L), (2L, "keep two", 2L),
      (3L, "solo line", 2L)))
  }

  // ---- weightedTopK ----

  test("weightedTopK is deterministic and biased toward heavy rows") {
    val rows = (1L to 1000L).map(i => (i, if (i <= 500) 1000L else 1L))
    val df = rows.toDF("k", "w")
    val a = Sampling.weightedTopK(df, "k", col("w"), 100)
      .select("k").as[Long].collect().toSet
    val b = Sampling.weightedTopK(df.repartition(7), "k", col("w"), 100)
      .select("k").as[Long].collect().toSet
    assert(a == b, "sample must not depend on partitioning")
    assert(a.count(_ <= 500) >= 90, s"heavy rows should dominate, got ${a.count(_ <= 500)}")
  }

  // ---- URL census ----

  test("domainCensus counts mentions and distinct citing docs per domain") {
    val docs = Seq(
      (1L, "see https://a.com/x and https://a.com/y plus http://b.org/z"),
      (2L, "again https://a.com/q")).toDF("doc_id", "text")
    val rows = TextFunctions.domainCensus(docs, "doc_id", "text")
      .select("domain", "n_urls", "n_docs").as[(String, Long, Long)].collect().toSet
    assert(rows == Set(("a.com", 3L, 2L), ("b.org", 1L, 1L)))
  }

  // ---- z-order ----

  test("zValue round-trips through zInverse for random 16-bit points") {
    val rnd = new scala.util.Random(7)
    val pts = (1 to 500).map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val df = pts.toDF("x", "y")
    val (xi, yi) = Layout.zInverse(Layout.zValue(col("x"), col("y")))
    val bad = df.select(col("x"), col("y"), xi.as("x2"), yi.as("y2"))
      .filter(col("x") =!= col("x2") || col("y") =!= col("y2")).count()
    assert(bad == 0L)
  }

  test("zValue interleaves bits (hand-checked corners)") {
    val out = Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (3L, 5L))
      .toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y")).as("z")).as[Long].collect().toSeq
    // x bits at even positions, y bits at odd: (3,5) = x=11b, y=101b
    // -> z = y2 x2 y1 x1 y0 x0 = 1 0 0 1 1 1 b = 0b100111 = 39
    assert(out == Seq(0L, 0x55555555L, 0xAAAAAAAAL, 39L))
  }

  test("graft_zvalue is callable from plain SQL after registration") {
    GraftExtensions.register(spark)
    val out = spark.sql("SELECT graft_zvalue(3, 5) AS z").as[Long].head()
    assert(out == 39L)
  }

  test("writeZOrdered produces files with disjoint z ranges (skippable on both dims)") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 4000).map(_ =>
      (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)).toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    Layout.writeZOrdered(df, dir, col("x"), col("y"), numFiles = 8)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length >= 2)
    val ranges = files.toSeq.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .select(min(Layout.zValue(col("x"), col("y"))).as("lo"),
          max(Layout.zValue(col("x"), col("y"))).as("hi"))
        .as[(Long, Long)].head()
      r
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 <= lo2, "file z ranges must not overlap")
      case _ =>
    }
  }

  // ---- triangles ----

  test("triangleCount on a hand-computed graph, robust to dup/reversed edges") {
    // K4 minus edge (1,4): triangles {1,2,3} and {2,3,4}
    val edges = Seq((1L, 2L), (3L, 1L), (2L, 3L), (2L, 4L), (4L, 3L),
      (2L, 1L), (2L, 3L), (3L, 3L)) // reversed dup, repeat, self-loop
      .toDF("src", "dst")
    val out = Centrality.triangleCount(edges)
      .select("node", "n_triangles").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("triangleCount reports 0 for nodes outside any triangle") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 9L)).toDF("src", "dst")
    val out = Centrality.triangleCount(edges)
      .select("node", "n_triangles").as[(Long, Long)].collect().toMap
    assert(out(9L) == 0L && out(1L) == 1L)
  }

  test("dangling redistribution conserves rank mass within floor error") {
    // star into a sink: node 0..9 -> 100 (100 is dangling)
    val edges = (0L to 9L).map(s => (s, 100L)).toDF("src", "dst")
    val n = 11L
    val leaky = Centrality.pagerank(edges, iterations = 5)
      .agg(org.apache.spark.sql.functions.sum("rank_x1e6")).as[Long].head()
    val conserved = Centrality.pagerank(edges, iterations = 5,
        redistributeDangling = true)
      .agg(org.apache.spark.sql.functions.sum("rank_x1e6")).as[Long].head()
    // without the term the sink's whole mass leaks every round; with it,
    // total stays within per-round floor loss (< N ppm per round)
    assert(leaky < n * 1000000L * 8 / 10)
    assert(conserved > n * 1000000L - 5 * n * 100 && conserved <= n * 1000000L)
  }

  test("degree orientation bounds a low-id hub's wedge fan-out") {
    // Node 0 is a 60-spoke hub with the LOWEST id: an id-ordered
    // orientation would keep all 60 out-neighbors (Σ deg⁺² = 3600
    // wedges); compact-forward must point every spoke→hub edge AT the
    // hub, leaving the hub 0 out-neighbors. Spokes 1..60 each have
    // degree 1-2 (a few spoke-spoke edges form triangles).
    val star = (1L to 60L).map(s => (0L, s))
    val rim = Seq((1L, 2L), (3L, 4L)) // two triangles with the hub
    val edges = (star ++ rim).toDF("src", "dst")
    val outdeg = Centrality.orientByDegree(Centrality.undirected(edges))
      .groupBy("u").agg(count(lit(1)).as("d"))
      .as[(Long, Long)].collect().toMap
    assert(!outdeg.contains(0L), s"hub must have out-degree 0, got ${outdeg.get(0L)}")
    assert(outdeg.values.max <= 2)
    // and the counts are still right: hub is in both rim triangles
    val tri = Centrality.triangleCount(edges)
      .select("node", "n_triangles").as[(Long, Long)].collect().toMap
    assert(tri(0L) == 2L && tri(1L) == 1L && tri(4L) == 1L && tri(5L) == 0L)
  }

  // ---- funnel ----

  test("funnel requires stage order and carries nulls after abandonment") {
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "buy"),   // full funnel
      (2L, 10L, "view"), (2L, 5L, "click"),                      // click BEFORE view: no stage 2
      (3L, 10L, "view"),                                         // abandoned after view
      (4L, 10L, "click"), (4L, 20L, "buy")                       // never viewed: absent
    ).toDF("user_id", "ts", "etype")
    val out = graft.operators.Funnel.funnel(ev, "user_id", "ts",
        Seq("v" -> (col("etype") === "view"),
          "c" -> (col("etype") === "click"),
          "b" -> (col("etype") === "buy")))
      .select("user_id", "v", "c", "b")
      .as[(Long, Long, Option[Long], Option[Long])].collect()
      .map { case (k, v, c, b) => k -> ((v, c, b)) }.toMap
    assert(out == Map(
      1L -> ((10L, Some(20L), Some(30L))),
      2L -> ((10L, None, None)),
      3L -> ((10L, None, None))))
  }

  test("funnel accepts same-timestamp progression (at-or-after)") {
    val ev = Seq((1L, 10L, "view"), (1L, 10L, "click")).toDF("user_id", "ts", "etype")
    val out = graft.operators.Funnel.funnel(ev, "user_id", "ts",
        Seq("v" -> (col("etype") === "view"), "c" -> (col("etype") === "click")))
      .select("c").as[Option[Long]].head()
    assert(out.contains(10L))
  }

  // ---- sequence packing ----

  test("packSequences splits on write: a straddling chunk stays in its start bin") {
    // stream s: tokens 300, 300, 100 with target 512
    // chunk1: before=0   -> bin 0
    // chunk2: before=300 -> bin 0 (straddles 512; stays where it started)
    // chunk3: before=600 -> bin 1
    val chunks = Seq(("s", 1L, 300L), ("s", 2L, 300L), ("s", 3L, 100L))
      .toDF("stream", "idx", "n_tok")
    val out = TextFunctions.packSequences(chunks, "stream", Seq("idx"), "n_tok", 512L)
      .select("idx", "bin").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("packSequences keeps streams independent and is partitioning-invariant") {
    val chunks = (1L to 200L).map(i => (s"s${i % 3}", i, 100L))
      .toDF("stream", "idx", "n_tok")
    val a = TextFunctions.packSequences(chunks, "stream", Seq("idx"), "n_tok", 256L)
      .select("stream", "idx", "bin").as[(String, Long, Long)].collect().toSet
    val b = TextFunctions.packSequences(chunks.repartition(7), "stream", Seq("idx"),
        "n_tok", 256L)
      .select("stream", "idx", "bin").as[(String, Long, Long)].collect().toSet
    assert(a == b)
    // 100-token chunks into 256-token bins -> bins hold 2-3 chunks each
    val sizes = a.groupBy(r => (r._1, r._3)).view.mapValues(_.size).values.toSet
    assert(sizes.subsetOf(Set(2, 3)))
  }

  // ---- interpolated percentiles ----

  test("groupPercentilesCont interpolates between ranks (hand-checked)") {
    // group g: values 10,20,30,40 -> p50 at h=0.5*3+1=2.5 -> 20 + 0.5*10 = 25
    val df = Seq(("g", 10L), ("g", 20L), ("g", 30L), ("g", 40L)).toDF("k", "v")
    val out = TextFunctions.groupPercentilesCont(df, "k", "v", Seq("p50" -> 0.5))
      .select("n_rows", "p50").as[(Long, Long)].head()
    assert(out == ((4L, 25000000L)))
  }

  test("groupPercentilesCont handles single-row groups (no upper neighbor)") {
    val df = Seq(("g", 7L)).toDF("k", "v")
    val out = TextFunctions.groupPercentilesCont(df, "k", "v",
        Seq("p50" -> 0.5, "p99" -> 0.99))
      .select("p50", "p99").as[(Long, Long)].head()
    assert(out == ((7000000L, 7000000L)))
  }

  // ---- perceptual hash ----

  test("aHash32 is stable under small edits and phashPairs finds the near pair") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val docs = Seq(
      (1L, base),
      (2L, "zzz" + base.drop(3)),          // small corruption -> near 1
      (3L, base.reverse + "completely different content entirely "))
      .toDF("doc_id", "text")
    val pairs = graft.multimodal.Multimodal.phashPairs(docs, "doc_id", "text", k = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("phashPairs reports each candidate pair once despite multi-chunk agreement") {
    // identical payloads agree on ALL four chunks; distinct() must dedup
    val docs = Seq((1L, "same same same payload bytes here"),
      (2L, "same same same payload bytes here")).toDF("doc_id", "text")
    val rows = graft.multimodal.Multimodal.phashPairs(docs, "doc_id", "text", k = 0)
      .collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("hamming") == 0L)
  }

  // ---- IVF-PQ ----

  test("ivfPqTopK equals bruteForceTopK in the exhaustive limit") {
    import graft.similarity.Similarity
    val rnd = new scala.util.Random(19)
    val embs = (0L until 60L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1), 0)).toDF("vec_id", "embedding", "label")
    val q = Similarity.quantized(embs)
    val queries = q.filter(col("vec_id") < 5)
    // probe every cell, rerank the whole corpus -> the PQ shortlist cannot
    // drop anything and the exact re-rank must reproduce brute force
    val exhaustive = Similarity.ivfPqTopK(queries, q, k = 3,
        nCentroids = 4, nProbe = 4, rerank = 60)
      .select("query_id", "rank", "neighbor_id", "cos_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(queries, q, k = 3)
      .select("query_id", "rank", "neighbor_id", "cos_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(exhaustive == brute)
    // the non-broadcast fallback (query side past the broadcast ceiling)
    // is the same exact scan, just shuffled: results identical
    val shuffled = Similarity.bruteForceTopK(queries, q, k = 3,
        broadcastQueries = false)
      .select("query_id", "rank", "neighbor_id", "cos_x1e6")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(shuffled == brute)
  }

  test("ivfPqTopK never returns the query itself and respects k") {
    import graft.similarity.Similarity
    val rnd = new scala.util.Random(23)
    val embs = (0L until 80L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat()), 0)).toDF("vec_id", "embedding", "label")
    val q = Similarity.quantized(embs)
    val out = Similarity.ivfPqTopK(q.filter(col("vec_id") < 6), q, k = 2, rerank = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(out.forall { case (a, b) => a != b })
    assert(out.groupBy(_._1).values.forall(_.length <= 2))
  }

  // ---- bloom join ----

  test("weightedTopK drops zero/negative-weight rows instead of erroring") {
    val df = Seq((1L, 10L), (2L, 0L), (3L, -5L), (4L, 10L)).toDF("k", "w")
    val kept = Sampling.weightedTopK(df, "k", col("w"), 10)
      .select("k").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
  }

  test("bloom prefilteredJoin with an empty dim side yields an empty result") {
    val big = (0L until 100L).map(i => (i, i)).toDF("bk", "v")
    val small = Seq.empty[(Long, String)].toDF("sk", "name")
    val out = BloomJoin.prefilteredJoin(big, "bk", small, "sk", expectedItems = 10L)
    assert(out.count() == 0L)
  }

  test("bloom prefilteredJoin equals the plain join and never drops matches") {
    val big = (0L until 2000L).map(i => (i, s"row$i")).toDF("bk", "payload")
    val small = (0L until 200L).map(i => (i * 10L, s"dim$i")).toDF("sk", "name")
    val expect = big.join(small, col("bk") === col("sk"))
      .select("bk", "name").as[(Long, String)].collect().toSet
    val got = BloomJoin.prefilteredJoin(big, "bk", small, "sk", expectedItems = 1000L)
      .select("bk", "name").as[(Long, String)].collect().toSet
    assert(got == expect && expect.size == 200)
  }

  test("bloom filter prunes non-matching rows before the join") {
    val big = (0L until 10000L).map(i => (i, i)).toDF("bk", "v")
    val small = Seq(3L, 77L, 4096L).toDF("sk")
    val bloom = BloomJoin.buildBloom(small, "sk", expectedItems = 100L)
    val kept = big.filter(BloomJoin.mightContain(bloom, col("bk"))).count()
    // no false negatives, and the FP rate at this sizing is ~0
    assert(kept >= 3 && kept < 100, s"expected aggressive pruning, kept $kept")
  }
}
