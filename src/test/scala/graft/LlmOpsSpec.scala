package graft

import org.apache.spark.sql.functions.col

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.Similarity

/** Behavior tests for the LLM-pipeline operators on tiny planted corpora
  * (the oracle battery covers the full determinism contract; these pin the
  * semantics: near-dups found, non-dups not, plumbing shapes right). */
class LlmOpsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again", "s"),
    // near-dup of 0: one appended token (3-gram jaccard ≈ 0.9)
    (1L, "the quick brown fox jumps over the lazy dog again and again extra", "s"),
    (2L, "completely different text about spark catalyst optimizer rules", "s"),
    (3L, "another unrelated document mentioning shuffles joins and scans", "s"),
  ).toDF("doc_id", "text", "source")

  test("minhash LSH finds the planted near-dup pair and nothing else") {
    val pairs = Dedup.minhashLsh(Dedup.shingleTable(corpus, "doc_id", "text"), 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("incremental minhash matches new batch to history only, agrees with full LSH") {
    val sh = Dedup.shingleTable(corpus, "doc_id", "text")
    // doc 1 is the "new batch"; its planted near-dup 0 is history
    val hits = Dedup.incrementalMinhash(
        oldShingled = sh.filter($"doc_id" =!= 1L),
        newShingled = sh.filter($"doc_id" === 1L), 500000L)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((1L, 0L)))
    // a batch with no history near-dup reports nothing (and never
    // produces history-history pairs)
    val none = Dedup.incrementalMinhash(
        oldShingled = sh.filter($"doc_id" =!= 2L),
        newShingled = sh.filter($"doc_id" === 2L), 500000L)
    assert(none.count() == 0)
  }

  test("lshIndexArtifact serves later syncs from the stored index, never the text") {
    val dir = java.nio.file.Files.createTempDirectory("lsh-index").toString + "/idx"
    val sh = Dedup.shingleTable(corpus, "doc_id", "text")
    val history = sh.filter($"doc_id" =!= 1L)
    val batch = sh.filter($"doc_id" === 1L)
    val idx = Dedup.lshIndexArtifact(spark, history, dir)
    val viaIndex = Dedup.incrementalMinhashIndexed(idx, batch, 500000L)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(viaIndex == Set((1L, 0L))) // same answer as the direct probe
    // poison the history input: a second artifact call with the same dir
    // must LOAD the stored signatures, not rebuild from the new input —
    // the probe still matches against the ORIGINAL corpus epoch
    val poisoned = Dedup.shingleTable(
      Seq((9L, "totally unrelated corpus now", "s"))
        .toDF("doc_id", "text", "source"), "doc_id", "text")
    val idx2 = Dedup.lshIndexArtifact(spark, poisoned, dir)
    val served = Dedup.incrementalMinhashIndexed(idx2, batch, 500000L)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(served == Set((1L, 0L)))
  }

  // hot-bucket guard fixture: 5 byte-identical boilerplate docs dominate
  // one band-bucket set; docs 10/11 are a distinct near-dup pair in a
  // cold bucket. Batch = one boilerplate probe (20) + the near-dup (11).
  private lazy val hotCorpus = (
    (0L until 5L).map(i => (i, "standard license header boilerplate common to every repo", "s")) ++
    Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again", "s"),
      (11L, "the quick brown fox jumps over the lazy dog again and again extra", "s"),
      (20L, "standard license header boilerplate common to every repo", "s"))
  ).toDF("doc_id", "text", "source")

  test("minhashLshIndexed over the stored index equals minhashLsh on the corpus") {
    val dir = java.nio.file.Files.createTempDirectory("lsh-selfidx").toString + "/idx"
    val sh = Dedup.shingleTable(corpus, "doc_id", "text")
    val direct = Dedup.minhashLsh(sh, 500000L)
      .select("doc_a", "doc_b", "jacc_x1e6")
      .as[(Long, Long, Long)].collect().toSet
    val idx = Dedup.lshIndexArtifact(spark, sh, dir)
    val viaIndex = Dedup.minhashLshIndexed(idx, 500000L)
      .select("doc_a", "doc_b", "jacc_x1e6")
      .as[(Long, Long, Long)].collect().toSet
    // byte-identical pairs AND scores: same band candidates, same exact
    // verification — one persisted epoch serves self-clustering and the
    // incremental probe without recomputing history minhashes
    assert(viaIndex == direct && direct.nonEmpty)
  }

  test("incrementalMinhashComplete pairs same-batch near-dups the probe alone misses") {
    val dir = java.nio.file.Files.createTempDirectory("lsh-complete").toString + "/idx"
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "s"),
      (2L, "completely different text about spark catalyst optimizer rules", "s"),
      // 5 and 10: near-dups OF EACH OTHER, unrelated to all history —
      // the same-sync arrival case
      (5L, "training data pipelines need deduplication at scale every day", "s"),
      (10L, "training data pipelines need deduplication at scale every day extra", "s"),
      // 15: near-dup of history doc 1 — the cross term must still fire
      (15L, "the quick brown fox jumps over the lazy dog again and again more", "s"))
      .toDF("doc_id", "text", "source")
    val sh = Dedup.shingleTable(docs, "doc_id", "text")
    val hist = sh.filter($"doc_id" % 5 =!= 0)
    val batch = sh.filter($"doc_id" % 5 === 0)
    val idx = Dedup.lshIndexArtifact(spark, hist, dir)
    val probeOnly = Dedup.incrementalMinhashIndexed(idx, batch, 500000L)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(probeOnly == Set((15L, 1L))) // the (5,10) pair is INVISIBLE here
    val complete = Dedup.incrementalMinhashComplete(idx, batch, 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(complete == Set((1L, 15L), (5L, 10L)))
  }

  test("incrementalMinhashComplete runs one band join and one verification: at most 3 jobs, 2 broadcasts") {
    val dir = java.nio.file.Files.createTempDirectory("lsh-budget").toString + "/idx"
    val sh = Dedup.shingleTable(Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different text about spark catalyst optimizer rules"),
      (5L, "training data pipelines need deduplication at scale every day"),
      (10L, "training data pipelines need deduplication at scale every day extra"),
      (15L, "the quick brown fox jumps over the lazy dog again and again more"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val idx = Dedup.lshIndexArtifact(spark, sh.filter($"doc_id" % 5 =!= 0), dir)
    // the streaming gates' session: one shuffle partition, no AQE
    val (pairs, starts) = withConf("spark.sql.shuffle.partitions" -> "1",
        "spark.sql.adaptive.enabled" -> "false") {
      jobStarts {
        Dedup.incrementalMinhashComplete(idx, sh.filter($"doc_id" % 5 === 0), 500000L)
          .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      }
    }
    assert(pairs == Set((1L, 15L), (5L, 10L)))
    val broadcasts = starts.count(e => Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .exists(_.contains("broadcast exchange")))
    info(s"${starts.size} jobs, $broadcasts broadcasts")
    assert(starts.size <= 3, s"${starts.size} jobs")
    assert(broadcasts <= 2, s"$broadcasts broadcast jobs")
  }

  test("hot-bucket skip mode drops only the hot-bucket candidates") {
    val sh = Dedup.shingleTable(hotCorpus, "doc_id", "text")
    val hist = sh.filter($"doc_id" < 11L)
    val batch = sh.filter($"doc_id" >= 11L)
    // uncapped: the boilerplate probe fans out across all 5 history
    // copies AND the cold near-dup matches
    val uncapped = Dedup.incrementalMinhash(hist, batch, 500000L)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(uncapped == Set((11L, 10L)) ++ (0L until 5L).map((20L, _)))
    // capped at 3: the 5-doc boilerplate bucket is excluded BEFORE the
    // probe join; the cold-bucket near-dup is untouched
    val capped = Dedup.incrementalMinhash(hist, batch, 500000L,
      maxBucketOccupancy = 3L)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(capped == Set((11L, 10L)))
    // the dropped buckets are auditable, with their occupancy
    val hot = Dedup.hotBuckets(
      Dedup.lshIndexArtifact(spark,
        hist,
        java.nio.file.Files.createTempDirectory("hb").toString + "/idx"),
      3L).select("occupancy").as[Long].collect()
    assert(hot.nonEmpty && hot.forall(_ == 5L))
  }

  test("hot-bucket fail mode aborts only when a hot bucket is PROBED") {
    val sh = Dedup.shingleTable(hotCorpus, "doc_id", "text")
    val hist = sh.filter($"doc_id" < 11L)
    // probe that hashes into the hot bucket → loud failure
    val hotProbe = sh.filter($"doc_id" === 20L)
    val ex = intercept[Exception] {
      Dedup.incrementalMinhash(hist, hotProbe, 500000L,
        maxBucketOccupancy = 3L, failOnHotBucket = true).count()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    assert(rootMessages(ex).exists(_.contains("probed band bucket")))
    // probe that only touches cold buckets → the dusty hot corner does
    // NOT abort the sync, and the result is the normal one
    val coldProbe = sh.filter($"doc_id" === 11L)
    val ok = Dedup.incrementalMinhash(hist, coldProbe, 500000L,
      maxBucketOccupancy = 3L, failOnHotBucket = true)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(ok == Set((11L, 10L)))
  }

  test("within-batch hot-bucket guard: skip drops flood pairs, fail aborts, cold pair survives") {
    // the flood arrives INSIDE one batch — the index probe's guard never
    // sees it; the within-batch self-LSH leg must carry its own census
    val sh = Dedup.shingleTable(hotCorpus, "doc_id", "text")
    val hist = Dedup.shingleTable(
      Seq((100L, "history doc unrelated to everything in the batch", "s"))
        .toDF("doc_id", "text", "source"), "doc_id", "text")
    val idx = Dedup.signatures(hist)
    // uncapped: the 6-copy boilerplate flood yields all 15 self-pairs
    val uncapped = Dedup.incrementalMinhashComplete(idx, sh, 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val floodIds = (0L until 5L) :+ 20L
    val floodPairs = (for { a <- floodIds; b <- floodIds if a < b } yield (a, b)).toSet
    assert(uncapped == floodPairs + ((10L, 11L)))
    // capped at 3 (skip): flood pairs vanish, the cold near-dup survives
    val capped = Dedup.incrementalMinhashComplete(idx, sh, 500000L,
      maxBucketOccupancy = 3L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((10L, 11L)))
    // capped + fail: the same-batch flood aborts the sync loudly
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    val ex = intercept[Exception] {
      Dedup.incrementalMinhashComplete(idx, sh, 500000L,
        maxBucketOccupancy = 3L, failOnHotBucket = true).count()
    }
    assert(rootMessages(ex).exists(_.contains("within-batch band bucket")))
    // a cold batch under the same fail-mode settings does NOT abort
    val cold = Dedup.incrementalMinhashComplete(idx,
      sh.filter($"doc_id" >= 10L && $"doc_id" < 20L), 500000L,
      maxBucketOccupancy = 3L, failOnHotBucket = true)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cold == Set((10L, 11L)))
  }

  test("incrementalMinhashComplete is pair-distinct when the index already holds batch docs") {
    // the replay-overlap shape: every batch doc is ALREADY in the index,
    // so the cross term finds each pair in both probe directions and the
    // within-batch term finds it a third time — output must still be
    // one row per pair, scores intact
    val docs = Seq(
      (5L, "training data pipelines need deduplication at scale every day", "s"),
      (10L, "training data pipelines need deduplication at scale every day extra", "s"))
      .toDF("doc_id", "text", "source")
    val sh = Dedup.shingleTable(docs, "doc_id", "text")
    val idx = Dedup.signatures(sh) // index == batch: full overlap
    val out = Dedup.incrementalMinhashComplete(idx, sh, 500000L)
      .select("doc_a", "doc_b", "jacc_x1e6")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.size == 1 && out.head._1 == 5L && out.head._2 == 10L,
      s"expected exactly one (5,10) row, got $out")
    // and it equals the from-scratch answer on the same corpus
    val scratch = Dedup.minhashLsh(sh, 500000L)
      .select("doc_a", "doc_b", "jacc_x1e6")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == scratch)
  }

  test("blocked jaccard agrees with LSH on the planted pair") {
    val pairs = Dedup.blockedJaccard(Dedup.shingleTable(corpus, "doc_id", "text"), 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("hashed word ids are injective on a realistic vocabulary") {
    import org.apache.spark.sql.functions._
    val words = spark.range(50000)
      .select(concat(lit("w"), col("id")).as("text"))
    val dict = graft.text.TextFunctions.dictionary(words, "text")
    assert(graft.text.TextFunctions.assertInjective(dict))
  }

  test("simhash groups identical docs, separates different ones") {
    val dup = Seq((0L, "a b c a b c"), (1L, "a b c a b c"), (2L, "x y z w q r"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(dup, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("brute-force topK ranks an identical vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.001f, 0.0f)), // ~same direction as 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantized(vecs)
    val top = Similarity.bruteForceTopK(q.filter($"vec_id" === 0), q, k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 2L, 3L))
  }

  test("multimodal decode stub emits per-byte features through mapPartitions") {
    val docs = Seq((7L, "abc", "s")).toDF("doc_id", "text", "source")
    val f = Multimodal.extractFeatures(Multimodal.fromDocuments(docs)).collect().head
    assert(f.media_id == 7L && f.n_bytes == 3L &&
      f.first_byte == 'a'.toLong && f.checksum == ('a' + 'b' + 'c').toLong)
  }

  test("connected components: min-label over pair clusters, singletons excluded") {
    import org.apache.spark.sql.functions.col
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L), (7L, 3L)).toDF("a", "b")
    val comps = graft.graph.Fixpoint.connectedComponents(pairs)
      .select(col("node"), col("component")).as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("long_vec_dot and md5_prefix64 register as SQL functions (extension surface)") {
    graft.GraftExtensions.register(spark)
    val d = spark.sql(
      "SELECT long_vec_dot(CAST(array(1,2,3) AS ARRAY<BIGINT>), " +
        "CAST(array(4,5,6) AS ARRAY<BIGINT>)) AS d").as[Long].head()
    assert(d == 32L)
    val h = spark.sql(
      "SELECT md5_prefix64('word') = CAST(conv(substring(md5('word'),1,14),16,10) AS BIGINT) AS ok")
      .as[Boolean].head()
    assert(h)
  }

  test("frame sampling + resize plumbing: windows, stride, decimation") {
    val docs = Seq((1L, "abcdefghij", "s")).toDF("doc_id", "text", "source")
    val frames = Multimodal.sampleFrames(
        Multimodal.fromDocuments(docs), frameBytes = 3, stride = 2)
      .collect().map(f => (f.frame_idx, new String(f.payload))).toSet
    // windows: abc|def|ghi|j -> keep idx 0 and 2
    assert(frames == Set((0, "abc"), (2, "ghi")))
    assert(new String(Multimodal.resizeStub("abcdefg".getBytes, 3)) == "adg")
  }

  test("md5_prefix64 kernel equals the conv(substring(md5)) oracle form") {
    import org.apache.spark.sql.functions._
    val words = spark.range(2000).select(
      concat(lit("tok-"), col("id"), lit("-\u00e9\u4e2d")).as("w")) // non-ascii too
    val diff = words.select(
        graft.functions.HashFunctions.md5_prefix64(col("w")).as("fast"),
        expr("CAST(conv(substring(md5(w), 1, 14), 16, 10) AS BIGINT)").as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("deterministic sampling: stable membership, stratified rates, allowlist") {
    import org.apache.spark.sql.functions._
    val df = spark.range(10000).toDF("id")
      .withColumn("stratum", when(col("id") % 2 === 0, "even").otherwise("odd"))
    val s1 = graft.text.Sampling.stratified(df, "id", col("stratum"),
      Map("even" -> 500000L)) // odd missing -> dropped entirely
    val rows = s1.select("id", "stratum").as[(Long, String)].collect()
    assert(rows.forall(_._2 == "even"))
    val evenRate = rows.length / 5000.0
    assert(evenRate > 0.45 && evenRate < 0.55, s"rate=$evenRate")
    // identical membership on re-evaluation (pure function of the key)
    val s2 = graft.text.Sampling.stratified(df, "id", col("stratum"),
      Map("even" -> 500000L)).select("id").as[Long].collect().toSet
    assert(s2 == rows.map(_._1).toSet)
  }

  test("repetition metrics flag a degenerate doc, pass a clean one") {
    // doc 0: "a b" repeated 4x -> 7 bigrams, "b a"x3 + "a b"x4, top=4;
    //        6 trigram positions, all of "a b a"/"b a b" repeated -> dup=6
    // doc 1: all 5 tokens distinct -> top bigram 1 of 4, zero dup trigrams
    val docs = Seq(
      (0L, "a b a b a b a b"),
      (1L, "v w x y z")).toDF("doc_id", "text")
    val byId = graft.text.TextFunctions.repetitionMetrics(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(0L).getLong(1) == 7 && byId(0L).getLong(2) == 4)
    assert(byId(0L).getLong(3) == 571428L) // floor(1e6*4/7)
    assert(byId(0L).getLong(5) == 6 && byId(0L).getLong(6) == 1000000L)
    assert(byId(1L).getLong(2) == 1 && byId(1L).getLong(3) == 250000L)
    assert(byId(1L).getLong(5) == 0 && byId(1L).getLong(6) == 0L)
  }

  test("tf-idf ranks a doc-specific term over a corpus-wide one") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (0L, "common rare0 common"),
      (1L, "common other other"),
      (2L, "common filler words")).toDF("doc_id", "text")
    val top1 = graft.text.TextFunctions.tfidfTopK(docs, "doc_id", "text", k = 1)
    val w = top1.filter(col("doc_id") === 0L).select("wid").as[Long].head()
    val rare0 = Seq("rare0").toDF("w")
      .select(graft.text.TextFunctions.wordId(col("w"))).as[Long].head()
    assert(w == rare0) // tf=1,df=1 (score 3e6) beats tf=2,df=3 (score 2e6)
  }

  test("containment flags a subset doc that jaccard misses") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (0L, base),
      (1L, base + " phi chi psi omega one two three four five six seven " +
        "eight nine ten more words beyond the original text entirely")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingleTable(docs, "doc_id", "text")
    val cont = Dedup.minhashContainment(sh, 900000L)
      .select("doc_a", "doc_b", "containment_x1e6")
      .as[(Long, Long, Long)].collect()
    assert(cont.toSeq == Seq((0L, 1L, 1000000L))) // all of 0's shingles in 1
    val jacc = Dedup.minhashLsh(sh, 900000L).count()
    assert(jacc == 0) // jaccard ~ 18/56 stays far below the bar
  }

  test("decontamination flags a train doc overlapping the eval set") {
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val train = Seq(
      // shares shingles with the eval doc (same opening)
      (0L, "the quick brown fox jumps somewhere else entirely today"),
      // disjoint vocabulary: clean
      (1L, "catalyst optimizer rewrites logical plans into physical ones")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, evalSet, "doc_id", "text")
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(out(0L) && !out(1L))
  }

  test("gram census surfaces the cross-doc boilerplate shingle") {
    val docs = Seq(
      (0L, "standard header line alpha beta"),
      (1L, "standard header line gamma delta"),
      (2L, "standard header line epsilon zeta"),
      (3L, "totally unrelated content words here")
    ).toDF("doc_id", "text")
    val top = graft.text.TextFunctions.gramCensus(docs, "doc_id", "text", 1)
      .select("n_docs").as[Long].collect()
    assert(top.toSeq == Seq(3L)) // "standard header line" appears in 3 docs
  }

  test("token chunking: window, stride, tail clamp") {
    val docs = Seq((7L, "t0 t1 t2 t3 t4 t5 t6")).toDF("doc_id", "text")
    val chunks = graft.text.TextFunctions.chunkTokens(docs, "doc_id", "text",
        window = 4, stride = 3)
      .select("chunk_idx", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(chunks == Seq(
      (0L, 4L, "t0 t1 t2 t3"),
      (1L, 4L, "t3 t4 t5 t6"),   // overlap of window - stride = 1 token
      (2L, 1L, "t6")))           // tail clamped, never empty
  }

  test("oov rate counts exactly the tokens outside the top-k vocab") {
    // corpus counts: a=4, b=3, c=2 -> vocab(2) = {a, b}; c is OOV
    val docs = Seq(
      (0L, "a a b c"),  // 1 of 4 tokens OOV -> 250000
      (1L, "a a b b c")  // 1 of 5 -> 200000
    ).toDF("doc_id", "text")
    val out = graft.text.TextFunctions.oovRate(docs, "doc_id", "text", 2)
      .select("doc_id", "oov_rate_x1e6").as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 250000L, 1L -> 200000L))
  }

  test("kmeans update round pulls a centroid toward its cluster") {
    // 4 vectors near +x, 4 near +y; centroids init from vec 0 (x-ish) and 1 (y-ish)
    val vecs = Seq(
      (0L, Array(10.0f, 0.1f)), (1L, Array(0.1f, 10.0f)),
      (2L, Array(9.0f, 0.2f)), (3L, Array(0.3f, 9.0f)),
      (4L, Array(11.0f, 0.3f)), (5L, Array(0.2f, 11.0f)),
      (6L, Array(10.5f, 0.1f)), (7L, Array(0.1f, 9.5f))
    ).toDF("vec_id", "embedding")
    val assign = Similarity.kmeansAssign(Similarity.quantized(vecs),
      nCentroids = 2, iterations = 2)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(Seq(0L, 2L, 4L, 6L).forall(assign(_) == 0L))
    assert(Seq(1L, 3L, 5L, 7L).forall(assign(_) == 1L))
  }

  test("pii scrub redacts emails, ips and long numbers; counters see each hit") {
    import graft.text.TextFunctions
    val docs = Seq(
      (0L, "mail bob.smith@corp.example.com then ssh 192.168.1.10 acct 123456789 done"),
      (1L, "no pii here just words and a short number 1234")
    ).toDF("doc_id", "text")
    val byId = docs.select(col("doc_id"), TextFunctions.scrubPii(col("text")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(byId(0L) == "mail <EMAIL> then ssh <IP> acct <NUM> done")
    assert(byId(1L) == "no pii here just words and a short number 1234")
    val counts = docs.select(col("doc_id") +: TextFunctions.piiCounts(col("text")): _*)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, e, i, n) => id -> ((e, i, n)) }.toMap
    assert(counts(0L) == ((1L, 1L, 1L)) && counts(1L) == ((0L, 0L, 0L)))
  }

  test("capPerGroup keeps exactly cap rows per oversized group, all of a small one") {
    val rows = (1L to 30L).map(i => (i, if (i <= 25) "big" else "small"))
      .toDF("doc_id", "source")
    val kept = graft.text.Sampling.capPerGroup(rows, "doc_id", col("source"), cap = 10)
      .select("doc_id", "source").as[(Long, String)].collect()
    assert(kept.count(_._2 == "big") == 10 && kept.count(_._2 == "small") == 5)
    // deterministic: same subset every run
    val again = graft.text.Sampling.capPerGroup(rows, "doc_id", col("source"), cap = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept.map(_._1).toSet)
  }

  test("groupPercentilesDisc picks exact order statistics per group") {
    val df = ((1L to 10L).map(v => ("a", v)) ++ Seq(("b", 7L))).toDF("g", "v")
    val out = graft.text.TextFunctions.groupPercentilesDisc(df, "g", "v",
        Seq("p50" -> 0.5, "p90" -> 0.9))
      .select("g", "n_rows", "p50", "p90").as[(String, Long, Long, Long)]
      .collect().map { case (g, n, a, b) => g -> ((n, a, b)) }.toMap
    // group a: 1..10 -> p50 = 5th value = 5, p90 = 9th value = 9
    assert(out("a") == ((10L, 5L, 9L)))
    assert(out("b") == ((1L, 7L, 7L)))
  }

  test("temperatureResample keeps all of the rarest stratum, downweights the rest") {
    // 400 "big" rows vs 100 "small": small keeps 100%, big at sqrt(100/400)=50%
    val rows = ((1L to 400L).map(i => (i, "big")) ++ (401L to 500L).map(i => (i, "small")))
      .toDF("doc_id", "stratum")
    val kept = graft.text.Sampling.temperatureResample(rows, "doc_id", col("stratum"))
      .select("doc_id", "stratum").as[(Long, String)].collect()
    assert(kept.count(_._2 == "small") == 100) // rate 1e6 -> everything
    val bigRate = kept.count(_._2 == "big") / 400.0
    assert(bigRate > 0.42 && bigRate < 0.58, s"bigRate=$bigRate") // ~50%
    // reproducible membership
    val again = graft.text.Sampling.temperatureResample(rows, "doc_id", col("stratum"))
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept.map(_._1).toSet)
  }

  test("pqEncode assigns each subvector its nearest codebook entry") {
    // 4-dim vectors, 2 subvectors of 2 dims, codebook = first 2 vectors.
    // vec 2 = (codebook0's first half, codebook1's second half) -> codes (0, 1)
    val vecs = Seq(
      (0L, Array(10.0f, 0.0f, 0.0f, 10.0f)),
      (1L, Array(0.0f, 10.0f, 10.0f, 0.0f)),
      (2L, Array(10.0f, 1.0f, 9.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(Similarity.quantized(vecs),
        nSub = 2, nCodes = 2, dims = 4)
      .as[(Long, Long, Long)].collect()
      .map { case (v, s, c) => (v, s) -> c }.toMap
    assert(codes((0L, 0L)) == 0L && codes((0L, 1L)) == 0L) // seeds match themselves
    assert(codes((1L, 0L)) == 1L && codes((1L, 1L)) == 1L)
    assert(codes((2L, 0L)) == 0L && codes((2L, 1L)) == 1L) // mixed halves
  }

  test("knnJoin ranks neighbors only within the block") {
    val vecs = Seq(
      (0L, Array(10.0f, 0.0f), 0L), (1L, Array(9.0f, 1.0f), 0L),
      (2L, Array(8.0f, 2.0f), 0L),
      (3L, Array(0.0f, 10.0f), 1L), (4L, Array(1.0f, 9.0f), 1L)
    ).toDF("vec_id", "embedding", "label")
    val q = Similarity.quantized(vecs.select("vec_id", "embedding"))
      .join(vecs.select(col("vec_id").cast("long").as("vec_id"), col("label")), Seq("vec_id"))
    val out = Similarity.knnJoin(q, "label", k = 1)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // block 0: 0's nearest is 1 (not 2); block 1 pairs with itself only
    assert(out(0L) == 1L && out(1L) == 2L || out(1L) == 0L)
    assert(out(3L) == 4L && out(4L) == 3L)
    // nobody ever matches across blocks
    assert(!out.exists { case (v, n) => (v <= 2) != (n <= 2) })
  }
}
