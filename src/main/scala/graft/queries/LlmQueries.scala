package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.text.{Sampling, Sketches, TextFunctions}
import graft.Lineage._

/** LLM-training-data pipeline operator battery: text analysis, dedup
  * family, similarity search, multimodal plumbing. All integer/exact
  * arithmetic so every oracle hash-matches (see module scaladocs).
  */
object LlmQueries {

  private val Stopwords = Seq("the", "a", "data", "row")
  private val Markers = Map(
    "sqlish" -> Seq("join", "scan", "merge", "hash"),
    "streamish" -> Seq("stream", "window", "batch"),
    "tableish" -> Seq("table", "row", "column"))

  // ---- text analysis ----

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.qualityMetrics(Tables.documents(spark, dir), "doc_id", "text", Stopwords)

  def textLangId(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.langId(Tables.documents(spark, dir), "doc_id", "text", Markers)

  /** Lang-ID confusion matrix: marker-based prediction cross-tabulated
    * against the labeled `lang` column, with per-true-label row ppm —
    * the accuracy read-out any classifier-in-the-pipeline needs before
    * its output drives filtering. */
  def textLangIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pred = TextFunctions.langId(docs, "doc_id", "text", Markers)
    val cells = docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
    val tot = cells.groupBy(col("lang")).agg(sum(col("n")).as("t"))
    cells.join(tot, Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n"),
        expr("(n * 1000000) div t").as("row_ppm"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  def textTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").cast("long").as("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
      expr("size(regexp_extract_all(text, '[a-z]{1,4}', 0))").cast("long").as("n_bpe_tokens"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("n_nonspace_chars"))

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.fingerprint(Tables.documents(spark, dir), "doc_id", "text")

  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.repetitionMetrics(Tables.documents(spark, dir), "doc_id", "text")

  def textTfidf(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.tfidfTopK(Tables.documents(spark, dir), "doc_id", "text", k = 3)

  /** Cross-doc repeated 4-token spans (exact-substring dedup signal). */
  def textRepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.repeatedSpans(Tables.documents(spark, dir), "doc_id", "text",
      w = 4, minDocs = 2L)

  /** Repeated-span removal: tokens under any cross-doc shared 4-token
    * window deleted, text reassembled. */
  def textRepeatedSpanRemoval(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.removeRepeatedSpans(Tables.documents(spark, dir), "doc_id",
      "text", w = 4, minDocs = 2L)

  /** BPE subword vocabulary: 6 merge rounds over the corpus, final
    * weighted symbol census. */
  def textBpeCensus(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.bpeTrain(Tables.documents(spark, dir), "doc_id", "text",
      merges = 6)

  /** BPE application: encode every doc with the 6-merge vocabulary. */
  def textBpeEncode(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.bpeEncode(Tables.documents(spark, dir), "doc_id", "text",
      merges = 6)

  /** Bigram-LM quality score (integer perplexity surrogate). */
  def textLmScore(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.lmScore(Tables.documents(spark, dir), "doc_id", "text")

  /** End-to-end mixture build: quality floor → per-source cap →
    * temperature-flattened language mix → train/valid/test hash split →
    * per-(split, lang) composition report. Each sampling stage hashes a
    * STAGE-SALTED key ("mix:"/"split:" prefixes): reusing one raw-key
    * hash across stages would correlate the draws (every doc surviving a
    * low-rate stage would pile into the first split bucket). */
  def e2eMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 20)
    val capped = Sampling.capPerGroup(docs, "doc_id", col("source"), cap = 15)
    val mixed = Sampling.temperatureResample(
      capped.withColumn("_k_mix", concat(lit("mix:"), col("doc_id").cast("string"))),
      "_k_mix", col("lang"))
    val assigned = Sampling.hashSplit(
      mixed.withColumn("_k_split", concat(lit("split:"), col("doc_id").cast("string"))),
      "_k_split",
      Seq(("train", 980000L), ("valid", 10000L), ("test", 10000L)))
    assigned.groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
  }

  /** Corpus-composition report: the mixing-weights view a pretraining data
    * pipeline reports per (lang, source) slice. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        sum(col("n_chars").cast("long")).as("n_chars_sum"))
      .withColumn("mean_tokens_x1e6",
        floor(lit(1000000.0) * col("n_tokens") / col("n_docs")).cast("long"))

  /** Stratified deterministic sampling: short docs kept at 20%, long at
    * 80% — membership is a pure hash of doc_id, reproducible anywhere. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("stratum",
        when(size(split(col("text"), " ")) < 60, lit("short")).otherwise(lit("long")))
    graft.text.Sampling.stratified(docs, "doc_id", col("stratum"),
        Map("short" -> 200000L, "long" -> 800000L))
      .select(col("doc_id").cast("long").as("doc_id"), col("stratum"))
  }

  // ---- dedup family ----

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(
      Tables.documents(spark, dir)
        .withColumn("prefix2", concat_ws(" ",
          element_at(split(col("text"), " "), 1), element_at(split(col("text"), " "), 2))),
      keyCol = "prefix2", idCol = "doc_id")

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.blockedJaccard(
      Dedup.shingleTable(Tables.documents(spark, dir), "doc_id", "text"),
      minJaccX1e6 = 500000L)

  /** Exact cross-document shared token runs — longest exact span per
    * pair via diagonal islands over positional 4-gram anchors. */
  def dedupSharedRuns(spark: SparkSession, dir: String): DataFrame =
    Dedup.sharedRuns(Tables.documents(spark, dir), "doc_id", "text",
      minRun = 4, dfCap = 64L)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Exact-substring dedup end-to-end (the Lee et al. 2022 pipeline):
    * shared-run pairs at >= 8 consecutive tokens -> connected
    * components -> smallest-id representative survives -> per-source
    * keep census. The exact complement of the MinHash curation leg. */
  def e2eExactSubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.sharedRuns(docs, "doc_id", "text", minRun = 4,
        dfCap = 64L)
      .filter(col("max_run") >= 8)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comps = graft.graph.Fixpoint.connectedComponents(pairs)
    docs.select(col("doc_id").cast("long").as("doc_id"), col("source"))
      .join(comps.select(col("node").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs_kept"))
      .orderBy(col("source"))
  }

  /** Exact all-pairs Jaccard at the same 0.5 threshold as
    * [[dedupNgramJaccard]], via prefix filtering — the lossless scale
    * path: finds cross-block pairs the blocked baseline misses, with
    * candidates bounded by prefix-token collisions, never O(n²). */
  def dedupAllPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.allPairsJaccard(
      Dedup.shingleTable(Tables.documents(spark, dir), "doc_id", "text"),
      minJaccX1e6 = 500000L)

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(
      Dedup.shingleTable(Tables.documents(spark, dir), "doc_id", "text"),
      minJaccX1e6 = 800000L)

  /** Incremental dedup: the 20% of docs with doc_id % 5 == 0 play the
    * "new batch", the rest the already-indexed history; the gate is the
    * cross-epoch near-dup report [[Dedup.incrementalMinhash]] produces
    * without ever self-joining the history — the per-sync probe shape
    * of a continuously-ingesting corpus. */
  def dedupIncrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleTable(Tables.documents(spark, dir), "doc_id", "text")
    Dedup.incrementalMinhash(
      oldShingled = sh.filter(col("doc_id") % 5 =!= 0),
      newShingled = sh.filter(col("doc_id") % 5 === 0),
      minJaccX1e6 = 800000L)
  }

  /** The COMPLETE per-sync pair set ([[Dedup.incrementalMinhashComplete]]):
    * history-index probe UNION within-batch self-LSH, built over ONE
    * persisted index artifact. The oracle is the from-scratch full-corpus
    * LSH restricted to pairs touching the batch — the completeness
    * statement [[dedupIncrementalMinhash]] alone cannot make (two
    * near-dups arriving in the same sync never meet the index). */
  def dedupIncrementalBatchPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleTable(Tables.documents(spark, dir), "doc_id", "text")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_incbatch_idx").toString + "/idx"
    // batch = doc_id % 5 <= 1: this slice carries BOTH same-batch
    // near-dup pairs (4 at sf0.01) and cross-epoch ones (14), so the
    // gate exercises both terms of the union
    val index = Dedup.lshIndexArtifact(spark,
      sh.filter(col("doc_id") % 5 > 1), idxDir)
    Dedup.incrementalMinhashComplete(index,
      sh.filter(col("doc_id") % 5 <= 1), minJaccX1e6 = 800000L)
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text")

  def dedupSimhashHamming(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsWithin(Tables.documents(spark, dir), "doc_id", "text", k = 2)

  /** Candidate-generation quality as a gated number: recall of the LSH
    * band buckets against the blocked exact-Jaccard ground truth at the
    * 0.5 threshold — the measurement that justifies (or indicts) the
    * band/row configuration. */
  def dedupLshRecall(spark: SparkSession, dir: String): DataFrame = {
    // one materialization of the shingle prep shared by both branches
    val sh = Dedup.shingleTable(Tables.documents(spark, dir), "doc_id", "text")
      .pin
    val truth = Dedup.blockedJaccard(sh, minJaccX1e6 = 500000L)
      .select(col("doc_a"), col("doc_b")).withColumn("_t", lit(1L))
    val cand = Dedup.lshCandidates(sh).withColumn("_c", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "full")
      // coalesce AFTER the sums too: a zero-row join aggregates to one
      // all-NULL row where the oracle's count(*) subqueries return zeros
      .agg(coalesce(sum(coalesce(col("_t"), lit(0L))), lit(0L)).as("n_truth"),
        coalesce(sum(coalesce(col("_c"), lit(0L))), lit(0L)).as("n_cand"),
        coalesce(sum(coalesce(col("_t"), lit(0L)) * coalesce(col("_c"), lit(0L))),
          lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        floor(lit(1000000.0) * col("n_hit") / greatest(col("n_truth"), lit(1L)))
          .cast("long").as("recall_x1e6"))
  }

  /** Near-dup clustering: MinHash-LSH pairs → connected components → one
    * canonical doc per cluster (min doc_id); docs in no pair are their
    * own canonical. The step that turns pair detection into an actual
    * keep/drop decision for a training corpus. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashLsh(
        Dedup.shingleTable(docs, "doc_id", "text"), minJaccX1e6 = 800000L)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comps = graft.graph.Fixpoint.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"))
  }

  /** The hot-bucket census as its own gated number: LSH band buckets
    * whose occupancy exceeds the cap ([[Dedup.hotBuckets]] — the audit
    * surface of the incremental-dedup occupancy guard, and the
    * boilerplate detector: a bucket shared by k docs means k
    * signature-identical texts). */
  def dedupHotBuckets(spark: SparkSession, dir: String): DataFrame =
    Dedup.hotBuckets(
      Dedup.signatures(
        Dedup.shingleTable(Tables.documents(spark, dir), "doc_id", "text")),
      maxOccupancy = 2L)

  /** Cross-epoch cluster maintenance, end to end: the HISTORY corpus is
    * clustered once ([[Dedup.minhashLsh]] pairs →
    * [[graft.graph.Fixpoint.connectedComponents]] labels); the NEW batch's
    * matches arrive through the incremental probe
    * ([[Dedup.incrementalMinhash]] — history never re-shingled) and fold
    * into the existing labels through
    * [[graft.graph.Fixpoint.incrementalComponents]] — the old graph is
    * never re-walked, only its star contraction. The result must equal a
    * full recompute over (history pairs ∪ incremental matches), which is
    * what the oracle computes from scratch. */
  def dedupIncrementalComponents(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleTable(Tables.documents(spark, dir), "doc_id", "text")
    val hist = sh.filter(col("doc_id") % 5 =!= 0)
    val batch = sh.filter(col("doc_id") % 5 === 0)
    val prev = graft.graph.Fixpoint.connectedComponents(
      Dedup.minhashLsh(hist, minJaccX1e6 = 800000L)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
    val newPairs = Dedup.incrementalMinhash(hist, batch, minJaccX1e6 = 800000L)
      .select(col("new_id").as("a"), col("old_id").as("b"))
    graft.graph.Fixpoint.incrementalComponents(prev, newPairs)
      .select(col("node").as("doc_id"), col("component").as("canonical_id"))
  }

  /** Leakage-safe split over the same near-dup components: every LSH
    * cluster lands whole in train or eval (80/20), so eval can never
    * hold a near-copy of a training doc. */
  def sampleComponentSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashLsh(
        Dedup.shingleTable(docs, "doc_id", "text"), minJaccX1e6 = 800000L)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    graft.text.Sampling.componentSplit(
      docs.select(col("doc_id").cast("long").as("doc_id")), "doc_id", pairs,
      Seq("train" -> 800000L, "eval" -> 200000L))
  }

  /** Benchmark decontamination: eval set = every 10th doc; flag training
    * docs sharing any 3-gram shingle with it. */
  def dedupDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.decontaminate(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text")
  }

  /** Same train/eval split through the Bloom-prefiltered path: results
    * must be byte-identical to dedup_decontaminate (the filter only cuts
    * shuffled volume; the exact join removes its false positives). */
  def dedupDecontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.decontaminateBloom(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", expectedItems = 200000L)
  }

  /** Price values for the quantile-sketch gates: integer cents per
    * return flag (log buckets need a positive integer domain). */
  private def priceCents(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(col("l_returnflag").as("g"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("v"))

  /** Log-linear histogram quantile sketch: p50/p90/p99/p99.9 of price
    * cents per return flag, with the exact rank-selected value alongside
    * (the sketch answer must sit within 1/16 of it by construction). */
  def sketchQuantileHist(spark: SparkSession, dir: String): DataFrame = {
    val v = priceCents(spark, dir)
    val est = Sketches.histQuantiles(
      Sketches.histBuckets(v, "g", "v"), Seq(500, 900, 990, 999))
    val w = Window.partitionBy(col("g")).orderBy(col("v").asc)
    val ranked = v.filter(col("v") >= 1L)
      .withColumn("rn", row_number().over(w))
      .select(col("g"), col("v").as("exact_value"), col("rn"))
    est.withColumn("rn", expr("(q_permille * n + 999) div 1000"))
      .join(ranked, Seq("g", "rn"))
      .select(col("g").as("flag"), col("q_permille"), col("n"), col("est"),
        col("exact_value"))
  }

  /** Histogram MERGEABILITY, gated: bucket counts built separately over
    * the even- and odd-orderkey halves, sum-merged, must read out the
    * same quantiles as one pass over the whole table — the property that
    * lets 1000 shards each ship a KB histogram instead of sorting 100 TB. */
  def sketchQuantileMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir).select(col("l_returnflag").as("g"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("v"),
      (col("l_orderkey") % 2).as("p"))
    val qs = Seq(500, 900, 990, 999)
    val merged = Sketches.histMerge(
      Sketches.histBuckets(base.filter(col("p") === 0), "g", "v"),
      Sketches.histBuckets(base.filter(col("p") === 1), "g", "v"))
    Sketches.histQuantiles(merged, qs)
      .withColumnRenamed("est", "est_merged")
      .join(Sketches.histQuantiles(Sketches.histBuckets(base, "g", "v"), qs)
          .select(col("g"), col("q_permille"), col("est").as("est_direct")),
        Seq("g", "q_permille"))
      .select(col("g").as("flag"), col("q_permille"), col("n"),
        col("est_merged"), col("est_direct"))
  }

  /** BM25 keyword extraction: top-3 length-normalized terms per doc. */
  def textBm25(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.bm25TopK(Tables.documents(spark, dir), "doc_id", "text", k = 3)

  /** Ranked conjunctive search: top-10 docs containing all three query
    * terms, by summed BM25. */
  def textSearchRanked(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.searchRanked(Tables.documents(spark, dir), "doc_id", "text",
      Seq("join", "window", "hash"), k = 10)

  /** Per-source weighted sample: the 3 best-priority docs per source
    * under the deterministic Efraimidis-Spirakis draw weighted by
    * n_chars - stratified curation, no source crowds out another. */
  def sampleWeightedPerGroup(spark: SparkSession, dir: String): DataFrame =
    Sampling.weightedTopKPerGroup(
        Tables.documents(spark, dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("source"),
            col("n_chars").cast("long").as("n_chars")),
        "doc_id", col("source"), col("n_chars"), k = 3)
      .orderBy(col("source"), col("sample_rank"))

  /** Per-document Simpson concentration / effective vocabulary over
    * the corpus - the log-free diversity read. */
  def textSimpson(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.simpsonDiversity(Tables.documents(spark, dir),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  /** ROUGE-2 over the LSH near-dup candidates: clipped bigram overlap
    * with exact ppm recall/precision/F1 (F1 = 2o/(cand+ref) exactly -
    * no float harmonic mean). */
  def textRouge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashLsh(
        Dedup.shingleTable(docs, "doc_id", "text"), minJaccX1e6 = 800000L)
      .select(col("doc_a").as("cand_id"), col("doc_b").as("ref_id"))
    TextFunctions.rougeN(pairs, docs, "doc_id", "text", n = 2)
      .orderBy(col("cand_id"), col("ref_id"))
  }

  /** Reciprocal-rank fusion of the conjunctive BM25 list (precision
    * leg) and the disjunctive tf·idf list (recall leg) over the same
    * query — the standard multi-retriever combine, rank-only so the
    * incomparable score scales never touch. */
  def textRankFusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val terms = Seq("join", "window", "hash")
    def withRank(df: DataFrame, score: String) = df.withColumn("rank",
      row_number().over(graft.operators.GlobalOrder.boundedWindow(
        col("doc_id"), col(score).desc, col("doc_id").asc)).cast("long"))
    val conjunctive = withRank(
      TextFunctions.searchRanked(docs, "doc_id", "text", terms, 10),
      "score_x1e6")
    val disjunctive = withRank(
      TextFunctions.searchRankedAny(docs, "doc_id", "text", terms, 10),
      "score_x1e3")
    TextFunctions.rankFusion(
      Seq(conjunctive.select(col("doc_id"), col("rank")),
        disjunctive.select(col("doc_id"), col("rank"))), k0 = 60L, k = 10)
  }

  /** Hybrid retrieval end-to-end (the RAG read path): the conjunctive
    * BM25 keyword list and the embedding-cosine neighbor list of query
    * vector 0 fused by reciprocal rank — keyword precision and vector
    * recall combined without comparing their incomparable scores. */
  def e2eHybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bm = TextFunctions.searchRanked(docs, "doc_id", "text",
        Seq("join", "window", "hash"), 10)
      .withColumn("rank", row_number().over(
        graft.operators.GlobalOrder.boundedWindow(col("doc_id"),
          col("score_x1e6").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("rank"))
    val q = Similarity.quantized(Tables.embeddings(spark, dir))
    val vec = Similarity.bruteForceTopK(q.filter(col("vec_id") === 0), q, 10)
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("rank"))
    TextFunctions.rankFusion(Seq(bm, vec), k0 = 60L, k = 10)
  }

  /** Blocking-quality report for the LSH candidate generation: reduction
    * ratio (how much of the O(n²) pair space the bands prune away) and
    * pair completeness (the fraction of TRUE near-dup pairs the
    * candidates retain, vs the exact [[Dedup.allPairsJaccard]] ground
    * truth) — the two numbers every entity-resolution blocking scheme
    * must report before anyone trusts its output (Christen 2012). */
  def dedupBlockingQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = Dedup.shingleTable(docs, "doc_id", "text")
    val cand = Dedup.lshCandidates(sh).pin
    val truth = Dedup.allPairsJaccard(sh, 500000L)
      .select(col("doc_a"), col("doc_b")).pin
    val hit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(col("n_docs"),
        expr("(n_docs * (n_docs - 1)) div 2").as("n_possible"),
        col("n_candidates"), col("n_truth"), col("n_hit"),
        expr("1000000 - (n_candidates * 1000000) div " +
          "((n_docs * (n_docs - 1)) div 2)").as("reduction_ppm"),
        expr("case when n_truth = 0 then 1000000 " +
          "else (n_hit * 1000000) div n_truth end").as("completeness_ppm"))
  }

  /** Ranking-quality read-out of the conjunctive BM25 search: harmonic-
    * discounted cumulative gain vs the ideal ordering under a
    * deterministic relevance assignment
    * ([[graft.operators.Analytics.rankingQualityHdcg]]). */
  def textRankingHdcg(spark: SparkSession, dir: String): DataFrame = {
    val ranked = textSearchRanked(spark, dir)
      .withColumn("rank", row_number().over(
        graft.operators.GlobalOrder.boundedWindow(col("score_x1e6"),
          col("score_x1e6").desc, col("doc_id").asc)))
    val rel = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"),
        (col("doc_id") % 4).as("rel"))
    graft.operators.Analytics.rankingQualityHdcg(ranked, rel)
  }

  /** Winsorize per-language doc lengths into the [p05, p95] band — the
    * outlier APPLY step (clamp, don't drop). */
  def textWinsorize(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.winsorize(Tables.documents(spark, dir), "doc_id", "lang",
      "n_chars", pLow = 0.05, pHigh = 0.95)

  /** Gopher-shaped hard quality filter: word-count bounds, mean-word-length
    * bounds, distinct-token-ratio floor, stopword minimum → keep flag. */
  def textQualityFilter(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.qualityFilter(Tables.documents(spark, dir), "doc_id", "text",
      Stopwords)

  /** Near-dup cluster canonicalization: LSH pairs → components → keep the
    * longest doc per cluster (tie → min id). */
  def dedupRepresentatives(spark: SparkSession, dir: String): DataFrame =
    Dedup.representatives(Tables.documents(spark, dir), "doc_id", "text",
      minJaccX1e6 = 800000L)

  /** Corpus-wide boilerplate census: top-20 most widespread shingles. */
  def textGramCensus(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.gramCensus(Tables.documents(spark, dir), "doc_id", "text", k = 20)

  /** Tokenizer-prep coverage: per-doc OOV rate against the corpus top-20
    * vocabulary. */
  def textOovRate(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.oovRate(Tables.documents(spark, dir), "doc_id", "text",
      vocabSize = 20)

  /** Sequence packing: non-overlapping 32-token chunks per doc, packed
    * into 512-token context-window bins per language stream in
    * (doc_id, chunk_idx) order — per-bin chunk/token counts, the
    * pretraining batch-construction step after chunking. */
  def textSeqPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val chunks = TextFunctions.chunkTokens(docs, "doc_id", "text",
        window = 32, stride = 32)
      .join(docs.select(col("doc_id").cast("long").as("doc_id"), col("lang")),
        Seq("doc_id"))
    TextFunctions.packSequences(chunks, "lang", Seq("doc_id", "chunk_idx"),
        "n_chunk_tokens", targetTokens = 512L)
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_tokens")).as("n_tokens"))
  }

  /** Context-window chunking: 32-token windows every 24 tokens. */
  def textChunking(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.chunkTokens(Tables.documents(spark, dir), "doc_id", "text",
      window = 32, stride = 24)

  /** One-sided containment over the same LSH candidates: flags the
    * quote/excerpt case where a short doc is a subset of a longer one. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashContainment(
      Dedup.shingleTable(Tables.documents(spark, dir), "doc_id", "text"),
      minContX1e6 = 850000L)

  def dedupCosineNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.cosineNearDup(
      Similarity.quantized(Tables.embeddings(spark, dir)), minCosX1e6 = 350000L)

  def dedupCosineNearDupLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.cosineNearDupBucketed(
      Similarity.quantized(Tables.embeddings(spark, dir)), minCosX1e6 = 350000L)

  /** SemDeDup over the embeddings corpus: 16-centroid coarse clustering
    * scopes the cosine pair search, components collapse to canonical
    * ids. Same 0.35 threshold as the exact near-dup gates, so the
    * cluster-boundary recall loss is observable against
    * [[dedupCosineNearDup]]. The clustering comes from the shared
    * [[graft.similarity.Similarity.kmeansArtifact]] (built on first use,
    * read back after — deterministic, so byte-identical either way)
    * instead of re-running the Lloyd round every call. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantized(Tables.embeddings(spark, dir))
    val art = graft.sources.Artifacts.perApplication(dir, "embeddings", "kmeans_c16_i1")
    Dedup.semanticDedup(q,
      Similarity.kmeansArtifact(spark, q, art, nCentroids = 16, iterations = 1),
      minCosX1e6 = 350000L)
  }

  // ---- similarity search ----

  def simBruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantized(Tables.embeddings(spark, dir))
    Similarity.bruteForceTopK(q.filter(col("vec_id") < 10), q, k = 3)
  }

  def simAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantized(Tables.embeddings(spark, dir))
    Similarity.lshTopK(q.filter(col("vec_id") < 10), q, k = 3)
  }

  def simAnnMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantized(Tables.embeddings(spark, dir))
    Similarity.lshTopKMultiProbe(q.filter(col("vec_id") < 10), q, k = 3)
  }

  def simAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantized(Tables.embeddings(spark, dir))
    Similarity.ivfTopK(q.filter(col("vec_id") < 10), q, k = 3)
  }

  /** ANN candidate-path RECALL, measured in-plan: IVF top-3 against the
    * brute-force top-3 ground truth over the same query set — probe-count
    * tuning is a measurement problem, not a guess (the dedup_lsh_recall
    * principle applied to the ANN family). One row:
    * (n_truth, n_hit, recall_x1e6). */
  def simAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantized(Tables.embeddings(spark, dir))
    val queries = q.filter(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(queries, q, k = 3)
      .select(col("query_id"), col("neighbor_id")).pin
    val got = Similarity.ivfTopK(queries, q, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val hit = truth.join(got, Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(col("n_truth"), col("n_hit"),
        expr("(1000000 * n_hit) div n_truth").as("recall_x1e6"))
  }

  /** Full IVF-PQ-ADC index query: coarse cells + PQ codes + per-query
    * lookup-table scoring + exact re-rank of the shortlist
    * ([[Similarity.ivfPqTopK]]). */
  def simAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantized(Tables.embeddings(spark, dir))
    Similarity.ivfPqTopK(q.filter(col("vec_id") < 10), q, k = 3, rerank = 8)
  }

  /** Corpus-wide k-NN join, blocked by the embedding's cluster label (the
    * coarse-quantizer cell): every vector gets its 2 nearest in-cell
    * neighbors — partition-local quadratic, never a global self-join. */
  def simKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Similarity.quantized(emb)
      .join(emb.select(col("vec_id").cast("long").as("vec_id"),
        col("label").cast("long").as("label")), Seq("vec_id"))
    Similarity.knnJoin(q, "label", k = 2)
  }

  /** Product-quantization encode: 64-dim vectors → 8 subvector codes from
    * a 16-entry data-initialized codebook (exact integer squared-L2). */
  def embedPqEncode(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqEncode(Similarity.quantized(Tables.embeddings(spark, dir)),
      nSub = 8, nCodes = 16, dims = 64)

  /** Per-source document cap (max 10 docs per source, hash-ordered) — the
    * domain-dominance cap of a web-corpus mix. */
  def sampleCapPerGroup(spark: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.capPerGroup(
        Tables.documents(spark, dir), "doc_id", col("source"), cap = 10)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"))

  /** Temperature-flattened language mixing (α=0.5): rare languages keep
    * everything, dominant ones are sqrt-downweighted. */
  def sampleTemperature(spark: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.temperatureResample(
        Tables.documents(spark, dir), "doc_id", col("lang"))
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"))

  /** PII scrub over documents with deterministically injected PII (the
    * synthetic corpus contains none, so the gate plants an email, an IPv4
    * and an account number per doc, then proves the scrub removes them and
    * the counters see them). */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(spark, dir).select(
      col("doc_id").cast("long").as("doc_id"),
      concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@ex"), (col("doc_id") % 7).cast("string"), lit(".com via 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"),
        lit(" acct "), (col("doc_id") * 1234567 + 100000000).cast("string")).as("t"))
    withPii.select(
      (col("doc_id") +: TextFunctions.scrubPii(col("t")).as("scrubbed") +:
        TextFunctions.piiCounts(col("t"))): _*)
  }

  /** Exact per-language length percentiles (p50/p90/p99 of n_chars) — the
    * cutoff-selection step before length filtering. */
  def corpusPercentiles(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.groupPercentilesDisc(Tables.documents(spark, dir),
      "lang", "n_chars", Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))

  /** Interpolated (percentile_cont) per-language length percentiles —
    * the continuous companion of [[corpusPercentiles]]; both engines
    * evaluate the identical spelled-out IEEE interpolation formula. */
  def corpusPercentilesCont(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.groupPercentilesCont(Tables.documents(spark, dir),
      "lang", "n_chars", Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))

  /** One Lloyd training round for the IVF coarse quantizer: assign → exact
    * integer centroid update → final assignment. */
  def embedKmeansAssign(spark: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(
      Similarity.quantized(Tables.embeddings(spark, dir)),
      nCentroids = 16, iterations = 1)

  // ---- multimodal ----

  def multimodalDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.fromDocuments(Tables.documents(spark, dir))).toDF()

  /** Audio features over the stub PCM payloads: exact sample count,
    * energy surrogate, zero-crossing numerator and peak per clip. */
  def multimodalAudioFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioFeatures(
      Multimodal.fromDocuments(Tables.documents(spark, dir))).toDF()

  /** Frame sampling: 16-byte windows, every 2nd kept, per-frame size +
    * byte checksum. */
  def multimodalFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Multimodal.sampleFrames(
        Multimodal.fromDocuments(Tables.documents(spark, dir)),
        frameBytes = 16, stride = 2)
      .map { f =>
        var c = 0L
        f.payload.foreach(b => c += b & 0xffL)
        (f.media_id, f.frame_idx, f.payload.length.toLong, c % 65536L)
      }
      .toDF("media_id", "frame_idx", "n_bytes", "checksum")
  }

  /** Line-level dedup (CCNet pass): the synthetic docs have no line
    * structure, so the gate builds one — 6-token lines plus a planted
    * boilerplate header and footer shared by EVERY doc — then proves
    * [[TextFunctions.lineDedup]] strips exactly the lines present in
    * >= 100 distinct docs (the boilerplate; organic 6-token lines are
    * practically unique) and reassembles the rest in order. */
  def textLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val lined = Tables.documents(spark, dir).select(
      col("doc_id").cast("long").as("doc_id"),
      concat_ws("\n", concat(
        array(lit("subscribe to our newsletter today")),
        transform(sequence(lit(0), size(toks) - 1, lit(6)),
          s => concat_ws(" ", slice(toks, s + 1, lit(6)))),
        array(lit("all rights reserved worldwide")))).as("text"))
    TextFunctions.lineDedup(lined, "doc_id", "text", "\n", maxDocFreq = 100L)
  }

  /** Per-domain URL census over documents with deterministically injected
    * URLs (the synthetic corpus has none): mention and citing-doc counts
    * per domain — the source-weighting profile of a web-corpus mix. */
  def textUrlCensus(spark: SparkSession, dir: String): DataFrame = {
    val withUrls = Tables.documents(spark, dir).select(
      col("doc_id").cast("long").as("doc_id"),
      concat(col("text"),
        lit(" see https://site"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" and http://mirror"), (col("doc_id") % 2).cast("string"),
            lit(".example.org/x")))
          .otherwise(lit(""))).as("t"))
    TextFunctions.domainCensus(withUrls, "doc_id", "t")
  }

  /** URL-canonicalization dedup: six planted variants per doc (mixed-case
    * host, fragment, tracking params, tracking+real param, trailing
    * slash) collapse under [[TextFunctions.canonicalUrl]]; the census
    * reports variant spread and mentions per canonical URL — the
    * fetch-once signal a crawl frontier dedups on. */
  def dedupUrlCanonical(spark: SparkSession, dir: String): DataFrame = {
    val base = concat(lit("https://Site"),
      (col("doc_id") % 7).cast("string"),
      lit(".Example.com/p/"), col("doc_id").cast("string"))
    val upperScheme = concat(lit("HTTPS://Site"),
      (col("doc_id") % 7).cast("string"),
      lit(".Example.com/p/"), col("doc_id").cast("string"))
    val urls = Tables.documents(spark, dir).select(
      explode(array(
        base,
        lower(base),
        upperScheme,
        concat(base, lit("#section-2")),
        concat(base, lit("?utm_source=feed&utm_campaign=x")),
        concat(base, lit("?utm_source=feed&page=2")),
        concat(base, lit("/")))).as("url"))
    urls.select(col("url"), TextFunctions.canonicalUrl(col("url")).as("canonical"))
      .groupBy(col("canonical"))
      .agg(countDistinct(col("url")).as("n_variants"),
        count(lit(1)).as("n_mentions"))
  }

  /** Contrastive negatives: 2 deterministic cross-label partners per
    * embedding — the pair-generation step of contrastive training. */
  def sampleContrastive(spark: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.negativePairs(
      Tables.embeddings(spark, dir), "vec_id", "label", k = 2)

  /** Deterministic weighted sample: 200 docs drawn with probability
    * proportional to length ([[graft.text.Sampling.weightedTopK]] —
    * hash-priority, reproducible anywhere). */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.weightedTopK(
      Tables.documents(spark, dir).select(
        col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("n_chars")),
      "doc_id", col("n_chars"), n = 200)

  /** Perceptual near-dup over media payloads: the corpus plus a slightly
    * corrupted copy of every doc (first 3 bytes replaced — the re-encoded
    * /resized-image stand-in), paired by average-hash within hamming ≤ 3
    * ([[Multimodal.phashPairs]]: pigeonhole chunk buckets, never a
    * self-join). Each planted copy should land near its original. */
  def multimodalPhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // one scan emits each doc plus its corrupted twin (explode, not a
    // self-union — Union constraint rewriting trips over the pruned text
    // attribute, and a single Generate reads the corpus once anyway)
    val corpus = Tables.documents(spark, dir).select(
        explode(array(
          struct(col("doc_id").cast("long").as("doc_id"), col("text")),
          struct((col("doc_id").cast("long") + 1000000L).as("doc_id"),
            concat(lit("zzz"), col("text").substr(lit(4), length(col("text"))))
              .as("text")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    Multimodal.phashPairs(corpus, "doc_id", "text", k = 3)
  }

  /** End-to-end corpus curation — the composed pipeline a pretraining
    * data team runs: length + repetition quality filters → MinHash-LSH
    * near-dup clustering over the survivors → one canonical doc per
    * cluster → per-language kept-count report. One declarative plan;
    * every stage is the library operator gated individually elsewhere. */
  def e2eCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lowRep = TextFunctions.repetitionMetrics(docs, "doc_id", "text")
      .filter(col("dup_trigram_frac_x1e6") <= 900000L).select(col("doc_id"))
    // survivors feeds BOTH the pair-generation path and the final keep
    // join; a lazy localCheckpoint materializes the filter pipeline once
    // (first action = the component edge count) instead of re-running the
    // filters per consumer. The length floor is a plain scan predicate —
    // only the repetition filter needs its aggregation semi-join.
    val survivors = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("lang"))
      .filter(size(split(col("text"), " ")) >= 40)
      .join(lowRep, Seq("doc_id"), "left_semi")
      .pin
    val pairs = Dedup.minhashLsh(
        Dedup.shingleTable(survivors, "doc_id", "text"), minJaccX1e6 = 800000L)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comps = graft.graph.Fixpoint.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    survivors.join(comps, Seq("doc_id"), "left")
      .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_kept"))
  }

  /** Inverted index over the corpus: term → df + sorted posting list,
    * rare terms (df < 30) and stop-terms (df > 2000) dropped. */
  def textInvertedIndex(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.invertedIndex(Tables.documents(spark, dir), "doc_id", "text",
      minDf = 30L, maxDf = 2000L)

  /** Top-20 collocations (adjacent-pair lift) with pair support >= 5. */
  def textCollocations(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.collocations(Tables.documents(spark, dir), "doc_id", "text",
      minCount = 5L, k = 20)

  /** Backoff LM coverage: even docs train the trigram/bigram/unigram
    * id sets, odd docs are scored — per-token highest covering level,
    * censused per doc. The train/test split makes it an honest
    * coverage read, not memorization. */
  def textBackoffCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextFunctions.backoffCoverage(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
  }

  /** Top-30 windowed co-occurrence PMI pairs (window 5, support ≥ 50):
    * the SGNS/embedding-prep association matrix next to the
    * adjacent-only collocation gate. */
  def textCooccurrencePmi(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.cooccurrencePmi(Tables.documents(spark, dir), "doc_id", "text",
      window = 5, minPair = 50L, k = 30)

  /** Per-language length-outlier flags at z = 3 — exact cross-multiplied
    * moment test, no float stddev anywhere. */
  def textGroupOutliers(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.groupOutliers(Tables.documents(spark, dir), "doc_id", "lang",
      "n_chars", z = 3)

  /** Deterministic 90/5/5 train/valid/test split keyed on doc_id. */
  def sampleHashSplit(spark: SparkSession, dir: String): DataFrame =
    Sampling.hashSplit(Tables.documents(spark, dir), "doc_id",
        Seq(("train", 900000L), ("valid", 50000L), ("test", 50000L)))
      .select(col("doc_id").cast("long").as("doc_id"), col("split"))

  private def langTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("lang"),
      explode(TextFunctions.tokens(col("text"))).as("word"))

  /** KMV distinct-count sketch (k=32) of per-language vocabulary, with
    * the exact count joined in as the accuracy report. */
  def sketchKmv(spark: SparkSession, dir: String): DataFrame =
    Sketches.kmvDistinct(langTokens(spark, dir), "lang", "word", k = 32)

  /** Count-Min sketch (4×64) of corpus token frequencies, read back as
    * per-word point estimates next to the true counts. */
  def sketchCms(spark: SparkSession, dir: String): DataFrame = {
    val cnt = langTokens(spark, dir).groupBy(col("word"))
      .agg(count(lit(1)).as("n_true"))
    val sketch = Sketches.countMinSketch(cnt, "word", "n_true", depth = 4, width = 64)
    Sketches.countMinLookup(sketch, cnt, "word", depth = 4, width = 64)
  }

  /** HyperLogLog (m=64) per-language vocabulary estimate with the exact
    * count alongside. */
  def sketchHll(spark: SparkSession, dir: String): DataFrame =
    Sketches.hllEstimate(langTokens(spark, dir), "lang", "word")

  /** HLL MERGEABILITY, gated: per-language registers built separately
    * over the even-doc and odd-doc halves, register-max-merged, must
    * estimate exactly what one pass over the whole corpus estimates —
    * the distributed-aggregate property a 1000-shard count-distinct
    * stands on. */
  def sketchHllMerge(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir).select(col("lang").as("g"),
      explode(TextFunctions.tokens(col("text"))).as("word"),
      (col("doc_id") % 2).as("p"))
    val merged = Sketches.hllMerge(
      Sketches.hllRegisters(tk.filter(col("p") === 0), "g", "word"),
      Sketches.hllRegisters(tk.filter(col("p") === 1), "g", "word"))
    Sketches.hllEstimateFromRegisters(merged, tk, "est_merged")
      .join(Sketches.hllEstimateFromRegisters(
        Sketches.hllRegisters(tk, "g", "word"), tk, "est_direct"), Seq("g"))
      .select(col("g").as("lang"), col("est_merged"), col("est_direct"))
  }

  /** Hashing-trick bag-of-words: 64-dim signed feature triples per doc
    * with no vocabulary pass — exactly-canceled dims dropped. */
  def textFeatureHash(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.featureHash(Tables.documents(spark, dir), "doc_id",
      "text", dims = 64)

  /** RAKE keyword extraction: top-20 stopword-bounded phrases by the
    * exact degree/frequency word-score sum — corpus-global, ×1e6
    * integer ratios. */
  def textRakeKeywords(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.rakeKeywords(Tables.documents(spark, dir), "doc_id",
      "text", stopwords = Seq("a", "the", "and", "of", "to", "in", "is"),
      topK = 20)

  /** Content-defined chunking census: rolling-hash chunk boundaries,
    * md5 chunk signatures, per-length chunk and distinct-signature
    * counts — duplicated passages show as n_chunks > n_distinct_sigs. */
  def textCdcChunks(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.cdcChunks(Tables.documents(spark, dir), "doc_id", "text",
        cutMod = 8)
      .groupBy(col("n_words"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("sig")).as("n_distinct_sigs"))

  /** Embedding-space similarity histogram: signed squared-cosine ppm of
    * N deterministic hash pairs bucketed by 1e5 ppm — collapse piles
    * mass into the top buckets. */
  def embedSimHistogram(spark: SparkSession, dir: String): DataFrame =
    Similarity.similarityHistogram(
      Similarity.quantized(Tables.embeddings(spark, dir)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e2e_curation" -> (e2eCuration _),
    "text_inverted_index" -> (textInvertedIndex _),
    "text_collocations" -> (textCollocations _),
    "text_cooccurrence_pmi" -> (textCooccurrencePmi _),
    "text_backoff_coverage" -> (textBackoffCoverage _),
    "text_group_outliers" -> (textGroupOutliers _),
    "sample_hash_split" -> (sampleHashSplit _),
    "sketch_kmv" -> (sketchKmv _),
    "sketch_cms" -> (sketchCms _),
    "sketch_hll" -> (sketchHll _),
    "sketch_hll_merge" -> (sketchHllMerge _),
    "text_quality" -> (textQuality _),
    "text_lang_id" -> (textLangId _),
    "text_langid_confusion" -> (textLangIdConfusion _),
    "text_token_count" -> (textTokenCount _),
    "text_fingerprint" -> (textFingerprint _),
    "text_repetition" -> (textRepetition _),
    "text_repeated_spans" -> (textRepeatedSpans _),
    "text_repeated_span_removal" -> (textRepeatedSpanRemoval _),
    "text_bpe_census" -> (textBpeCensus _),
    "text_bpe_encode" -> (textBpeEncode _),
    "text_lm_score" -> (textLmScore _),
    "e2e_mixture" -> (e2eMixture _),
    "text_tfidf" -> (textTfidf _),
    "corpus_stats" -> (corpusStats _),
    "sample_stratified" -> (sampleStratified _),
    "dedup_exact" -> (dedupExact _),
    "dedup_shared_runs" -> (dedupSharedRuns _),
    "e2e_exact_substring_dedup" -> (e2eExactSubstringDedup _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_decontaminate" -> (dedupDecontaminate _),
    "dedup_decontaminate_bloom" -> (dedupDecontaminateBloom _),
    "text_gram_census" -> (textGramCensus _),
    "text_oov_rate" -> (textOovRate _),
    "text_chunking" -> (textChunking _),
    "text_seq_pack" -> (textSeqPack _),
    "embed_kmeans_assign" -> (embedKmeansAssign _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_allpairs" -> (dedupAllPairs _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_incremental_minhash" -> (dedupIncrementalMinhash _),
    "dedup_incremental_batch_pairs" -> (dedupIncrementalBatchPairs _),
    "dedup_lsh_recall" -> (dedupLshRecall _),
    "dedup_components" -> (dedupComponents _),
    "dedup_incremental_components" -> (dedupIncrementalComponents _),
    "dedup_hot_buckets" -> (dedupHotBuckets _),
    "sample_component_split" -> (sampleComponentSplit _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_simhash_hamming" -> (dedupSimhashHamming _),
    "dedup_cosine_neardup" -> (dedupCosineNearDup _),
    "dedup_semantic" -> (dedupSemantic _),
    "dedup_cosine_neardup_lsh" -> (dedupCosineNearDupLsh _),
    "sim_bruteforce_topk" -> (simBruteForceTopK _),
    "sim_ann_lsh" -> (simAnnLsh _),
    "sim_ann_multiprobe" -> (simAnnMultiprobe _),
    "sim_ann_ivf" -> (simAnnIvf _),
    "sim_ann_ivfpq" -> (simAnnIvfPq _),
    "sim_knn_join" -> (simKnnJoin _),
    "embed_pq_encode" -> (embedPqEncode _),
    "embed_sim_histogram" -> (embedSimHistogram _),
    "sample_cap_per_group" -> (sampleCapPerGroup _),
    "sample_temperature" -> (sampleTemperature _),
    "text_pii_scrub" -> (textPiiScrub _),
    "text_line_dedup" -> (textLineDedup _),
    "text_feature_hash" -> (textFeatureHash _),
    "text_rake_keywords" -> (textRakeKeywords _),
    "text_cdc_chunks" -> (textCdcChunks _),
    "text_url_census" -> (textUrlCensus _),
    "dedup_url_canonical" -> (dedupUrlCanonical _),
    "sample_contrastive" -> (sampleContrastive _),
    "sample_weighted" -> (sampleWeighted _),
    "corpus_percentiles" -> (corpusPercentiles _),
    "corpus_percentiles_cont" -> (corpusPercentilesCont _),
    "multimodal_decode" -> (multimodalDecode _),
    "multimodal_audio_features" -> (multimodalAudioFeatures _),
    "multimodal_phash_pairs" -> (multimodalPhashPairs _),
    "multimodal_frame_sample" -> (multimodalFrameSample _),
    "text_quality_filter" -> (textQualityFilter _),
    "dedup_representatives" -> (dedupRepresentatives _),
    "sketch_quantile_hist" -> (sketchQuantileHist _),
    "sketch_quantile_merge" -> (sketchQuantileMerge _),
    "text_bm25" -> (textBm25 _),
    "text_search_ranked" -> (textSearchRanked _),
    "text_rank_fusion" -> (textRankFusion _),
    "text_rouge" -> (textRouge _),
    "text_simpson" -> (textSimpson _),
    "sample_weighted_per_group" -> (sampleWeightedPerGroup _),
    "e2e_hybrid_retrieval" -> (e2eHybridRetrieval _),
    "text_ranking_hdcg" -> (textRankingHdcg _),
    "dedup_blocking_quality" -> (dedupBlockingQuality _),
    "sim_ann_recall" -> (simAnnRecall _),
    "text_winsorize" -> (textWinsorize _),
  )

  // ---- oracle SQL (DuckDB) ----

  private val BpeMerges = 6

  /** 6 unrolled BPE merge rounds (v0 .. v6), each: position table →
    * weighted pair census → 1-row top pair → bounded replace-to-fixpoint
    * (8 passes), mirroring [[TextFunctions.bpeVocab]] exactly. CTEs are
    * MATERIALIZED: plain CTEs inline the previous round ~18× per level
    * and the tree explodes exponentially ("too many open files"). */
  private val BpeRoundsSql: String = {
    val passes = 8
    def nestReplace(r: Int): String = {
      val pat = s"(SELECT ' ' || a || ' ' || b || ' ' FROM t$r)"
      val rep = s"(SELECT ' ' || a || b || ' ' FROM t$r)"
      (1 to passes).foldLeft("' ' || seq || ' '")((s, _) =>
        s"replace($s, $pat, $rep)")
    }
    def roundSql(r: Int): String =
      s"""pr$r AS MATERIALIZED (
         |  SELECT word, freq, unnest(string_split(seq, ' ')) AS sym,
         |         generate_subscripts(string_split(seq, ' '), 1) AS pos
         |  FROM v${r - 1}),
         |c$r AS MATERIALIZED (
         |  SELECT x.sym AS a, y.sym AS b, sum(x.freq) AS n
         |  FROM pr$r x JOIN pr$r y ON x.word = y.word AND y.pos = x.pos + 1
         |  GROUP BY x.sym, y.sym),
         |t$r AS MATERIALIZED (SELECT a, b FROM c$r ORDER BY n DESC, a ASC, b ASC LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT word, freq, coalesce(trim(${nestReplace(r)}), seq) AS seq
         |  FROM v${r - 1})""".stripMargin
    s"""v0 AS MATERIALIZED (
       |  SELECT word, count(*) AS freq,
       |         array_to_string(string_split(word, ''), ' ') AS seq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0
       |  GROUP BY word),
       |${(1 to BpeMerges).map(roundSql).mkString(",\n")}""".stripMargin
  }

  /** Shared text CTEs mirroring [[TextFunctions]]'s hash arithmetic: token
    * table (1-based pos), 56-bit md5 word ids, two-chain ~62-bit 3-gram
    * shingle ids, shingle-set sizes. Constants interpolated from
    * [[TextFunctions]] so the two engines can never drift. */
  private val TextCtes = {
    val P = TextFunctions.P
    val mA = TextFunctions.Mix
    val mB = TextFunctions.MixB
    def chain(m: Long) =
      s"((((a.wid % $P) * $m + (b.wid % $P)) % $P) * $m + (c.wid % $P)) % $P"
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS word,
       |         generate_subscripts(string_split(text,' '),1) AS pos
       |  FROM documents),
       |seq AS (
       |  SELECT doc_id, pos,
       |         CAST(('0x' || substr(md5(word),1,14)) AS BIGINT) AS wid
       |  FROM toks),
       |sh AS (
       |  SELECT DISTINCT a.doc_id,
       |    (${chain(mA)}) * $P + (${chain(mB)}) AS sid
       |  FROM seq a
       |  JOIN seq b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  JOIN seq c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
       |shsize AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin
  }

  private val minhashAggs: String =
    TextFunctions.MinhashA.zip(TextFunctions.MinhashB).zipWithIndex.map {
      case ((a, b), j) =>
        s"min(($a*(sid % ${TextFunctions.P}) + $b) % ${TextFunctions.P}) AS h$j"
    }.mkString(", ")

  private val simhashBitSums: String = (0 until TextFunctions.SimhashBits).map { k =>
    s"sum(CASE WHEN (((wid % ${TextFunctions.P}) * ${TextFunctions.Mix}) // ${1L << k}) % 2 = 1 THEN tf ELSE -tf END) AS s$k"
  }.mkString(",\n    ")

  private val simhashSig: String =
    (0 until TextFunctions.SimhashBits)
      .map(k => s"CASE WHEN s$k > 0 THEN ${1L << k} ELSE 0 END").mkString(" + ")

  /** Quantized-embedding CTE: q = floor(1000x) per dim, integer norm. */
  private val QuantCte =
    """qv AS (
      |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |qn AS (
      |  SELECT vec_id, q,
      |    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS norm2
      |  FROM qv)""".stripMargin

  private val pairDot =
    "CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1]*p[2])) AS BIGINT)"

  /** One deterministic Lloyd round over qn (init = first 16 vectors,
    * floor-mean update, (cos desc, cid asc) argmax) ending in `a1` =
    * (vec_id, cid, cos_x1e6) — the unrolled mirror of
    * [[graft.similarity.Similarity.kmeansAssign]](nCentroids=16,
    * iterations=1), shared by the kmeans and semantic-dedup oracles. */
  private val KmeansCte =
    """c0 AS (SELECT vec_id AS cid, q AS qc, norm2 AS nc FROM qn WHERE vec_id < 16),
      |cc0 AS (
      |  SELECT v.vec_id, c.cid,
      |    CAST(floor(1000000.0 *
      |      CAST(list_sum(list_transform(list_zip(v.q, c.qc), p -> p[1]*p[2])) AS BIGINT) /
      |      sqrt(CAST(v.norm2 * c.nc AS DOUBLE))) AS BIGINT) AS cc
      |  FROM qn v CROSS JOIN c0 c),
      |a0 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS rk
      |    FROM cc0) WHERE rk = 1),
      |qd AS (SELECT vec_id, unnest(q) AS x, generate_subscripts(q,1) AS dim FROM qn),
      |sums AS (
      |  SELECT a.cid, d.dim, sum(d.x) AS sx, count(*) AS n
      |  FROM qd d JOIN a0 a USING(vec_id) GROUP BY a.cid, d.dim),
      |c1 AS (
      |  SELECT cid, list(CAST(floor(CAST(sx AS DOUBLE) / n) AS BIGINT) ORDER BY dim) AS qc
      |  FROM sums GROUP BY cid),
      |c1n AS (
      |  SELECT cid, qc,
      |    CAST(list_sum(list_transform(qc, x -> x*x)) AS BIGINT) AS nc
      |  FROM c1),
      |cc1 AS (
      |  SELECT v.vec_id, c.cid,
      |    CAST(floor(1000000.0 *
      |      CAST(list_sum(list_transform(list_zip(v.q, c.qc), p -> p[1]*p[2])) AS BIGINT) /
      |      sqrt(CAST(v.norm2 * c.nc AS DOUBLE))) AS BIGINT) AS cc
      |  FROM qn v CROSS JOIN c1n c),
      |a1 AS (
      |  SELECT vec_id, cid, cc AS cos_x1e6 FROM (
      |    SELECT vec_id, cid, cc,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS rk
      |    FROM cc1) WHERE rk = 1)""".stripMargin

  /** Sign-LSH signature CTE over qn (8 bits, 64 dims, bit 13 of Knuth mix). */
  private val LshSigCte =
    s"""qd AS (
       |  SELECT vec_id, unnest(q) AS x, generate_subscripts(q,1) AS i, norm2 FROM qn),
       |proj AS (
       |  SELECT vec_id, j.j,
       |    sum(CASE WHEN (((j.j*64 + i) * ${TextFunctions.Mix}) // 8192) % 2 = 1
       |             THEN x ELSE -x END) AS s
       |  FROM qd CROSS JOIN (SELECT unnest(range(0, 8)) AS j) j
       |  GROUP BY vec_id, j.j),
       |sigs AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sig
       |  FROM proj GROUP BY vec_id)""".stripMargin


  /** Shared log-linear-histogram oracle plumbing (sketch_quantile_*):
    * price cents per return flag → bucket counts → cumulative read-out of
    * the target per-mille ranks. Mirrors Sketches.histBuckets /
    * histQuantiles bit for bit (msb via bin-string length, 16 sub-buckets,
    * ceil-div target rank). */
  private val HistQuantileCtes: String =
    """v AS (
      |  SELECT l_returnflag AS g,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM lineitem),
      |pos AS (SELECT g, v FROM v WHERE v >= 1),
      |b AS (
      |  SELECT g,
      |    CASE WHEN v < 16 THEN v
      |         ELSE (length(bin(v)) - 1) * 16
      |              + (v >> (length(bin(v)) - 1 - 4)) - 16 END AS bucket,
      |    count(*) AS c
      |  FROM pos GROUP BY 1, 2),
      |cum AS (
      |  SELECT g, bucket, c,
      |    sum(c) OVER (PARTITION BY g ORDER BY bucket) AS cum
      |  FROM b),
      |n AS (SELECT g, sum(c) AS n FROM b GROUP BY g),
      |qs AS (SELECT g, n, unnest([500, 900, 990, 999]) AS q_permille FROM n),
      |t AS (SELECT g, n, q_permille,
      |        (q_permille * n + 999) // 1000 AS target FROM qs),
      |sel AS (
      |  SELECT t.g, t.q_permille, t.n, t.target, min(c.bucket) AS bucket
      |  FROM t JOIN cum c ON t.g = c.g AND c.cum >= t.target
      |  GROUP BY 1, 2, 3, 4)""".stripMargin

  private val HistDecodeSql: String =
    """CAST(CASE WHEN s.bucket < 16 THEN s.bucket
      |     ELSE (s.bucket % 16 + 16) << (s.bucket // 16 - 4)
      |     END AS BIGINT)""".stripMargin

  /** Shared shared-runs oracle plumbing (dedup_shared_runs /
    * e2e_exact_substring_dedup): positional 4-gram anchors over the
    * md5-prefix wid mix chain (TextFunctions.gramIds(wids, 4)'s fold),
    * df-capped at 64, diagonal islands -> per-(pair, diagonal) `runs`. */
  private val SharedRunsCtes: String = {
    val P = TextFunctions.P
    def c4(m: Long) =
      s"((((((a.w * $m + b.w) % $P) * $m + c.w) % $P) * $m + d.w) % $P)"
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS word,
       |         generate_subscripts(string_split(text,' '),1) AS pos
       |  FROM documents),
       |sq AS MATERIALIZED (SELECT doc_id, pos,
       |  CAST(('0x' || substr(md5(word),1,14)) AS BIGINT) % $P AS w FROM toks),
       |anch AS MATERIALIZED (
       |  SELECT a.doc_id, a.pos,
       |    (${c4(TextFunctions.Mix)}) * $P + (${c4(TextFunctions.MixB)}) AS gid
       |  FROM sq a JOIN sq b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |            JOIN sq c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
       |            JOIN sq d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3),
       |keep AS (SELECT gid FROM anch GROUP BY gid
       |  HAVING count(*) >= 2 AND count(*) <= 64),
       |k AS MATERIALIZED (SELECT anch.* FROM anch JOIN keep USING (gid)),
       |m AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.pos AS pa,
       |        x.pos - y.pos AS diag
       |      FROM k x JOIN k y ON x.gid = y.gid AND x.doc_id < y.doc_id),
       |isl AS (SELECT doc_a, doc_b, diag,
       |        pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
       |          ORDER BY pa) AS i
       |        FROM m),
       |runs AS (SELECT doc_a, doc_b, diag, i, count(*) + 3 AS run
       |         FROM isl GROUP BY 1, 2, 3, 4)""".stripMargin
  }

  /** Shared BM25 oracle plumbing (text_bm25 / text_search_ranked):
    * mirrors TextFunctions.bm25Scores — same integer surrogate, same
    * 20·T-multiplied k1/b constants. Appended after $TextCtes (uses its
    * `seq` word-id table). */
  private val Bm25Ctes: String =
    """tf AS (SELECT doc_id, wid, count(*) AS tf FROM seq GROUP BY doc_id, wid),
      |lens AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY doc_id),
      |dfreq AS (SELECT wid, count(*) AS df FROM tf GROUP BY wid),
      |tot AS (SELECT sum(len) AS t_total, count(*) AS n_docs FROM lens),
      |sc AS (
      |  SELECT t.doc_id, t.wid, t.tf, l.len, d.df,
      |    (1000 * o.n_docs) // d.df AS idf_x1e3,
      |    (1000000 * 44 * o.t_total * t.tf) //
      |      (20 * o.t_total * t.tf + 6 * o.t_total + 18 * l.len * o.n_docs)
      |      AS tfn_x1e6
      |  FROM tf t JOIN lens l USING (doc_id) JOIN dfreq d USING (wid)
      |  CROSS JOIN tot o),
      |sc2 AS (SELECT *, (tfn_x1e6 * idf_x1e3) // 1000 AS bm25_x1e6 FROM sc)""".stripMargin

  /** Shared IVF oracle plumbing (sim_ann_ivf / sim_ann_recall): 16-row
    * coarse centroid set, argmax cell assignment, 2-probe query cells,
    * candidate scoring — mirrors Similarity.ivfTopK's defaults. Appended
    * after $QuantCte (uses its `qn` quantized-vector table). */
  private val IvfCtes: String =
    s"""cents AS (SELECT vec_id AS cid, q AS qc, norm2 AS nc FROM qn WHERE vec_id < 16),
       |ccos AS (
       |  SELECT v.vec_id, c.cid,
       |    floor(1000000.0 *
       |      CAST(list_sum(list_transform(list_zip(v.q, c.qc), p -> p[1]*p[2])) AS BIGINT) /
       |      sqrt(CAST(v.norm2 * c.nc AS DOUBLE))) AS cc
       |  FROM qn v CROSS JOIN cents c),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS rk
       |    FROM ccos) WHERE rk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS rk
       |    FROM ccos WHERE vec_id < 10) WHERE rk <= 2),
       |iscored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    CAST(floor(1000000.0 * $pairDot /
       |         sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) AS BIGINT) AS cos_x1e6
       |  FROM probes p
       |  JOIN assign s ON p.cid = s.cid
       |  JOIN qn a ON a.vec_id = s.vec_id
       |  JOIN qn b ON b.vec_id = p.query_id
       |  WHERE a.vec_id <> p.query_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_quality" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct_tokens,
         |  CAST(len(list_filter(string_split(text,' '),
         |       t -> t IN (${Stopwords.map(s => s"'$s'").mkString(",")}))) AS BIGINT) AS n_stopwords,
         |  CAST(floor(1000000.0 *
         |       len(list_filter(string_split(text,' '),
         |           t -> t IN (${Stopwords.map(s => s"'$s'").mkString(",")})))
         |       / len(string_split(text,' '))) AS BIGINT) AS stopword_score_x1e6
         |FROM documents""".stripMargin,
    "text_lang_id" -> {
      val markerRows = Markers.toSeq.sortBy(_._1).flatMap { case (l, ws) =>
        ws.map(w => s"('$l','$w')")
      }.mkString(", ")
      s"""WITH markers(lang, word) AS (VALUES $markerRows),
         |toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
         |hits AS (
         |  SELECT doc_id, lang, count(*) AS n
         |  FROM toks JOIN markers USING(word) GROUP BY doc_id, lang),
         |best AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, lang ASC) AS rk
         |  FROM hits)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |  coalesce(b.lang, 'unknown') AS pred_lang
         |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
         |  ON d.doc_id = b.doc_id""".stripMargin
    },
    "text_langid_confusion" -> {
      val markerRows = Markers.toSeq.sortBy(_._1).flatMap { case (l, ws) =>
        ws.map(w => s"('$l','$w')")
      }.mkString(", ")
      s"""WITH markers(lang, word) AS (VALUES $markerRows),
         |toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
         |hits AS (
         |  SELECT doc_id, lang, count(*) AS n
         |  FROM toks JOIN markers USING(word) GROUP BY doc_id, lang),
         |best AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, lang ASC) AS rk
         |  FROM hits),
         |pred AS (
         |  SELECT d.doc_id, d.lang, coalesce(b.lang, 'unknown') AS pred_lang
         |  FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
         |    ON d.doc_id = b.doc_id),
         |cells AS (SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2),
         |tot AS (SELECT lang, sum(n) AS t FROM cells GROUP BY lang)
         |SELECT c.lang, c.pred_lang, CAST(c.n AS BIGINT) AS n,
         |  CAST((c.n * 1000000) // t.t AS BIGINT) AS row_ppm
         |FROM cells c JOIN tot t ON c.lang = t.lang
         |ORDER BY c.lang, c.pred_lang""".stripMargin
    },
    "text_token_count" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(length(replace(text,' ','')) AS BIGINT) AS n_nonspace_chars
        |FROM documents""".stripMargin,
    "text_fingerprint" ->
      s"""WITH $TextCtes
         |SELECT doc_id,
         |  CAST(sum((wid % ${TextFunctions.FpMod}) * pos) AS BIGINT) AS fingerprint
         |FROM seq GROUP BY doc_id""".stripMargin,
    "text_repetition" -> {
      val P = TextFunctions.P
      val mA = TextFunctions.Mix
      val mB = TextFunctions.MixB
      def g2(m: Long) = s"(((a.wid % $P) * $m + (b.wid % $P)) % $P)"
      def g3(m: Long) =
        s"(((((a.wid % $P) * $m + (b.wid % $P)) % $P) * $m + (c.wid % $P)) % $P)"
      s"""WITH $TextCtes,
         |big AS (
         |  SELECT a.doc_id, ${g2(mA)} * $P + ${g2(mB)} AS gid
         |  FROM seq a JOIN seq b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |bigc AS (SELECT doc_id, gid, count(*) AS c FROM big GROUP BY doc_id, gid),
         |bigm AS (SELECT doc_id, sum(c) AS nb, max(c) AS topb FROM bigc GROUP BY doc_id),
         |tri AS (
         |  SELECT a.doc_id, ${g3(mA)} * $P + ${g3(mB)} AS gid
         |  FROM seq a
         |  JOIN seq b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  JOIN seq c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         |tric AS (SELECT doc_id, gid, count(*) AS c FROM tri GROUP BY doc_id, gid),
         |trim2 AS (
         |  SELECT doc_id, sum(c) AS nt,
         |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
         |  FROM tric GROUP BY doc_id)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |  CAST(coalesce(bm.nb, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(bm.topb, 0) AS BIGINT) AS top_bigram_n,
         |  CAST(floor(1000000.0 * coalesce(bm.topb, 0)
         |       / greatest(coalesce(bm.nb, 0), 1)) AS BIGINT) AS top_bigram_frac_x1e6,
         |  CAST(coalesce(tm.nt, 0) AS BIGINT) AS n_trigrams,
         |  CAST(coalesce(tm.dup, 0) AS BIGINT) AS dup_trigram_n,
         |  CAST(floor(1000000.0 * coalesce(tm.dup, 0)
         |       / greatest(coalesce(tm.nt, 0), 1)) AS BIGINT) AS dup_trigram_frac_x1e6
         |FROM documents d
         |LEFT JOIN bigm bm ON d.doc_id = bm.doc_id
         |LEFT JOIN trim2 tm ON d.doc_id = tm.doc_id""".stripMargin
    },
    "text_repeated_spans" -> {
      val P = TextFunctions.P
      val mA = TextFunctions.Mix
      val mB = TextFunctions.MixB
      def g4(m: Long) =
        s"(((((((a.wid % $P) * $m + (b.wid % $P)) % $P) * $m + (c.wid % $P)) % $P) * $m + (d.wid % $P)) % $P)"
      s"""WITH $TextCtes,
         |g4 AS (
         |  SELECT a.doc_id, ${g4(mA)} * $P + ${g4(mB)} AS gid
         |  FROM seq a
         |  JOIN seq b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  JOIN seq c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
         |  JOIN seq d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3),
         |census AS (SELECT gid, count(DISTINCT doc_id) AS nd FROM g4 GROUP BY gid),
         |perdoc AS (
         |  SELECT g4.doc_id, count(*) AS n_windows,
         |         sum(CASE WHEN cs.nd >= 2 THEN 1 ELSE 0 END) AS n_shared
         |  FROM g4 JOIN census cs USING (gid) GROUP BY g4.doc_id)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |  CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
         |  CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared_windows,
         |  CAST(floor(1000000.0 * coalesce(p.n_shared, 0)
         |       / greatest(coalesce(p.n_windows, 0), 1)) AS BIGINT) AS shared_frac_x1e6
         |FROM documents d
         |LEFT JOIN perdoc p ON CAST(d.doc_id AS BIGINT) = p.doc_id""".stripMargin
    },
    "text_repeated_span_removal" -> {
      val P = TextFunctions.P
      val mA = TextFunctions.Mix
      val mB = TextFunctions.MixB
      def g4(m: Long) =
        s"(((((((a.wid % $P) * $m + (b.wid % $P)) % $P) * $m + (c.wid % $P)) % $P) * $m + (d.wid % $P)) % $P)"
      s"""WITH $TextCtes,
         |g4 AS (
         |  SELECT a.doc_id, a.pos, ${g4(mA)} * $P + ${g4(mB)} AS gid
         |  FROM seq a
         |  JOIN seq b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  JOIN seq c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
         |  JOIN seq d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3),
         |hot AS (
         |  SELECT gid FROM g4 GROUP BY gid HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (
         |  SELECT DISTINCT g4.doc_id, u.tp
         |  FROM g4 JOIN hot USING (gid), unnest(range(g4.pos, g4.pos + 4)) AS u(tp)),
         |kept AS (
         |  SELECT t.doc_id, t.pos, t.word
         |  FROM toks t LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.tp
         |  WHERE cov.tp IS NULL),
         |clean AS (
         |  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS cleaned,
         |         count(*) AS n_kept
         |  FROM kept GROUP BY doc_id),
         |nrem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
         |  coalesce(c.cleaned, '') AS cleaned_text
         |FROM documents d
         |LEFT JOIN clean c ON CAST(d.doc_id AS BIGINT) = c.doc_id
         |LEFT JOIN nrem r ON CAST(d.doc_id AS BIGINT) = r.doc_id""".stripMargin
    },
    "text_lm_score" ->
      s"""WITH $TextCtes,
         |bg AS (
         |  SELECT a.doc_id, a.wid AS w1, b.wid AS w2
         |  FROM seq a JOIN seq b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |cp AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
         |cu AS (SELECT wid AS w1, count(*) AS c1 FROM seq GROUP BY wid),
         |pd AS (
         |  SELECT bg.doc_id, count(*) AS n_bigrams,
         |         sum(CAST(floor(1000000.0 * cp.c2 / cu.c1) AS BIGINT)) AS s
         |  FROM bg JOIN cp USING (w1, w2) JOIN cu USING (w1)
         |  GROUP BY bg.doc_id)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(p.s // p.n_bigrams, 0) AS BIGINT) AS mean_p_x1e6
         |FROM documents d
         |LEFT JOIN pd p ON CAST(d.doc_id AS BIGINT) = p.doc_id""".stripMargin,
    "text_bpe_census" ->
      s"""WITH $BpeRoundsSql
         |SELECT symbol, CAST(sum(freq) AS BIGINT) AS n_weighted
         |FROM (SELECT freq, unnest(string_split(seq, ' ')) AS symbol FROM v$BpeMerges)
         |WHERE length(symbol) > 0
         |GROUP BY symbol""".stripMargin,
    "text_bpe_encode" ->
      s"""WITH $BpeRoundsSql,
         |tk AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents),
         |enc AS (
         |  SELECT tk.doc_id,
         |    sum(len(string_split(v.seq, ' '))) AS n_subwords,
         |    string_agg(v.seq, ' ' ORDER BY tk.pos) AS encoded
         |  FROM tk JOIN v$BpeMerges v ON tk.word = v.word
         |  WHERE length(tk.word) > 0
         |  GROUP BY tk.doc_id)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |  CAST(coalesce(e.n_subwords, 0) AS BIGINT) AS n_subwords,
         |  coalesce(e.encoded, '') AS encoded_text
         |FROM documents d
         |LEFT JOIN enc e ON CAST(d.doc_id AS BIGINT) = e.doc_id""".stripMargin,
    "e2e_mixture" ->
      """WITH q AS (
        |  SELECT doc_id, lang, source, len(string_split(text,' ')) AS n_toks
        |  FROM documents WHERE len(string_split(text,' ')) >= 20),
        |capped AS (
        |  SELECT doc_id, lang, n_toks FROM (
        |    SELECT doc_id, lang, n_toks,
        |      row_number() OVER (PARTITION BY source ORDER BY
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,14)) AS BIGINT) ASC,
        |        doc_id ASC) AS rk
        |    FROM q) WHERE rk <= 15),
        |counts AS (SELECT lang, count(*) AS n FROM capped GROUP BY lang),
        |mn AS (SELECT min(n) AS minn FROM counts),
        |rates AS (
        |  SELECT lang, CAST(floor(1000000.0 * sqrt(CAST(minn AS DOUBLE)) /
        |    sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS rate FROM counts, mn),
        |mixed AS (
        |  SELECT c.doc_id, c.lang, c.n_toks
        |  FROM capped c JOIN rates r ON c.lang = r.lang
        |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(c.doc_id AS VARCHAR)),1,14)) AS BIGINT)
        |        % 1000000 < r.rate),
        |sp AS (
        |  SELECT lang, n_toks,
        |    CASE WHEN u < 980000 THEN 'train'
        |         WHEN u < 990000 THEN 'valid' ELSE 'test' END AS split
        |  FROM (SELECT lang, n_toks,
        |    CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),1,14)) AS BIGINT)
        |      % 1000000 AS u FROM mixed))
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |FROM sp GROUP BY split, lang""".stripMargin,
    "text_tfidf" ->
      s"""WITH $TextCtes,
         |tf AS (SELECT doc_id, wid, count(*) AS tf FROM seq GROUP BY doc_id, wid),
         |dfreq AS (SELECT wid, count(*) AS df FROM tf GROUP BY wid),
         |n AS (SELECT count(*) AS nd FROM documents),
         |scored AS (
         |  SELECT t.doc_id, t.wid, t.tf, d.df,
         |    CAST(floor(1000000.0 * t.tf * n.nd / d.df) AS BIGINT) AS tfidf_x1e6
         |  FROM tf t JOIN dfreq d USING(wid) CROSS JOIN n),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf_x1e6 DESC, wid ASC) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, wid, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, tfidf_x1e6
         |FROM ranked WHERE rank <= 3""".stripMargin,
    "corpus_stats" ->
      """SELECT lang, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
        |  CAST(floor(1000000.0 * sum(len(string_split(text,' '))) / count(*)) AS BIGINT)
        |    AS mean_tokens_x1e6
        |FROM documents GROUP BY lang, source""".stripMargin,
    "dedup_decontaminate" ->
      s"""WITH $TextCtes,
         |evalsh AS (SELECT DISTINCT sid FROM sh WHERE doc_id % 10 = 0),
         |hits AS (
         |  SELECT t.doc_id, count(*) AS n
         |  FROM sh t JOIN evalsh e ON t.sid = e.sid
         |  WHERE t.doc_id % 10 <> 0 GROUP BY t.doc_id)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_shared_grams,
         |  coalesce(h.n, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         |WHERE d.doc_id % 10 <> 0""".stripMargin,
    // identical semantics to dedup_decontaminate: the Bloom filter is a
    // prefilter only, and the exact verify join removes false positives
    "dedup_decontaminate_bloom" ->
      s"""WITH $TextCtes,
         |evalsh AS (SELECT DISTINCT sid FROM sh WHERE doc_id % 10 = 0),
         |hits AS (
         |  SELECT t.doc_id, count(*) AS n
         |  FROM sh t JOIN evalsh e ON t.sid = e.sid
         |  WHERE t.doc_id % 10 <> 0 GROUP BY t.doc_id)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_shared_grams,
         |  coalesce(h.n, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         |WHERE d.doc_id % 10 <> 0""".stripMargin,
    "text_gram_census" ->
      s"""WITH $TextCtes
         |SELECT sid, CAST(count(*) AS BIGINT) AS n_docs
         |FROM sh GROUP BY sid
         |ORDER BY n_docs DESC, sid ASC LIMIT 20""".stripMargin,
    "e2e_curation" -> {
      val P = TextFunctions.P
      val mA = TextFunctions.Mix
      val mB = TextFunctions.MixB
      def g3(m: Long) =
        s"(((((a.wid % $P) * $m + (b.wid % $P)) % $P) * $m + (c.wid % $P)) % $P)"
      s"""WITH RECURSIVE $TextCtes,
         |tri AS (
         |  SELECT a.doc_id, ${g3(mA)} * $P + ${g3(mB)} AS gid
         |  FROM seq a
         |  JOIN seq b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  JOIN seq c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         |tric AS (SELECT doc_id, gid, count(*) AS c FROM tri GROUP BY doc_id, gid),
         |trim2 AS (
         |  SELECT doc_id, sum(c) AS nt,
         |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
         |  FROM tric GROUP BY doc_id),
         |flt AS (
         |  SELECT d.doc_id FROM documents d
         |  LEFT JOIN trim2 t ON d.doc_id = t.doc_id
         |  WHERE len(string_split(d.text,' ')) >= 40
         |    AND floor(1000000.0 * coalesce(t.dup, 0)
         |        / greatest(coalesce(t.nt, 0), 1)) <= 900000),
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |   AND x.doc_id < y.doc_id
         |  WHERE x.doc_id IN (SELECT doc_id FROM flt)
         |    AND y.doc_id IN (SELECT doc_id FROM flt)),
         |inter AS (
         |  SELECT c.da, c.db, count(*) AS i
         |  FROM cand c JOIN sh a ON a.doc_id = c.da
         |              JOIN sh b ON b.doc_id = c.db AND a.sid = b.sid
         |  GROUP BY c.da, c.db),
         |prs AS (
         |  SELECT da AS a, db AS b
         |  FROM inter JOIN shsize na ON da = na.doc_id JOIN shsize nb ON db = nb.doc_id
         |  WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 800000),
         |und AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
         |reach AS (
         |  SELECT a AS node, b AS reachable FROM und
         |  UNION
         |  SELECT r.node, u.b FROM reach r JOIN und u ON r.reachable = u.a),
         |comp AS (
         |  SELECT node, least(node, min(reachable)) AS component
         |  FROM reach GROUP BY node),
         |kept AS (
         |  SELECT f.doc_id, d.lang
         |  FROM flt f JOIN documents d ON d.doc_id = f.doc_id
         |  LEFT JOIN comp c ON c.node = f.doc_id
         |  WHERE coalesce(c.component, f.doc_id) = f.doc_id)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_kept
         |FROM kept GROUP BY lang""".stripMargin
    },
    "text_seq_pack" ->
      """WITH spans AS (
        |  SELECT doc_id, string_split(text,' ') AS t,
        |    unnest(range(0, CAST(ceil(len(string_split(text,' ')) / 32.0) AS INT)))
        |      AS chunk_idx
        |  FROM documents),
        |chunks AS (
        |  SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
        |    CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |    CAST(len(list_slice(t, chunk_idx*32 + 1, chunk_idx*32 + 32)) AS BIGINT)
        |      AS n_chunk_tokens,
        |    d.lang
        |  FROM spans s JOIN documents d ON s.doc_id = d.doc_id),
        |packed AS (
        |  SELECT lang, n_chunk_tokens,
        |    CAST(floor(coalesce(sum(n_chunk_tokens) OVER (PARTITION BY lang
        |      ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512)
        |      AS BIGINT) AS bin
        |  FROM chunks)
        |SELECT lang, bin, count(*) AS n_chunks,
        |  CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens
        |FROM packed GROUP BY lang, bin""".stripMargin,
    "text_chunking" ->
      """WITH spans AS (
        |  SELECT doc_id, string_split(text,' ') AS t,
        |    unnest(range(0, CAST(ceil(len(string_split(text,' ')) / 24.0) AS INT)))
        |      AS chunk_idx
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(list_slice(t, chunk_idx*24 + 1, chunk_idx*24 + 32)) AS BIGINT)
        |    AS n_chunk_tokens,
        |  array_to_string(list_slice(t, chunk_idx*24 + 1, chunk_idx*24 + 32), ' ')
        |    AS chunk_text
        |FROM spans""".stripMargin,
    "text_oov_rate" ->
      s"""WITH $TextCtes,
         |wcounts AS (SELECT wid, count(*) AS n FROM seq GROUP BY wid),
         |vocab AS (SELECT wid FROM wcounts ORDER BY n DESC, wid ASC LIMIT 20),
         |agg AS (
         |  SELECT s.doc_id, count(*) AS n_tokens,
         |    sum(CASE WHEN v.wid IS NULL THEN 1 ELSE 0 END) AS n_oov
         |  FROM seq s LEFT JOIN vocab v ON s.wid = v.wid
         |  GROUP BY s.doc_id)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_oov AS BIGINT) AS n_oov,
         |  CAST(floor(1000000.0 * n_oov / n_tokens) AS BIGINT) AS oov_rate_x1e6
         |FROM agg""".stripMargin,
    "dedup_containment" ->
      s"""WITH $TextCtes,
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |   AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT c.da, c.db, count(*) AS i
         |  FROM cand c JOIN sh a ON a.doc_id = c.da
         |              JOIN sh b ON b.doc_id = c.db AND a.sid = b.sid
         |  GROUP BY c.da, c.db)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(floor(1000000.0 * i / least(na.n, nb.n)) AS BIGINT) AS containment_x1e6
         |FROM inter JOIN shsize na ON da = na.doc_id JOIN shsize nb ON db = nb.doc_id
         |WHERE floor(1000000.0 * i / least(na.n, nb.n)) >= 850000""".stripMargin,
    "embed_kmeans_assign" ->
      s"""WITH $QuantCte,
         |$KmeansCte
         |SELECT vec_id, cid, cos_x1e6 FROM a1""".stripMargin,
    "dedup_semantic" ->
      s"""WITH RECURSIVE $QuantCte,
         |$KmeansCte,
         |cl AS (SELECT a.vec_id, a.cid, v.q, v.norm2
         |       FROM a1 a JOIN qn v USING(vec_id)),
         |pairs AS (
         |  SELECT a.vec_id AS pa, b.vec_id AS pb
         |  FROM cl a JOIN cl b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE floor(1000000.0 * $pairDot /
         |        sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) >= 350000),
         |und AS (SELECT pa, pb FROM pairs UNION SELECT pb, pa FROM pairs),
         |reach AS (
         |  SELECT pa AS node, pb AS reachable FROM und
         |  UNION
         |  SELECT r.node, u.pb FROM reach r JOIN und u ON r.reachable = u.pa),
         |comp AS (
         |  SELECT node, least(node, min(reachable)) AS component
         |  FROM reach GROUP BY node)
         |SELECT a.vec_id, a.cid,
         |  CAST(coalesce(c.component, a.vec_id) AS BIGINT) AS canonical_id
         |FROM a1 a LEFT JOIN comp c ON a.vec_id = c.node""".stripMargin,
    "sample_stratified" ->
      """WITH strata AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text,' ')) < 60 THEN 'short' ELSE 'long' END AS stratum
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, stratum
        |FROM strata
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,14)) AS BIGINT) % 1000000
        |      < CASE stratum WHEN 'short' THEN 200000 ELSE 800000 END""".stripMargin,
    "embed_pq_encode" ->
      s"""WITH $QuantCte,
         |subs AS (
         |  SELECT vec_id, s.sub, list_slice(q, s.sub*8 + 1, s.sub*8 + 8) AS sq
         |  FROM qn, (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |codebook AS (
         |  SELECT vec_id AS code, sub, sq AS cq FROM subs WHERE vec_id < 16),
         |dists AS (
         |  SELECT a.vec_id, a.sub, c.code,
         |    CAST(list_sum(list_transform(list_zip(a.sq, c.cq),
         |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
         |  FROM subs a JOIN codebook c ON a.sub = c.sub),
         |best AS (
         |  SELECT vec_id, sub, code,
         |    row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2 ASC, code ASC) AS rk
         |  FROM dists)
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, code
         |FROM best WHERE rk = 1""".stripMargin,
    "sample_cap_per_group" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,14)) AS BIGINT) ASC,
        |      doc_id ASC) AS rk
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM r WHERE rk <= 10""".stripMargin,
    "sample_temperature" ->
      """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS minn FROM counts),
        |rates AS (
        |  SELECT lang, CAST(floor(1000000.0 * sqrt(CAST(minn AS DOUBLE)) /
        |    sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS rate
        |  FROM counts, m)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),1,14)) AS BIGINT)
        |      % 1000000 < r.rate""".stripMargin,
    "text_cdc_chunks" ->
      """WITH raw AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |    generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, pos, tok,
        |    CAST(('0x' || substr(md5(tok), 1, 14)) AS BIGINT) % 256 AS wh
        |  FROM raw WHERE tok <> ''),
        |r AS (
        |  SELECT doc_id, pos, tok,
        |    (wh + coalesce(lag(wh, 1) OVER tw, 0) * 256
        |        + coalesce(lag(wh, 2) OVER tw, 0) * 65536
        |        + coalesce(lag(wh, 3) OVER tw, 0) * 16777216) % 8 AS hm
        |  FROM toks
        |  WINDOW tw AS (PARTITION BY doc_id ORDER BY pos)),
        |c AS (
        |  SELECT doc_id, pos, tok,
        |    coalesce(sum(CASE WHEN hm = 0 THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS chunk_idx
        |  FROM r),
        |ch AS (
        |  SELECT doc_id, chunk_idx, count(*) AS n_words,
        |    CAST(('0x' || substr(md5(string_agg(tok, ' ' ORDER BY pos)),
        |      1, 14)) AS BIGINT) AS sig
        |  FROM c GROUP BY doc_id, chunk_idx)
        |SELECT CAST(n_words AS BIGINT) AS n_words, count(*) AS n_chunks,
        |  count(DISTINCT sig) AS n_distinct_sigs
        |FROM ch GROUP BY n_words""".stripMargin,
    "text_rake_keywords" ->
      """WITH raw AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |    generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, pos, lower(tok) AS w FROM raw WHERE tok <> ''),
        |content AS (
        |  SELECT doc_id, pos, w FROM toks
        |  WHERE w NOT IN ('a', 'the', 'and', 'of', 'to', 'in', 'is')),
        |runs AS (
        |  SELECT doc_id, pos, w,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS island
        |  FROM content),
        |pt AS (
        |  SELECT doc_id, pos, w, island,
        |    count(*) OVER (PARTITION BY doc_id, island) AS plen
        |  FROM runs),
        |ws AS (
        |  SELECT w, sum(plen) * 1000000 // count(*) AS wscore
        |  FROM pt GROUP BY w),
        |ph AS (
        |  SELECT pt.doc_id, pt.island,
        |    string_agg(pt.w, ' ' ORDER BY pt.pos) AS phrase,
        |    count(*) AS n_words,
        |    sum(ws.wscore) AS score
        |  FROM pt JOIN ws USING (w) GROUP BY pt.doc_id, pt.island),
        |agg AS (
        |  SELECT phrase, count(*) AS n_occurrences,
        |    CAST(max(n_words) AS BIGINT) AS n_words,
        |    CAST(max(score) AS BIGINT) AS score_x1e6
        |  FROM ph GROUP BY phrase)
        |SELECT phrase, n_occurrences, n_words, score_x1e6 FROM agg
        |ORDER BY score_x1e6 DESC, phrase LIMIT 20""".stripMargin,
    "text_feature_hash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |t2 AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(tok), 1, 14)) AS BIGINT) % 64 AS dim,
        |    CASE WHEN CAST(('0x' || substr(md5('s:' || tok), 1, 14))
        |           AS BIGINT) % 2 = 0
        |         THEN 1 ELSE -1 END AS s
        |  FROM toks WHERE tok <> '')
        |SELECT doc_id, dim, CAST(sum(s) AS BIGINT) AS weight
        |FROM t2 GROUP BY doc_id, dim HAVING sum(s) <> 0""".stripMargin,
    "text_line_dedup" ->
      """WITH lined AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    'subscribe to our newsletter today' || chr(10) ||
        |    array_to_string(list_transform(
        |      range(0, CAST(ceil(len(t) / 6.0) AS INT)),
        |      i -> array_to_string(list_slice(t, i*6 + 1, i*6 + 6), ' ')), chr(10))
        |    || chr(10) || 'all rights reserved worldwide' AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |lines AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
        |         generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM lined),
        |ldf AS (
        |  SELECT CAST(('0x' || substr(md5(line),1,14)) AS BIGINT) AS lid,
        |         count(DISTINCT doc_id) AS line_df
        |  FROM lines GROUP BY 1),
        |keep AS (
        |  SELECT l.doc_id, l.line, l.pos FROM lines l
        |  JOIN ldf d ON CAST(('0x' || substr(md5(l.line),1,14)) AS BIGINT) = d.lid
        |  WHERE d.line_df < 100),
        |agg AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS kept_text,
        |         count(*) AS n_kept
        |  FROM keep GROUP BY doc_id)
        |SELECT l.doc_id, coalesce(a.kept_text, '') AS kept_text,
        |  CAST(len(string_split(l.text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
        |FROM lined l LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "sample_contrastive" ->
      """WITH items AS (
        |  SELECT CAST(vec_id AS BIGINT) AS anchor_id, label FROM embeddings),
        |ranked AS (
        |  SELECT anchor_id, label,
        |    row_number() OVER (PARTITION BY label ORDER BY
        |      CAST(('0x' || substr(md5(CAST(anchor_id AS VARCHAR)),1,14)) AS BIGINT) ASC,
        |      anchor_id ASC) - 1 AS rk
        |  FROM items),
        |labels AS (
        |  SELECT label, count(*) AS n,
        |    row_number() OVER (ORDER BY label) - 1 AS lidx
        |  FROM ranked GROUP BY label),
        |draws AS (
        |  SELECT r.anchor_id, j.j,
        |    (l.lidx + j.j) % (SELECT count(*) FROM labels) AS tlidx
        |  FROM ranked r JOIN labels l ON r.label = l.label
        |  CROSS JOIN (SELECT unnest(range(1, 3)) AS j) j),
        |sel AS (
        |  SELECT d.anchor_id, d.j, t.label AS negative_label,
        |    CAST(('0x' || substr(md5(CAST(d.anchor_id AS VARCHAR) || ':'
        |      || CAST(d.j AS VARCHAR)),1,14)) AS BIGINT) % t.n AS trk
        |  FROM draws d JOIN labels t ON d.tlidx = t.lidx)
        |SELECT s.anchor_id, CAST(s.j AS BIGINT) AS j,
        |  r2.anchor_id AS negative_id, s.negative_label
        |FROM sel s
        |JOIN ranked r2 ON r2.label = s.negative_label AND r2.rk = s.trk""".stripMargin,
    "dedup_url_canonical" ->
      """WITH b AS (
        |  SELECT 'https://Site' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.Example.com/p/' || CAST(doc_id AS VARCHAR) AS base
        |  FROM documents),
        |u AS (
        |  SELECT unnest([base, lower(base),
        |    'HTTPS' || substr(base, 6),
        |    base || '#section-2',
        |    base || '?utm_source=feed&utm_campaign=x',
        |    base || '?utm_source=feed&page=2',
        |    base || '/']) AS url FROM b),
        |c0 AS (SELECT url, regexp_replace(url, '#.*$', '', 'g') AS u1 FROM u),
        |c1 AS (SELECT url,
        |  lower(regexp_extract(u1, '^((?i)https?://[^/?#]+)', 1)) ||
        |    substr(u1, length(regexp_extract(u1, '^((?i)https?://[^/?#]+)', 1)) + 1) AS u2
        |  FROM c0),
        |c2 AS (SELECT url, regexp_replace(regexp_replace(regexp_replace(u2,
        |    '([?&])(?:utm_[a-z]+|fbclid|gclid)=[^&#]*&', '\1', 'g'),
        |    '([?&])(?:utm_[a-z]+|fbclid|gclid)=[^&#]*&', '\1', 'g'),
        |    '([?&])(?:utm_[a-z]+|fbclid|gclid)=[^&#]*&', '\1', 'g') AS u3 FROM c1),
        |c3 AS (SELECT url, regexp_replace(regexp_replace(u3,
        |    '[?&](?:utm_[a-z]+|fbclid|gclid)=[^&#]*$', '', 'g'),
        |    '/$', '', 'g') AS canonical FROM c2)
        |SELECT canonical, CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
        |  CAST(count(*) AS BIGINT) AS n_mentions
        |FROM c3 GROUP BY canonical""".stripMargin,
    "text_url_census" -> {
      val u = TextFunctions.UrlRe
      s"""WITH t AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |    text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
         |      || '.example.com/p/' || CAST(doc_id AS VARCHAR)
         |      || CASE WHEN doc_id % 3 = 0
         |           THEN ' and http://mirror' || CAST(doc_id % 2 AS VARCHAR)
         |                || '.example.org/x'
         |           ELSE '' END AS t
         |  FROM documents),
         |urls AS (
         |  SELECT doc_id, unnest(regexp_extract_all(t, '$u')) AS url FROM t),
         |doms AS (
         |  SELECT doc_id, regexp_extract(url, 'https?://([a-z0-9.-]+)', 1) AS domain
         |  FROM urls)
         |SELECT domain, count(*) AS n_urls,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM doms GROUP BY domain""".stripMargin
    },
    "sample_weighted" ->
      """WITH pr AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(n_chars AS BIGINT) AS n_chars,
        |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,14)) AS BIGINT)
        |      % 1000000) * 1000000 // CAST(n_chars AS BIGINT) AS prio
        |  FROM documents)
        |SELECT doc_id, n_chars FROM pr
        |ORDER BY prio, doc_id LIMIT 200""".stripMargin,
    "text_pii_scrub" -> {
      val e = TextFunctions.EmailRe
      val i = TextFunctions.Ipv4Re
      val n = TextFunctions.LongNumRe
      s"""WITH pii AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |    text || ' contact u' || CAST(doc_id AS VARCHAR)
         |      || '@ex' || CAST(doc_id % 7 AS VARCHAR)
         |      || '.com via 10.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.0.' || CAST(doc_id % 100 AS VARCHAR)
         |      || ' acct ' || CAST(doc_id * 1234567 + 100000000 AS VARCHAR) AS t
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'), '$n', '<NUM>', 'g') AS scrubbed,
         |  CAST(len(regexp_extract_all(t, '$e')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(t, '$e', '<EMAIL>', 'g'), '$i')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(regexp_replace(
         |    regexp_replace(t, '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'),
         |    '$n')) AS BIGINT) AS n_num
         |FROM pii""".stripMargin
    },
    "corpus_percentiles_cont" -> {
      // CAST(p AS DOUBLE): a bare 0.99 literal is DECIMAL in DuckDB
      // (exact arithmetic) but double in Spark — the interpolation must
      // run in IEEE doubles on both sides to land on the same integer.
      def pexpr(pRaw: Double, name: String) = {
        val p = s"CAST($pRaw AS DOUBLE)"
        val lo = s"floor($p * (n - 1) + 1)"
        val vLo = s"min(CASE WHEN rn = $lo THEN v END)"
        val vHi = s"min(CASE WHEN rn = $lo + 1 THEN v END)"
        s"""CAST(floor(1000000.0 * ($vLo +
           |    (max($p * (n - 1) + 1) - max($lo)) *
           |    (coalesce($vHi, $vLo) - $vLo))) AS BIGINT) AS $name""".stripMargin
      }
      s"""WITH ranked AS (
         |  SELECT lang, CAST(n_chars AS DOUBLE) AS v,
         |    row_number() OVER (PARTITION BY lang ORDER BY CAST(n_chars AS DOUBLE)) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM documents)
         |SELECT lang, count(*) AS n_rows,
         |  ${pexpr(0.5, "p50")},
         |  ${pexpr(0.9, "p90")},
         |  ${pexpr(0.99, "p99")}
         |FROM ranked GROUP BY lang""".stripMargin
    },
    "text_winsorize" ->
      """WITH ranked AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |cuts AS (
        |  SELECT lang,
        |    min(CASE WHEN rn >= ceil(CAST(0.05 AS DOUBLE) * n) THEN n_chars END) AS lo,
        |    min(CASE WHEN rn >= ceil(CAST(0.95 AS DOUBLE) * n) THEN n_chars END) AS hi
        |  FROM ranked GROUP BY lang)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang, d.n_chars,
        |  CAST(greatest(c.lo, least(c.hi, d.n_chars)) AS BIGINT) AS winsorized,
        |  greatest(c.lo, least(c.hi, d.n_chars)) <> d.n_chars AS clamped
        |FROM documents d JOIN cuts c ON d.lang = c.lang""".stripMargin,
    "corpus_percentiles" ->
      """WITH ranked AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(min(CASE WHEN rn >= ceil(CAST(0.5 AS DOUBLE) * n) THEN n_chars END) AS BIGINT) AS p50,
        |  CAST(min(CASE WHEN rn >= ceil(CAST(0.9 AS DOUBLE) * n) THEN n_chars END) AS BIGINT) AS p90,
        |  CAST(min(CASE WHEN rn >= ceil(CAST(0.99 AS DOUBLE) * n) THEN n_chars END) AS BIGINT) AS p99
        |FROM ranked GROUP BY lang""".stripMargin,
    "sim_knn_join" ->
      s"""WITH $QuantCte,
         |ql AS (
         |  SELECT n.vec_id, n.q, n.norm2, CAST(e.label AS BIGINT) AS label
         |  FROM qn n JOIN embeddings e ON n.vec_id = CAST(e.vec_id AS BIGINT)),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    CAST(floor(1000000.0 * $pairDot /
         |         sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) AS BIGINT) AS cos_x1e6
         |  FROM ql a JOIN ql b ON a.label = b.label AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos_x1e6 DESC, neighbor_id ASC) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT vec_id, rank, neighbor_id, cos_x1e6 FROM ranked WHERE rank <= 2""".stripMargin,
    "dedup_exact" ->
      """SELECT string_split(text,' ')[1] || ' ' || string_split(text,' ')[2] AS dedup_key,
        |  CAST(min(doc_id) AS BIGINT) AS canonical_id,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_shared_runs" ->
      s"""WITH $SharedRunsCtes
         |SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
         |  CAST(max(run) AS BIGINT) AS max_run, count(*) AS n_runs
         |FROM runs GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin,
    "e2e_exact_substring_dedup" ->
      s"""WITH RECURSIVE $SharedRunsCtes,
         |prs AS (SELECT doc_a AS a, doc_b AS b FROM runs
         |  GROUP BY doc_a, doc_b HAVING max(run) >= 8),
         |undc AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
         |reach AS (
         |  SELECT a AS node, b AS reachable FROM undc
         |  UNION
         |  SELECT r.node, u.b FROM reach r JOIN undc u ON r.reachable = u.a),
         |comp AS (
         |  SELECT node, least(node, min(reachable)) AS component
         |  FROM reach GROUP BY node)
         |SELECT d.source, count(*) AS n_docs_kept
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
         |WHERE coalesce(c.component, d.doc_id) = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "text_backoff_coverage" -> {
      val P = TextFunctions.P
      def c3(m: Long) =
        s"((((x.wid % $P) * $m + (y.wid % $P)) % $P) * $m + (z.wid % $P)) % $P"
      def c2(m: Long) = s"((y.wid % $P) * $m + (z.wid % $P)) % $P"
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text,' ')) AS word,
         |         generate_subscripts(string_split(text,' '),1) AS pos
         |  FROM documents),
         |sq AS (SELECT doc_id, pos,
         |  CAST(('0x' || substr(md5(word),1,14)) AS BIGINT) AS wid FROM toks),
         |tri AS MATERIALIZED (
         |  SELECT DISTINCT (${c3(TextFunctions.Mix)}) * $P + (${c3(TextFunctions.MixB)}) AS tid
         |  FROM sq x JOIN sq y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
         |            JOIN sq z ON x.doc_id = z.doc_id AND z.pos = x.pos + 2
         |  WHERE x.doc_id % 2 = 0),
         |bi AS MATERIALIZED (
         |  SELECT DISTINCT (${c2(TextFunctions.Mix)}) * $P + (${c2(TextFunctions.MixB)}) AS bid
         |  FROM sq y JOIN sq z ON y.doc_id = z.doc_id AND z.pos = y.pos + 1
         |  WHERE y.doc_id % 2 = 0),
         |uni AS MATERIALIZED (
         |  SELECT DISTINCT wid AS uid FROM sq WHERE doc_id % 2 = 0),
         |tp AS MATERIALIZED (
         |  SELECT z.doc_id,
         |    (${c3(TextFunctions.Mix)}) * $P + (${c3(TextFunctions.MixB)}) AS tid,
         |    (${c2(TextFunctions.Mix)}) * $P + (${c2(TextFunctions.MixB)}) AS bid,
         |    z.wid AS uid
         |  FROM sq x JOIN sq y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
         |            JOIN sq z ON x.doc_id = z.doc_id AND z.pos = x.pos + 2
         |  WHERE z.doc_id % 2 = 1),
         |lev AS (
         |  SELECT tp.doc_id,
         |    CASE WHEN tri.tid IS NOT NULL THEN 't'
         |         WHEN bi.bid IS NOT NULL THEN 'b'
         |         WHEN uni.uid IS NOT NULL THEN 'u' ELSE 'o' END AS l
         |  FROM tp LEFT JOIN tri ON tp.tid = tri.tid
         |          LEFT JOIN bi ON tp.bid = bi.bid
         |          LEFT JOIN uni ON tp.uid = uni.uid),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_scored,
         |    sum(CASE WHEN l = 't' THEN 1 ELSE 0 END) AS n_tri,
         |    sum(CASE WHEN l = 'b' THEN 1 ELSE 0 END) AS n_bi,
         |    sum(CASE WHEN l = 'u' THEN 1 ELSE 0 END) AS n_uni,
         |    sum(CASE WHEN l = 'o' THEN 1 ELSE 0 END) AS n_oov
         |  FROM lev GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_scored, 0) AS n_scored,
         |  CAST(coalesce(a.n_tri, 0) AS BIGINT) AS n_tri,
         |  CAST(coalesce(a.n_bi, 0) AS BIGINT) AS n_bi,
         |  CAST(coalesce(a.n_uni, 0) AS BIGINT) AS n_uni,
         |  CAST(coalesce(a.n_oov, 0) AS BIGINT) AS n_oov
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
         |LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin
    },
    "text_cooccurrence_pmi" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
        |         generate_subscripts(string_split(text,' '),1) AS pos
        |  FROM documents),
        |p AS MATERIALIZED (
        |  SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb,
        |    count(*) AS n_pair
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id
        |    AND b.pos > a.pos AND b.pos <= a.pos + 5
        |  GROUP BY 1, 2),
        |m AS (SELECT w, sum(n_pair) AS n_w FROM
        |  (SELECT wa AS w, n_pair FROM p UNION ALL SELECT wb, n_pair FROM p)
        |  GROUP BY w),
        |tot AS (SELECT sum(n_pair) AS n_total FROM p)
        |SELECT wa, wb, CAST(n_pair AS BIGINT) AS n_pair,
        |  CAST((1000000 * n_pair * n_total) // (ma.n_w * mb.n_w) AS BIGINT)
        |    AS pmi_ratio_x1e6
        |FROM p JOIN m ma ON p.wa = ma.w JOIN m mb ON p.wb = mb.w CROSS JOIN tot
        |WHERE n_pair >= 50
        |ORDER BY 4 DESC, wa ASC, wb ASC LIMIT 30""".stripMargin,
    "dedup_allpairs" ->
      s"""WITH $TextCtes,
         |inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sid = b.sid AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(floor(1000000.0 * i / (na.n + nb.n - i)) AS BIGINT) AS jacc_x1e6
         |FROM inter JOIN shsize na ON da = na.doc_id JOIN shsize nb ON db = nb.doc_id
         |WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 500000""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $TextCtes,
         |blocks AS (
         |  SELECT s1.doc_id,
         |    CAST(s1.wid AS VARCHAR) || ' ' || CAST(s2.wid AS VARCHAR) AS block
         |  FROM seq s1 JOIN seq s2
         |    ON s1.doc_id = s2.doc_id AND s1.pos = 1 AND s2.pos = 2),
         |cand AS (
         |  SELECT x.doc_id AS da, y.doc_id AS db
         |  FROM blocks x JOIN blocks y ON x.block = y.block AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT c.da, c.db, count(*) AS i
         |  FROM cand c JOIN sh a ON a.doc_id = c.da
         |              JOIN sh b ON b.doc_id = c.db AND a.sid = b.sid
         |  GROUP BY c.da, c.db)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(floor(1000000.0 * i / (na.n + nb.n - i)) AS BIGINT) AS jacc_x1e6
         |FROM inter JOIN shsize na ON da = na.doc_id JOIN shsize nb ON db = nb.doc_id
         |WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 500000""".stripMargin,
    "dedup_lsh_recall" ->
      s"""WITH $TextCtes,
         |blocks AS (
         |  SELECT s1.doc_id,
         |    CAST(s1.wid AS VARCHAR) || ' ' || CAST(s2.wid AS VARCHAR) AS block
         |  FROM seq s1 JOIN seq s2
         |    ON s1.doc_id = s2.doc_id AND s1.pos = 1 AND s2.pos = 2),
         |candx AS (
         |  SELECT x.doc_id AS da, y.doc_id AS db
         |  FROM blocks x JOIN blocks y ON x.block = y.block AND x.doc_id < y.doc_id),
         |interx AS (
         |  SELECT c.da, c.db, count(*) AS i
         |  FROM candx c JOIN sh a ON a.doc_id = c.da
         |               JOIN sh b ON b.doc_id = c.db AND a.sid = b.sid
         |  GROUP BY c.da, c.db),
         |truth AS (
         |  SELECT da, db
         |  FROM interx JOIN shsize na ON da = na.doc_id JOIN shsize nb ON db = nb.doc_id
         |  WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 500000),
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |candl AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |   AND x.doc_id < y.doc_id),
         |hit AS (SELECT t.da FROM truth t JOIN candl c ON t.da = c.da AND t.db = c.db)
         |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         |  CAST((SELECT count(*) FROM candl) AS BIGINT) AS n_cand,
         |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
         |  CAST(floor(1000000.0 * (SELECT count(*) FROM hit) /
         |    greatest((SELECT count(*) FROM truth), 1)) AS BIGINT) AS recall_x1e6""".stripMargin,
    "dedup_incremental_minhash" ->
      s"""WITH $TextCtes,
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS dn, y.doc_id AS do_
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 != 0),
         |inter AS (
         |  SELECT c.dn, c.do_, count(*) AS i
         |  FROM cand c JOIN sh a ON a.doc_id = c.dn
         |              JOIN sh b ON b.doc_id = c.do_ AND a.sid = b.sid
         |  GROUP BY c.dn, c.do_)
         |SELECT dn AS new_id, do_ AS old_id,
         |  CAST(floor(1000000.0 * i / (na.n + nb.n - i)) AS BIGINT) AS jacc_x1e6
         |FROM inter JOIN shsize na ON dn = na.doc_id JOIN shsize nb ON do_ = nb.doc_id
         |WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 800000""".stripMargin,
    "dedup_incremental_batch_pairs" ->
      s"""WITH $TextCtes,
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |-- from-scratch full-corpus candidates, restricted to pairs with
         |-- at least one batch (doc_id % 5 <= 1) side: the completeness
         |-- oracle for probe ∪ within-batch
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |   AND x.doc_id < y.doc_id
         |  WHERE x.doc_id % 5 <= 1 OR y.doc_id % 5 <= 1),
         |inter AS (
         |  SELECT c.da, c.db, count(*) AS i
         |  FROM cand c JOIN sh a ON a.doc_id = c.da
         |              JOIN sh b ON b.doc_id = c.db AND a.sid = b.sid
         |  GROUP BY c.da, c.db)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(floor(1000000.0 * i / (na.n + nb.n - i)) AS BIGINT) AS jacc_x1e6
         |FROM inter JOIN shsize na ON da = na.doc_id JOIN shsize nb ON db = nb.doc_id
         |WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 800000""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $TextCtes,
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |   AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT c.da, c.db, count(*) AS i
         |  FROM cand c JOIN sh a ON a.doc_id = c.da
         |              JOIN sh b ON b.doc_id = c.db AND a.sid = b.sid
         |  GROUP BY c.da, c.db)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(floor(1000000.0 * i / (na.n + nb.n - i)) AS BIGINT) AS jacc_x1e6
         |FROM inter JOIN shsize na ON da = na.doc_id JOIN shsize nb ON db = nb.doc_id
         |WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 800000""".stripMargin,
    "dedup_components" ->
      s"""WITH RECURSIVE $TextCtes,
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |   AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT c.da, c.db, count(*) AS i
         |  FROM cand c JOIN sh a ON a.doc_id = c.da
         |              JOIN sh b ON b.doc_id = c.db AND a.sid = b.sid
         |  GROUP BY c.da, c.db),
         |pairs AS (
         |  SELECT da AS a, db AS b
         |  FROM inter JOIN shsize na ON da = na.doc_id JOIN shsize nb ON db = nb.doc_id
         |  WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 800000),
         |und AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT a AS node, b AS reachable FROM und
         |  UNION
         |  SELECT r.node, u.b FROM reach r JOIN und u ON r.reachable = u.a),
         |comp AS (
         |  SELECT node, least(node, min(reachable)) AS component
         |  FROM reach GROUP BY node)
         |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |  CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS canonical_id
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node""".stripMargin,
    "dedup_hot_buckets" ->
      s"""WITH $TextCtes,
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh)
         |SELECT band, b1 AS h1, b2 AS h2,
         |  CAST(count(*) AS BIGINT) AS occupancy
         |FROM bands GROUP BY band, b1, b2 HAVING count(*) > 2""".stripMargin,
    "dedup_incremental_components" ->
      s"""WITH RECURSIVE $TextCtes,
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |  WHERE (x.doc_id < y.doc_id AND x.doc_id % 5 != 0 AND y.doc_id % 5 != 0)
         |     OR (x.doc_id % 5 = 0 AND y.doc_id % 5 != 0)),
         |inter AS (
         |  SELECT c.da, c.db, count(*) AS i
         |  FROM cand c JOIN sh a ON a.doc_id = c.da
         |              JOIN sh b ON b.doc_id = c.db AND a.sid = b.sid
         |  GROUP BY c.da, c.db),
         |pairs AS (
         |  SELECT da AS a, db AS b
         |  FROM inter JOIN shsize na ON da = na.doc_id JOIN shsize nb ON db = nb.doc_id
         |  WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 800000),
         |und AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT a AS node, b AS reachable FROM und
         |  UNION
         |  SELECT r.node, u.b FROM reach r JOIN und u ON r.reachable = u.a),
         |comp AS (
         |  SELECT node, least(node, min(reachable)) AS component
         |  FROM reach GROUP BY node),
         |nodes AS (SELECT DISTINCT a AS node FROM und)
         |SELECT CAST(n.node AS BIGINT) AS doc_id,
         |  CAST(coalesce(c.component, n.node) AS BIGINT) AS canonical_id
         |FROM nodes n LEFT JOIN comp c ON n.node = c.node""".stripMargin,
    "sample_component_split" ->
      s"""WITH RECURSIVE $TextCtes,
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |   AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT c.da, c.db, count(*) AS i
         |  FROM cand c JOIN sh a ON a.doc_id = c.da
         |              JOIN sh b ON b.doc_id = c.db AND a.sid = b.sid
         |  GROUP BY c.da, c.db),
         |pairs AS (
         |  SELECT da AS a, db AS b
         |  FROM inter JOIN shsize na ON da = na.doc_id JOIN shsize nb ON db = nb.doc_id
         |  WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 800000),
         |und AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT a AS node, b AS reachable FROM und
         |  UNION
         |  SELECT r.node, u.b FROM reach r JOIN und u ON r.reachable = u.a),
         |comp AS (
         |  SELECT node, least(node, min(reachable)) AS component
         |  FROM reach GROUP BY node),
         |lab AS (
         |  SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |    CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS grp
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
         |SELECT doc_id,
         |  CASE WHEN CAST(('0x' || substr(md5(CAST(grp AS VARCHAR)),1,14)) AS BIGINT)
         |         % 1000000 < 800000 THEN 'train' ELSE 'eval' END AS split
         |FROM lab""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $TextCtes,
         |tf AS (SELECT doc_id, wid, count(*) AS tf FROM seq GROUP BY doc_id, wid),
         |bits AS (
         |  SELECT doc_id,
         |    $simhashBitSums
         |  FROM tf GROUP BY doc_id),
         |sig AS (SELECT doc_id, CAST($simhashSig AS BIGINT) AS simhash FROM bits)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS simhash
         |FROM sig a JOIN sig b ON a.simhash = b.simhash AND a.doc_id < b.doc_id""".stripMargin,
    "dedup_simhash_hamming" ->
      s"""WITH $TextCtes,
         |tf AS (SELECT doc_id, wid, count(*) AS tf FROM seq GROUP BY doc_id, wid),
         |bits AS (
         |  SELECT doc_id,
         |    $simhashBitSums
         |  FROM tf GROUP BY doc_id),
         |sig AS (SELECT doc_id, CAST($simhashSig AS BIGINT) AS simhash FROM bits)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b
         |  ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 2""".stripMargin,
    "sim_ann_multiprobe" ->
      s"""WITH $QuantCte,
         |$LshSigCte,
         |qs AS (SELECT q.vec_id, q.q, q.norm2, s.sig FROM qn q JOIN sigs s USING(vec_id)),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(floor(1000000.0 * $pairDot /
         |         sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) AS BIGINT) AS cos_x1e6
         |  FROM qs a JOIN qs b
         |    ON bit_count(xor(a.sig, b.sig)) <= 1
         |   AND a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_x1e6 DESC, neighbor_id ASC) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos_x1e6 FROM ranked WHERE rank <= 3""".stripMargin,
    "sim_ann_ivf" ->
      s"""WITH $QuantCte,
         |$IvfCtes,
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_x1e6 DESC, neighbor_id ASC) AS INTEGER) AS rank
         |  FROM iscored)
         |SELECT query_id, rank, neighbor_id, cos_x1e6 FROM ranked WHERE rank <= 3""".stripMargin,
    "sim_ann_ivfpq" ->
      s"""WITH $QuantCte,
         |cents AS (SELECT vec_id AS cid, q AS qc, norm2 AS nc FROM qn WHERE vec_id < 16),
         |ccos AS (
         |  SELECT v.vec_id, c.cid,
         |    floor(1000000.0 *
         |      CAST(list_sum(list_transform(list_zip(v.q, c.qc), p -> p[1]*p[2])) AS BIGINT) /
         |      sqrt(CAST(v.norm2 * c.nc AS DOUBLE))) AS cc
         |  FROM qn v CROSS JOIN cents c),
         |assign AS (
         |  SELECT vec_id AS neighbor_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS rk
         |    FROM ccos) WHERE rk = 1),
         |subs AS (
         |  SELECT vec_id, s.sub, list_slice(q, s.sub*8 + 1, s.sub*8 + 8) AS sq
         |  FROM qn, (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |codebook AS (SELECT vec_id AS code, sub, sq AS cq FROM subs WHERE vec_id < 16),
         |dists AS (
         |  SELECT a.vec_id, a.sub, c.code,
         |    CAST(list_sum(list_transform(list_zip(a.sq, c.cq),
         |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
         |  FROM subs a JOIN codebook c ON a.sub = c.sub),
         |codes AS (
         |  SELECT vec_id AS neighbor_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub
         |        ORDER BY d2 ASC, code ASC) AS rk
         |    FROM dists) WHERE rk = 1),
         |lut AS (
         |  SELECT s.vec_id AS query_id, s.sub, c.code,
         |    CAST(list_sum(list_transform(list_zip(s.sq, c.cq), p -> p[1]*p[2])) AS BIGINT) AS d
         |  FROM subs s JOIN codebook c ON s.sub = c.sub
         |  WHERE s.vec_id < 10),
         |probes AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS rk
         |    FROM ccos WHERE vec_id < 10) WHERE rk <= 2),
         |cand AS (
         |  SELECT p.query_id, a.neighbor_id
         |  FROM probes p JOIN assign a ON p.cid = a.cid
         |  WHERE a.neighbor_id <> p.query_id),
         |adc AS (
         |  SELECT c.query_id, c.neighbor_id, sum(l.d) AS adc
         |  FROM cand c JOIN codes k2 ON c.neighbor_id = k2.neighbor_id
         |  JOIN lut l ON l.query_id = c.query_id AND l.sub = k2.sub AND l.code = k2.code
         |  GROUP BY c.query_id, c.neighbor_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc DESC, neighbor_id ASC) AS rk
         |    FROM adc) WHERE rk <= 8),
         |scored AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    CAST(floor(1000000.0 * $pairDot /
         |         sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) AS BIGINT) AS cos_x1e6
         |  FROM short s JOIN qn a ON a.vec_id = s.query_id
         |               JOIN qn b ON b.vec_id = s.neighbor_id)
         |SELECT query_id, rank, neighbor_id, cos_x1e6 FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_x1e6 DESC, neighbor_id ASC) AS INTEGER) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin,
    "dedup_cosine_neardup" ->
      s"""WITH $QuantCte
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  CAST(floor(1000000.0 * $pairDot /
         |       sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) AS BIGINT) AS cos_x1e6
         |FROM qn a JOIN qn b ON a.vec_id < b.vec_id
         |WHERE floor(1000000.0 * $pairDot /
         |      sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) >= 350000""".stripMargin,
    "dedup_cosine_neardup_lsh" ->
      s"""WITH $QuantCte,
         |$LshSigCte,
         |qs AS (SELECT q.vec_id, q.q, q.norm2, s.sig FROM qn q JOIN sigs s USING(vec_id))
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  CAST(floor(1000000.0 * $pairDot /
         |       sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) AS BIGINT) AS cos_x1e6
         |FROM qs a JOIN qs b ON a.sig = b.sig AND a.vec_id < b.vec_id
         |WHERE floor(1000000.0 * $pairDot /
         |      sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) >= 350000""".stripMargin,
    "embed_sim_histogram" ->
      s"""WITH $QuantCte,
         |nn AS (SELECT count(*) AS n FROM qn),
         |pairs AS (
         |  SELECT a.vec_id, a.q AS qa, a.norm2 AS na, b.q AS qb,
         |    b.norm2 AS nb
         |  FROM (SELECT qn.*,
         |          CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 14))
         |            AS BIGINT) % (SELECT n FROM nn) AS partner
         |        FROM qn) a
         |  JOIN qn b ON a.partner = b.vec_id
         |  WHERE a.partner <> a.vec_id AND a.norm2 > 0 AND b.norm2 > 0),
         |scored AS (
         |  SELECT CAST(list_sum(list_transform(list_zip(qa, qb),
         |      p -> p[1]*p[2])) AS BIGINT) AS dot, na, nb
         |  FROM pairs),
         |b AS (
         |  SELECT dot,
         |    CAST(CAST(dot AS HUGEINT) * dot * 1000000
         |      // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS c2
         |  FROM scored)
         |SELECT CAST(CASE WHEN dot < 0 THEN -(c2 // 100000)
         |            ELSE c2 // 100000 END AS BIGINT) AS bucket,
         |  count(*) AS n_pairs
         |FROM b GROUP BY 1""".stripMargin,
    "sim_bruteforce_topk" ->
      s"""WITH $QuantCte,
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(floor(1000000.0 * $pairDot /
         |         sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) AS BIGINT) AS cos_x1e6
         |  FROM qn a JOIN qn b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_x1e6 DESC, neighbor_id ASC) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos_x1e6 FROM ranked WHERE rank <= 3""".stripMargin,
    "sim_ann_lsh" ->
      s"""WITH $QuantCte,
         |$LshSigCte,
         |qs AS (SELECT q.vec_id, q.q, q.norm2, s.sig FROM qn q JOIN sigs s USING(vec_id)),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(floor(1000000.0 * $pairDot /
         |         sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) AS BIGINT) AS cos_x1e6
         |  FROM qs a JOIN qs b ON a.sig = b.sig AND a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_x1e6 DESC, neighbor_id ASC) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos_x1e6 FROM ranked WHERE rank <= 3""".stripMargin,
    "multimodal_phash_pairs" ->
      """WITH corpus AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 1000000, 'zzz' || substr(text, 4)
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 32), j -> CAST(ascii(substr(text,
        |      CAST(1 + j * greatest(length(text) // 32, 1) AS INT), 1)) AS BIGINT))
        |      AS bytes
        |  FROM corpus),
        |h AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 32), j ->
        |      CASE WHEN bytes[j + 1] * 32 > list_sum(bytes)
        |           THEN (CAST(1 AS BIGINT) << (31 - j)) ELSE 0 END)) AS BIGINT)
        |      AS phash
        |  FROM b),
        |keyed AS (
        |  SELECT doc_id, phash, c.chunk,
        |    (phash >> (c.chunk * 8)) & 255 AS ckey
        |  FROM h, (SELECT unnest(range(0, 4)) AS chunk) c),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    x.phash AS ha, y.phash AS hb
        |  FROM keyed x JOIN keyed y
        |    ON x.chunk = y.chunk AND x.ckey = y.ckey AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin,
    "multimodal_audio_features" ->
      """WITH chars AS (
        |  SELECT doc_id, ascii(c) - 96 AS s, i FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '')) AS c,
        |      generate_subscripts(string_split_regex(text, ''), 1) AS i
        |    FROM documents)),
        |f AS (
        |  SELECT doc_id, s,
        |    lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM chars)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, count(*) AS n_samples,
        |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
        |  CAST(sum(CASE WHEN prev IS NOT NULL
        |         AND ((s >= 0) <> (prev >= 0)) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sign_changes,
        |  CAST(max(abs(s)) AS BIGINT) AS peak_abs
        |FROM f GROUP BY doc_id""".stripMargin,
    "multimodal_frame_sample" ->
      """WITH sized AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
        |idx AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(len / 16.0) AS INT))) AS i
        |  FROM sized),
        |frames AS (
        |  SELECT doc_id, i, substr(text, i*16 + 1, 16) AS chunk
        |  FROM idx WHERE i % 2 = 0)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(i AS INT) AS frame_idx,
        |  CAST(octet_length(encode(chunk)) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(string_split_regex(chunk, ''),
        |       c -> ascii(c))) % 65536 AS BIGINT) AS checksum
        |FROM frames""".stripMargin,
    "multimodal_decode" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '')) AS c FROM documents),
        |sums AS (SELECT doc_id, sum(ascii(c)) AS bytesum FROM chars GROUP BY doc_id)
        |SELECT CAST(d.doc_id AS BIGINT) AS media_id,
        |  CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
        |  'stub' AS format,
        |  CAST(octet_length(encode(d.text)) % 640 + 1 AS BIGINT) AS fake_width,
        |  CAST(octet_length(encode(d.text)) // 7 % 480 + 1 AS BIGINT) AS fake_height,
        |  CAST(ascii(substr(d.text, 1, 1)) AS BIGINT) AS first_byte,
        |  CAST(s.bytesum % 65536 AS BIGINT) AS checksum
        |FROM documents d JOIN sums s ON d.doc_id = s.doc_id""".stripMargin,
    "text_inverted_index" ->
      """WITH toks AS (
        |  SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id,
        |         unnest(string_split(text,' ')) AS word
        |  FROM documents)
        |SELECT word, CAST(count(*) AS BIGINT) AS df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM toks GROUP BY word
        |HAVING count(*) BETWEEN 30 AND 2000""".stripMargin,
    "text_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS word,
        |         generate_subscripts(string_split(text,' '),1) AS pos
        |  FROM documents),
        |pairs AS (
        |  SELECT a.word AS wa, b.word AS wb, count(*) AS n_pair
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |ca AS (SELECT wa, sum(n_pair) AS n_first FROM pairs GROUP BY wa),
        |cb AS (SELECT wb, sum(n_pair) AS n_second FROM pairs GROUP BY wb),
        |tot AS (SELECT sum(n_pair) AS n_total FROM pairs)
        |SELECT wa, wb, CAST(n_pair AS BIGINT) AS n_pair,
        |  CAST(n_first AS BIGINT) AS n_first,
        |  CAST(n_second AS BIGINT) AS n_second,
        |  CAST((1000 * n_pair * n_total) // (n_first * n_second) AS BIGINT)
        |    AS lift_x1e3
        |FROM pairs JOIN ca USING (wa) JOIN cb USING (wb) CROSS JOIN tot
        |WHERE n_pair >= 5
        |ORDER BY lift_x1e3 DESC, wa ASC, wb ASC LIMIT 20""".stripMargin,
    "text_group_outliers" ->
      """WITH s AS (
        |  SELECT lang, count(*) AS n, sum(n_chars) AS s1,
        |         sum(n_chars * n_chars) AS s2
        |  FROM documents GROUP BY lang)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang, d.n_chars,
        |  (s.n * d.n_chars - s.s1) * (s.n * d.n_chars - s.s1)
        |    > 9 * (s.n * s.s2 - s.s1 * s.s1) AS is_outlier
        |FROM documents d JOIN s ON d.lang = s.lang""".stripMargin,
    "sample_hash_split" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE WHEN h < 900000 THEN 'train'
        |       WHEN h < 950000 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,14)) AS BIGINT)
        |          % 1000000 AS h
        |      FROM documents)""".stripMargin,
    "sketch_kmv" -> {
      val estNum = 31L * Sketches.MaxHash
      s"""WITH toks AS (
         |  SELECT lang, unnest(string_split(text,' ')) AS word FROM documents),
         |hashed AS (
         |  SELECT DISTINCT lang,
         |    CAST(('0x' || substr(md5(word),1,14)) AS BIGINT) AS h
         |  FROM toks),
         |ranked AS (
         |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h ASC) AS rn
         |  FROM hashed),
         |kept AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_seen, max(h) AS kth_hash
         |  FROM ranked WHERE rn <= 32 GROUP BY lang),
         |truth AS (
         |  SELECT lang, CAST(count(DISTINCT word) AS BIGINT) AS n_true
         |  FROM toks GROUP BY lang)
         |SELECT k.lang, k.n_seen, k.kth_hash,
         |  CAST(CASE WHEN k.n_seen < 32 THEN k.n_seen
         |       ELSE $estNum // greatest(k.kth_hash, 1) END AS BIGINT)
         |    AS est_distinct,
         |  t.n_true
         |FROM kept k JOIN truth t ON k.lang = t.lang""".stripMargin
    },
    "sketch_cms" -> {
      val P = TextFunctions.P
      val rows = (0 until 4).map(j =>
        s"($j, ${TextFunctions.MinhashA(j)}, ${TextFunctions.MinhashB(j)})").mkString(", ")
      s"""WITH toks AS (
         |  SELECT lang, unnest(string_split(text,' ')) AS word FROM documents),
         |cnt AS (SELECT word, CAST(count(*) AS BIGINT) AS n_true FROM toks GROUP BY word),
         |hh AS (
         |  SELECT word, n_true,
         |    CAST(('0x' || substr(md5(word),1,14)) AS BIGINT) % $P AS h
         |  FROM cnt),
         |cells AS (
         |  SELECT word, n_true, t.j,
         |    ((t.a * h + t.b) % $P) % 64 AS bucket
         |  FROM hh CROSS JOIN (VALUES $rows) t(j, a, b)),
         |sk AS (SELECT j, bucket, sum(n_true) AS c FROM cells GROUP BY j, bucket)
         |SELECT cells.word, CAST(max(cells.n_true) AS BIGINT) AS n_true,
         |  CAST(min(coalesce(sk.c, 0)) AS BIGINT) AS est
         |FROM cells LEFT JOIN sk ON cells.j = sk.j AND cells.bucket = sk.bucket
         |GROUP BY cells.word""".stripMargin
    },
    "sketch_hll_merge" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text,' ')) AS word,
        |         doc_id % 2 AS p
        |  FROM documents),
        |parts AS (
        |  SELECT lang, p,
        |    CAST(('0x' || substr(md5(word),1,14)) AS BIGINT) % 64 AS bucket,
        |    CAST(('0x' || substr(md5(word),1,14)) AS BIGINT) // 64 AS rem
        |  FROM toks),
        |halves AS (
        |  SELECT lang, p, bucket,
        |    max(51 - CASE WHEN rem = 0 THEN 0 ELSE length(bin(rem)) END) AS r
        |  FROM parts GROUP BY lang, p, bucket),
        |merged AS (
        |  SELECT lang, bucket, max(r) AS r FROM halves GROUP BY lang, bucket),
        |direct AS (
        |  SELECT lang, bucket,
        |    max(51 - CASE WHEN rem = 0 THEN 0 ELSE length(bin(rem)) END) AS r
        |  FROM parts GROUP BY lang, bucket),
        |grid AS (
        |  SELECT lang, b.bucket FROM (SELECT DISTINCT lang FROM documents)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bucket) b),
        |estm AS (
        |  SELECT g.lang,
        |    CAST(floor(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
        |      * CAST(2251799813685248 AS DOUBLE) /
        |      sum(CAST(1 AS BIGINT) << (51 - coalesce(m.r, 0)))) AS BIGINT)
        |      AS est_merged
        |  FROM grid g LEFT JOIN merged m
        |    ON g.lang = m.lang AND g.bucket = m.bucket
        |  GROUP BY g.lang),
        |estd AS (
        |  SELECT g.lang,
        |    CAST(floor(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
        |      * CAST(2251799813685248 AS DOUBLE) /
        |      sum(CAST(1 AS BIGINT) << (51 - coalesce(d.r, 0)))) AS BIGINT)
        |      AS est_direct
        |  FROM grid g LEFT JOIN direct d
        |    ON g.lang = d.lang AND g.bucket = d.bucket
        |  GROUP BY g.lang)
        |SELECT estm.lang, estm.est_merged, estd.est_direct
        |FROM estm JOIN estd ON estm.lang = estd.lang""".stripMargin,
    "sketch_hll" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text,' ')) AS word FROM documents),
        |parts AS (
        |  SELECT lang,
        |    CAST(('0x' || substr(md5(word),1,14)) AS BIGINT) % 64 AS bucket,
        |    CAST(('0x' || substr(md5(word),1,14)) AS BIGINT) // 64 AS rem
        |  FROM toks),
        |regs AS (
        |  SELECT lang, bucket,
        |    max(51 - CASE WHEN rem = 0 THEN 0 ELSE length(bin(rem)) END) AS r
        |  FROM parts GROUP BY lang, bucket),
        |grid AS (
        |  SELECT lang, b.bucket FROM (SELECT DISTINCT lang FROM documents)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bucket) b),
        |filled AS (
        |  SELECT g.lang, coalesce(regs.r, 0) AS r
        |  FROM grid g LEFT JOIN regs ON g.lang = regs.lang AND g.bucket = regs.bucket),
        |sums AS (
        |  SELECT lang,
        |    CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_registers,
        |    CAST(sum(CAST(1 AS BIGINT) << (51 - r)) AS BIGINT) AS harmonic_sum
        |  FROM filled GROUP BY lang),
        |truth AS (
        |  SELECT lang, CAST(count(DISTINCT word) AS BIGINT) AS n_true
        |  FROM toks GROUP BY lang)
        |SELECT s.lang, s.n_zero_registers, s.harmonic_sum,
        |  CAST(floor(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
        |             * CAST(2251799813685248 AS DOUBLE) / s.harmonic_sum) AS BIGINT)
        |    AS est_distinct,
        |  t.n_true
        |FROM sums s JOIN truth t ON s.lang = t.lang""".stripMargin,
    "text_quality_filter" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text,' ')) AS n_words,
        |    length(text) - len(string_split(text,' ')) + 1 AS wchars
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, count(DISTINCT w) AS nd,
        |    count(*) FILTER (WHERE w IN ('the','a','data','row')) AS ns
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        |  GROUP BY doc_id)
        |SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(floor(1000000.0 * wchars / n_words) AS BIGINT) AS mean_word_len_x1e6,
        |  CAST(floor(1000000.0 * nd / n_words) AS BIGINT) AS distinct_ratio_x1e6,
        |  CAST(ns AS BIGINT) AS n_stopwords,
        |  (n_words BETWEEN 30 AND 1000
        |   AND floor(1000000.0 * wchars / n_words) BETWEEN 2000000 AND 8000000
        |   AND floor(1000000.0 * nd / n_words) >= 300000
        |   AND ns >= 1) AS keep
        |FROM t JOIN d USING (doc_id)""".stripMargin,
    "dedup_representatives" ->
      s"""WITH RECURSIVE $TextCtes,
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |   AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT c.da, c.db, count(*) AS i
         |  FROM cand c JOIN sh a ON a.doc_id = c.da
         |              JOIN sh b ON b.doc_id = c.db AND a.sid = b.sid
         |  GROUP BY c.da, c.db),
         |pairs AS (
         |  SELECT da AS a, db AS b
         |  FROM inter JOIN shsize na ON da = na.doc_id JOIN shsize nb ON db = nb.doc_id
         |  WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 800000),
         |und AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT a AS node, b AS reachable FROM und
         |  UNION
         |  SELECT r.node, u.b FROM reach r JOIN und u ON r.reachable = u.a),
         |comp AS (
         |  SELECT node, least(node, min(reachable)) AS component
         |  FROM reach GROUP BY node),
         |base AS (
         |  SELECT d.doc_id, len(string_split(d.text,' ')) AS n_tokens,
         |    coalesce(c.component, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
         |reps AS (
         |  SELECT cluster_id, doc_id AS rep_id FROM (
         |    SELECT cluster_id, doc_id,
         |      row_number() OVER (PARTITION BY cluster_id
         |        ORDER BY n_tokens DESC, doc_id ASC) AS rk
         |    FROM base) WHERE rk = 1)
         |SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
         |  CAST(b.cluster_id AS BIGINT) AS cluster_id,
         |  CAST(r.rep_id AS BIGINT) AS rep_id,
         |  b.doc_id = r.rep_id AS keep
         |FROM base b JOIN reps r USING (cluster_id)""".stripMargin,
    "sketch_quantile_hist" ->
      s"""WITH $HistQuantileCtes,
         |ranked AS (
         |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
         |  FROM pos)
         |SELECT s.g AS flag, CAST(s.q_permille AS BIGINT) AS q_permille,
         |  CAST(s.n AS BIGINT) AS n, $HistDecodeSql AS est,
         |  r.v AS exact_value
         |FROM sel s JOIN ranked r ON s.g = r.g AND r.rn = s.target""".stripMargin,
    "sketch_quantile_merge" ->
      s"""WITH $HistQuantileCtes
         |SELECT s.g AS flag, CAST(s.q_permille AS BIGINT) AS q_permille,
         |  CAST(s.n AS BIGINT) AS n,
         |  $HistDecodeSql AS est_merged,
         |  $HistDecodeSql AS est_direct
         |FROM sel s""".stripMargin,
    "text_bm25" ->
      s"""WITH $TextCtes,
         |$Bm25Ctes,
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY bm25_x1e6 DESC, wid ASC) AS INTEGER) AS rank
         |  FROM sc2)
         |SELECT doc_id, rank, wid, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, CAST(bm25_x1e6 AS BIGINT) AS bm25_x1e6
         |FROM ranked WHERE rank <= 3""".stripMargin,
    "sim_ann_recall" ->
      s"""WITH $QuantCte,
         |$IvfCtes,
         |ivf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_x1e6 DESC, neighbor_id ASC) AS rank
         |    FROM iscored) WHERE rank <= 3),
         |bscored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(floor(1000000.0 * $pairDot /
         |         sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) AS BIGINT) AS cos_x1e6
         |  FROM qn a JOIN qn b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_x1e6 DESC, neighbor_id ASC) AS rank
         |    FROM bscored) WHERE rank <= 3),
         |hit AS (
         |  SELECT t.query_id, t.neighbor_id
         |  FROM truth t JOIN ivf USING (query_id, neighbor_id))
         |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
         |  CAST((1000000 * (SELECT count(*) FROM hit)) //
         |       (SELECT count(*) FROM truth) AS BIGINT) AS recall_x1e6""".stripMargin,
    "text_search_ranked" ->
      s"""WITH $TextCtes,
         |$Bm25Ctes,
         |q AS (SELECT unnest([
         |  CAST(('0x' || substr(md5('join'),1,14)) AS BIGINT),
         |  CAST(('0x' || substr(md5('window'),1,14)) AS BIGINT),
         |  CAST(('0x' || substr(md5('hash'),1,14)) AS BIGINT)]) AS wid),
         |hits AS (
         |  SELECT doc_id, count(*) AS n_terms_hit, sum(bm25_x1e6) AS score
         |  FROM sc2 JOIN q USING (wid)
         |  GROUP BY doc_id HAVING count(*) = 3)
         |SELECT doc_id, CAST(score AS BIGINT) AS score_x1e6
         |FROM hits ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "sample_weighted_per_group" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |    CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))
        |      AS BIGINT) % 1000000 AS u
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY (u * 1000000) // n_chars ASC, doc_id ASC) AS BIGINT)
        |      AS sample_rank
        |  FROM d)
        |SELECT doc_id, source, n_chars, sample_rank
        |FROM r WHERE sample_rank <= 3
        |ORDER BY source, sample_rank""".stripMargin,
    "text_simpson" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |a AS (SELECT doc_id, sum(tf) AS n_tokens, count(*) AS n_terms,
        |    sum(CAST(tf AS HUGEINT) * (tf - 1)) AS rep
        |  FROM tf GROUP BY doc_id),
        |b AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_terms AS BIGINT) AS n_terms,
        |  CASE WHEN n_tokens < 2 THEN NULL
        |    ELSE CAST((rep * 1000000) //
        |      (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
        |  END AS simpson_ppm FROM a)
        |SELECT doc_id, n_tokens, n_terms, simpson_ppm,
        |  CASE WHEN simpson_ppm IS NULL OR simpson_ppm = 0 THEN NULL
        |    ELSE CAST(1000000000 // simpson_ppm AS BIGINT) END
        |    AS inv_simpson_x1e3
        |FROM b ORDER BY doc_id""".stripMargin,
    "text_rouge" ->
      s"""WITH $TextCtes,
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |   AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT c.da, c.db, count(*) AS i
         |  FROM cand c JOIN sh a ON a.doc_id = c.da
         |              JOIN sh b ON b.doc_id = c.db AND a.sid = b.sid
         |  GROUP BY c.da, c.db),
         |prs AS (
         |  SELECT da, db
         |  FROM inter JOIN shsize na ON da = na.doc_id
         |             JOIN shsize nb ON db = nb.doc_id
         |  WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 800000),
         |bg AS (
         |  SELECT a.doc_id, ((((a.wid % 2147483647) * 2654435761 + (b.wid % 2147483647)) % 2147483647)) * 2147483647 + ((((a.wid % 2147483647) * 2246822519 + (b.wid % 2147483647)) % 2147483647)) AS gid
         |  FROM seq a JOIN seq b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |btf AS (SELECT doc_id, gid, count(*) AS tf FROM bg GROUP BY 1, 2),
         |btot AS (SELECT doc_id, sum(tf) AS n_grams FROM btf GROUP BY 1),
         |ov AS (
         |  SELECT p.da, p.db, sum(least(x.tf, y.tf)) AS n_overlap
         |  FROM prs p JOIN btf x ON x.doc_id = p.da
         |             JOIN btf y ON y.doc_id = p.db AND y.gid = x.gid
         |  GROUP BY p.da, p.db)
         |SELECT CAST(p.da AS BIGINT) AS cand_id, CAST(p.db AS BIGINT) AS ref_id,
         |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CAST(coalesce(cx.n_grams, 0) AS BIGINT) AS cand_grams,
         |  CAST(coalesce(cy.n_grams, 0) AS BIGINT) AS ref_grams,
         |  CASE WHEN coalesce(cy.n_grams, 0) = 0 THEN NULL ELSE
         |    CAST(coalesce(ov.n_overlap, 0) * 1000000 // cy.n_grams AS BIGINT)
         |  END AS recall_ppm,
         |  CASE WHEN coalesce(cx.n_grams, 0) = 0 THEN NULL ELSE
         |    CAST(coalesce(ov.n_overlap, 0) * 1000000 // cx.n_grams AS BIGINT)
         |  END AS precision_ppm,
         |  CASE WHEN coalesce(cx.n_grams, 0) + coalesce(cy.n_grams, 0) = 0
         |    THEN NULL ELSE
         |    CAST(2 * coalesce(ov.n_overlap, 0) * 1000000 //
         |      (coalesce(cx.n_grams, 0) + coalesce(cy.n_grams, 0)) AS BIGINT)
         |  END AS f1_ppm
         |FROM prs p LEFT JOIN ov ON ov.da = p.da AND ov.db = p.db
         |  LEFT JOIN btot cx ON cx.doc_id = p.da
         |  LEFT JOIN btot cy ON cy.doc_id = p.db
         |ORDER BY cand_id, ref_id""".stripMargin,
    "e2e_hybrid_retrieval" ->
      s"""WITH $TextCtes,
         |$Bm25Ctes,
         |$QuantCte,
         |qt AS (SELECT unnest([
         |  CAST(('0x' || substr(md5('join'),1,14)) AS BIGINT),
         |  CAST(('0x' || substr(md5('window'),1,14)) AS BIGINT),
         |  CAST(('0x' || substr(md5('hash'),1,14)) AS BIGINT)]) AS wid),
         |conj AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT doc_id, sum(bm25_x1e6) AS score
         |    FROM sc2 JOIN qt USING (wid) GROUP BY doc_id HAVING count(*) = 3
         |    ORDER BY score DESC, doc_id LIMIT 10)),
         |vrank AS (SELECT b.vec_id AS doc_id,
         |    row_number() OVER (ORDER BY
         |      CAST(floor(1000000.0 * $pairDot /
         |        sqrt(CAST(a.norm2 * b.norm2 AS DOUBLE))) AS BIGINT) DESC,
         |      b.vec_id ASC) AS rank
         |  FROM qn a JOIN qn b ON a.vec_id = 0 AND b.vec_id <> 0
         |  ORDER BY rank LIMIT 10),
         |u AS (SELECT * FROM conj UNION ALL SELECT * FROM vrank),
         |f AS (SELECT doc_id, sum(1000000 // (60 + rank)) AS rrf,
         |    count(*) AS nl
         |  FROM u GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 10)
         |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
         |    AS rank,
         |  doc_id, CAST(rrf AS BIGINT) AS rrf_x1e6, CAST(nl AS BIGINT) AS n_lists
         |FROM f""".stripMargin,
    "text_rank_fusion" ->
      s"""WITH $TextCtes,
         |$Bm25Ctes,
         |q AS (SELECT unnest([
         |  CAST(('0x' || substr(md5('join'),1,14)) AS BIGINT),
         |  CAST(('0x' || substr(md5('window'),1,14)) AS BIGINT),
         |  CAST(('0x' || substr(md5('hash'),1,14)) AS BIGINT)]) AS wid),
         |conj AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT doc_id, sum(bm25_x1e6) AS score
         |    FROM sc2 JOIN q USING (wid) GROUP BY doc_id HAVING count(*) = 3
         |    ORDER BY score DESC, doc_id LIMIT 10)),
         |disj AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (SELECT t.doc_id,
         |      sum(t.tf * ((1000 * o.n_docs) // d.df)) AS score
         |    FROM tf t JOIN dfreq d USING (wid) JOIN q USING (wid)
         |    CROSS JOIN tot o
         |    GROUP BY t.doc_id ORDER BY score DESC, doc_id LIMIT 10)),
         |u AS (SELECT * FROM conj UNION ALL SELECT * FROM disj),
         |f AS (SELECT doc_id, sum(1000000 // (60 + rank)) AS rrf,
         |    count(*) AS nl
         |  FROM u GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 10)
         |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
         |    AS rank,
         |  doc_id, CAST(rrf AS BIGINT) AS rrf_x1e6, CAST(nl AS BIGINT) AS n_lists
         |FROM f""".stripMargin,
    "dedup_blocking_quality" ->
      s"""WITH $TextCtes,
         |mh AS (SELECT doc_id, $minhashAggs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 AS b1, h1 AS b2 FROM mh UNION ALL
         |  SELECT doc_id, 1, h2, h3 FROM mh UNION ALL
         |  SELECT doc_id, 2, h4, h5 FROM mh UNION ALL
         |  SELECT doc_id, 3, h6, h7 FROM mh),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
         |   AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sid = b.sid AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |truth AS MATERIALIZED (
         |  SELECT da, db
         |  FROM inter JOIN shsize na ON da = na.doc_id
         |             JOIN shsize nb ON db = nb.doc_id
         |  WHERE floor(1000000.0 * i / (na.n + nb.n - i)) >= 500000),
         |hit AS (SELECT t.da, t.db FROM truth t
         |  JOIN cand c ON t.da = c.da AND t.db = c.db),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
         |SELECT n AS n_docs,
         |  CAST((n * (n - 1)) // 2 AS BIGINT) AS n_possible,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         |  (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
         |  CAST(1000000 - ((SELECT count(*) FROM cand) * 1000000)
         |       // ((n * (n - 1)) // 2) AS BIGINT) AS reduction_ppm,
         |  CAST(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1000000
         |    ELSE ((SELECT count(*) FROM hit) * 1000000)
         |         // (SELECT count(*) FROM truth) END AS BIGINT)
         |    AS completeness_ppm
         |FROM nd""".stripMargin,
    "text_ranking_hdcg" ->
      s"""WITH $TextCtes,
         |$Bm25Ctes,
         |q AS (SELECT unnest([
         |  CAST(('0x' || substr(md5('join'),1,14)) AS BIGINT),
         |  CAST(('0x' || substr(md5('window'),1,14)) AS BIGINT),
         |  CAST(('0x' || substr(md5('hash'),1,14)) AS BIGINT)]) AS wid),
         |hits AS (
         |  SELECT doc_id, count(*) AS n_terms_hit, sum(bm25_x1e6) AS score
         |  FROM sc2 JOIN q USING (wid)
         |  GROUP BY doc_id HAVING count(*) = 3),
         |topk AS MATERIALIZED (SELECT doc_id, score FROM hits
         |  ORDER BY score DESC, doc_id ASC LIMIT 10),
         |rk AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
         |      AS rank,
         |    CAST(doc_id % 4 AS BIGINT) AS rel FROM topk),
         |ir AS (SELECT rank, rel,
         |    CAST(row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS BIGINT)
         |      AS irank FROM rk)
         |SELECT CAST(count(*) AS BIGINT) AS n_results,
         |  CAST(sum(rel * (1000000 // rank)) AS BIGINT) AS hdcg,
         |  CAST(sum(rel * (1000000 // irank)) AS BIGINT) AS ideal_hdcg,
         |  CAST(CASE WHEN sum(rel * (1000000 // irank)) = 0 THEN 0
         |    ELSE (sum(rel * (1000000 // rank)) * 1000000)
         |         // sum(rel * (1000000 // irank)) END AS BIGINT) AS nhdcg_ppm
         |FROM ir""".stripMargin,
  )

}
