package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VecFunctions.vec_dot
import graft.operators.BloomJoin
import graft.similarity.Similarity
import graft.text.TextFunctions
import graft.Lineage._

/** Deduplication operators for training-data pipelines: exact, blocked
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design: none of these materialize the full O(n²) pair space —
  * exact dedup is one hash aggregation; Jaccard is blocked; MinHash
  * generates candidates through band-bucket equi-joins (shuffle on band
  * signature, skew-safe because signatures are near-uniform); SimHash
  * pairs by exact sketch equality; cosine near-dup is quantized so results
  * are deterministic and can be LSH-bucketed.
  */
object Dedup {

  /** Exact dedup by key: one hash aggregation keeping the smallest id as
    * canonical (map-side partial agg → tiny shuffle). */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol).as("dedup_key"))
      .agg(min(col(idCol)).cast("long").as("canonical_id"),
        count(lit(1)).as("n_docs"))

  /** Pin an operator INPUT unless the caller already hands us a
    * materialized leaf (a pin/checkpoint scan, possibly under a trivial
    * projection) — composing operators over one shared batch would
    * otherwise re-materialize the same frame once per operator
    * (Bridge.isTruncated; the same skip the incremental-CC fold uses). */
  private[graft] def pinned(df: DataFrame): DataFrame =
    if (org.apache.spark.sql.graftbridge.Bridge.isTruncated(df)) df else df.pin

  /** (doc_id, block, shingles) prep: dictionary-encode in place (inline
    * hash ids — zero shuffles), shingle, and block by the first two tokens
    * — candidates are only generated within a block. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wids = TextFunctions.widArrays(docs, idCol, textCol)
    wids.select(col("doc_id"),
      concat_ws(" ", element_at(col("wids"), 1), element_at(col("wids"), 2)).as("block"),
      TextFunctions.shingleIds(col("wids")).as("shingles"))
  }

  /** Blocked pairwise n-gram Jaccard: self-join within blocks, then an
    * in-row array_intersect — the per-pair work is a fused codegen'd
    * array op, not an explode+shuffle. Returns pairs ≥ minJaccX1e6.
    *
    * Skew note: a boilerplate-heavy corpus can concentrate a prefix
    * block; AQE's skew-join split (on by default with AQE) re-partitions
    * oversized blocks at runtime, and [[minhashLsh]] is the principled
    * scale path when block-local O(b²) is unacceptable — this operator
    * is the exact-Jaccard baseline. */
  def blockedJaccard(shingled: DataFrame, minJaccX1e6: Long): DataFrame = {
    // both sides of the self-join re-run the shingle prep otherwise
    val mat = shingled.pin
    val a = mat.select(col("block"), col("doc_id").as("doc_a"),
      col("shingles").as("sh_a"))
    val b = mat.select(col("block"), col("doc_id").as("doc_b"),
      col("shingles").as("sh_b"))
    scored(a.join(b, Seq("block")).filter(col("doc_a") < col("doc_b")), Jaccard, minJaccX1e6)
      .select(col("doc_a"), col("doc_b"), col("jacc_x1e6"))
  }

  /** MinHash + LSH near-dup detection: 8 minhashes → 4 bands of 2 → band
    * equi-join candidates → exact Jaccard verification ≥ minJaccX1e6.
    * Candidate generation cost is one shuffle on (band, h1, h2); the full
    * pair space is never built (shingle→minhash→band→bucket-join). The
    * shingle prep feeds the band join and both verification lookups, so
    * it is pinned once. */
  def minhashLsh(shingled: DataFrame, minJaccX1e6: Long): DataFrame =
    selfLsh(signatures(shingled), minJaccX1e6)

  /** EXACT all-pairs Jaccard join via prefix filtering (the AllPairs /
    * PPJoin family — Bayardo, Ma & Srikant, WWW 2007): the lossless,
    * non-probabilistic alternative to [[minhashLsh]]. Two documents with
    * Jaccard ≥ t MUST share a token inside each other's prefix — the
    * first `s − ceil(t·s) + 1` tokens under a global rarest-first order
    * — so candidates are generated by an equi-join on PREFIX tokens
    * only, then verified exactly in-row. Finds every qualifying pair
    * (unlike LSH's probabilistic recall, or [[blockedJaccard]] which
    * misses cross-block pairs) without ever building the O(n²) space.
    *
    * Scale shape: one doc-frequency agg, one per-doc sort
    * (collect_list + array_sort — in-row, no window), one equi-join on
    * prefix tokens, one verification join. Candidate volume is
    * Σ_token df_prefix(token)² — the rarest-first order pushes
    * high-df tokens to array TAILS, outside every prefix, which is what
    * bounds the join against stop-shingle skew (residual hot prefixes
    * fall to AQE's skew split). The length filter t·sa ≤ sb ≤ sa/t
    * prunes candidates before the distinct. */
  def allPairsJaccard(shingled: DataFrame, minJaccX1e6: Long): DataFrame = {
    require(minJaccX1e6 >= 1 && minJaccX1e6 <= 1000000,
      "allPairsJaccard needs a threshold in (0, 1e6]")
    val mat = shingled.select(col("doc_id"), col("shingles")).pin
    val tok = mat.select(col("doc_id"), explode(col("shingles")).as("sid"))
    val dfreq = tok.groupBy(col("sid")).agg(count(lit(1)).as("df"))
    val ranked = tok.join(dfreq, Seq("sid"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("sid")))).as("ord"))
      .select(col("doc_id"),
        transform(col("ord"), x => x.getField("sid")).as("toks"),
        size(col("ord")).cast("long").as("s"))
      .withColumn("p",
        (col("s") - expr(s"(s * $minJaccX1e6 + 999999) div 1000000") + 1).cast("int"))
    val pref = ranked.select(col("doc_id"), col("s"),
      explode(slice(col("toks"), lit(1), col("p"))).as("sid"))
    val cand = pref.select(col("doc_id").as("doc_a"), col("s").as("sa"), col("sid"))
      .join(pref.select(col("doc_id").as("doc_b"), col("s").as("sb"), col("sid")),
        Seq("sid"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("sb") * 1000000L >= col("sa") * minJaccX1e6 &&
        col("sa") * 1000000L >= col("sb") * minJaccX1e6)
      .select(col("doc_a"), col("doc_b")).distinct()
      .select(col("doc_a").as("new_id"), col("doc_b").as("old_id"),
        lit(false).as("hist"), lit(false).as("new_hist"))
    verify(cand, tagged(mat, hist = false), minJaccX1e6)
      .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"), col("jacc_x1e6"))
  }

  /** MinHash-LSH candidates scored by one-sided shingle CONTAINMENT
    * (Broder's resemblance vs containment distinction):
    * floor(1e6 * |A∩B| / min(|A|,|B|)). Catches subset duplication —
    * a short doc embedded verbatim in a longer one scores near 1e6 here
    * while its Jaccard stays low — the quote/excerpt case a training-data
    * dedup pass wants flagged. Same band-bucket candidate generation as
    * [[minhashLsh]] (never O(n²)). */
  def minhashContainment(shingled: DataFrame, minContX1e6: Long): DataFrame =
    selfLsh(signatures(shingled), minContX1e6, Containment)

  /** Cross-corpus decontamination — training-set hygiene: flag every
    * training doc sharing at least one n-gram shingle with the eval set
    * (the benchmark-overlap rule GPT-3/PaLM-style pipelines apply before
    * training). Returns every training doc with its shared-shingle count
    * and a contaminated flag.
    *
    * Scale: the eval side reduces to a DISTINCT shingle-id set —
    * benchmark-sized, usually broadcastable — and the training corpus is
    * scanned once and equi-joined on the shingle id; the two corpora are
    * never cross-joined. */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    val evalShingles = docShingles(evalSet, idCol, textCol)
      .select(col("sid")).distinct()
    val hits = docShingles(train, idCol, textCol).join(evalShingles, Seq("sid"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_grams"))
    contaminationReport(train, idCol, hits)
  }

  /** [[decontaminate]] with a Bloom prefilter on the training side: the
    * eval corpus's distinct shingle set builds a compact Bloom filter
    * (8 bits/key — a 10M-shingle eval suite is ~10 MB, task-shippable),
    * and the train shingle table is pruned by `might_contain` IN THE
    * SCAN STAGE before anything shuffles. The exact equi-join then
    * removes Bloom false positives, so the result is byte-identical to
    * [[decontaminate]] — the filter only cuts shuffled volume.
    *
    * This is the 100 TB decontamination path: the train side's
    * non-candidate shingles (the overwhelming majority — eval overlap
    * is rare by construction) never leave their scan tasks, where the
    * plain join ships the full exploded shingle table through an
    * exchange. `expectedItems` sizes the filter; at the default 3% FP
    * rate an overestimate only wastes bytes, never correctness. */
  def decontaminateBloom(train: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String,
                         expectedItems: Long): DataFrame = {
    val evalShingles = docShingles(evalSet, idCol, textCol)
      .select(col("sid")).distinct().pin
    val bloom = BloomJoin.buildBloom(evalShingles, "sid", expectedItems)
    val candidates = docShingles(train, idCol, textCol)
      .filter(BloomJoin.mightContain(bloom, col("sid")))
    val hits = candidates.join(evalShingles, Seq("sid"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_grams"))
    contaminationReport(train, idCol, hits)
  }

  /** Exploded (doc_id, shingle-id) table shared by the decontamination
    * variants. */
  private def docShingles(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextFunctions.widArrays(df, idCol, textCol)
      .select(col("doc_id"),
        explode(TextFunctions.shingleIds(col("wids"))).as("sid"))

  /** Left-join per-doc hit counts back onto the full train id set. */
  private def contaminationReport(train: DataFrame, idCol: String,
                                  hits: DataFrame): DataFrame =
    train.select(col(idCol).cast("long").as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared_grams"), lit(0L)) > 0).as("contaminated"))

  /** Near-dup cluster canonicalization — the APPLY step after near-dup
    * detection: group documents into clusters (connected components over
    * the verified near-dup pairs), then keep exactly one representative
    * per cluster by policy (longest document, ties to the smallest id —
    * the "keep the richest copy" rule a curation pipeline applies before
    * training). Returns every doc with its cluster id, the chosen
    * representative, and a keep flag.
    *
    * Scale: pairs come from band-bucketed LSH (never O(n²)); components
    * converge in O(log diameter) rounds and near-dup clusters are
    * shallow; the per-cluster argmax is one aggregation on the cluster
    * key (no window over the corpus), and singleton docs never enter the
    * pair machinery — they join back as their own representative. */
  def representatives(docs: DataFrame, idCol: String, textCol: String,
                      minJaccX1e6: Long): DataFrame = {
    val pairs = minhashLsh(shingleTable(docs, idCol, textCol), minJaccX1e6)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comps = graft.graph.Fixpoint.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
    // representative = max n_tokens, tie → min doc_id: a single
    // max(struct) aggregation per cluster, merged map-side
    val reps = base.groupBy(col("cluster_id"))
      .agg(max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"), (-col("best.neg_id")).as("rep_id"))
    base.join(reps, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("rep_id"),
        (col("doc_id") === col("rep_id")).as("keep"))
  }

  /** The raw LSH candidate pair set (band-bucket matches, BEFORE exact
    * verification) — exposed so candidate-generation RECALL can be
    * measured against an exact ground truth ([[blockedJaccard]]):
    * tuning bands/rows is a measurement problem, not a guess. Stops at
    * the band join — none of the verification machinery runs. */
  def lshCandidates(shingled: DataFrame): DataFrame =
    sideCandidates(None, bandTable(pinned(shingled)), withinBatch = true,
        Long.MaxValue, failOnHotBucket = false)
      .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"))

  /** A verification score over two shingle sets `sh_a`, `sh_b`:
    * floor(1e6·|∩|/`den`), kept as column `name`. `den` may read the
    * intersection size as `inter`. */
  private[graft] final case class Score(name: String, den: Column)

  /** Exact Jaccard: the denominator is the union. */
  private val Jaccard = Score("jacc_x1e6",
    size(col("sh_a")).cast("long") + size(col("sh_b")) - col("inter"))

  /** One-sided containment: the denominator is the smaller set. */
  private val Containment = Score("containment_x1e6",
    least(size(col("sh_a")), size(col("sh_b"))).cast("long"))

  /** The one body of the exact scaling: pairs carrying both shingle sets
    * (`sh_a`, `sh_b`) gain `score.name` = floor(1e6·|∩|/den) and keep
    * it when it reaches the threshold. */
  private def scored(pairs: DataFrame, score: Score, minX1e6: Long): DataFrame =
    pairs
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("den", score.den)
      .withColumn(score.name,
        floor(lit(1000000.0) * col("inter") / col("den")).cast("long"))
      .filter(col(score.name) >= minX1e6)

  /** `df`'s (doc_id, hist, shingles) rows, tagged as history (`hist`
    * true) or batch — the shingle frame [[verify]] looks both ids up in. */
  private[graft] def tagged(df: DataFrame, hist: Boolean): DataFrame =
    df.select(col("doc_id"), lit(hist).as("hist"), col("shingles"))

  /** The one verification of every candidate path: side-tagged
    * candidates ([[sideCandidates]]' (new_id, old_id, hist, new_hist))
    * look both ids up in ONE [[tagged]] shingle frame `sh`, keyed on
    * (doc_id, hist), so a doc id present on both sides (a replay, a
    * re-ingest) is scored against the right version; [[scored]] keeps
    * the pairs that reach the threshold. The byte-identical-across-paths
    * contracts (indexed vs from-scratch, incremental vs one-shot, store
    * probe vs full scan) hold because every path verifies through this.
    *
    * When a side tag reaches the join as a literal, the optimizer pushes
    * it into that lookup and prunes `sh` to the matching side. When both
    * reach it opaque (the store probe cuts its candidates), the two
    * lookups plan the same build side, so a broadcast runs once and the
    * second join reuses it. Output (new_id, old_id, score). */
  private[graft] def verify(cand: DataFrame, sh: DataFrame, minX1e6: Long,
                            score: Score = Jaccard): DataFrame = {
    val s = sh.select(col("doc_id"), col("hist"), col("shingles"))
    val (l, r) = (s.alias("l"), s.alias("r"))
    scored(cand.alias("c")
      .join(l, col("c.new_id") === col("l.doc_id") && col("c.new_hist") === col("l.hist"))
      .join(r, col("c.old_id") === col("r.doc_id") && col("c.hist") === col("r.hist"))
      .select(col("c.new_id"), col("c.old_id"),
        col("l.shingles").as("sh_a"), col("r.shingles").as("sh_b")), score, minX1e6)
      .select(col("new_id"), col("old_id"), col(score.name))
  }

  /** The MinHash-LSH core: the band buckets of `probe` (a signature
    * table — doc_id, shingles, h0..h7) joined in ONE [[sideCandidates]]
    * pass against the history signature table `index` and, with
    * `withinBatch`, against themselves, then ONE [[verify]] over the
    * batch's and the history's shingles. When [[bothLegs]] meet, the
    * candidates are cut, as the store probe's are: their side tags then
    * reach the verification opaque, so both lookups share one build side
    * (batch ∪ history) and one broadcast. A single leg's literal tags
    * prune each lookup to its own side instead. `indexBands`, when
    * given, must be `bandsOf(index)` prebuilt (the fixed-index sinks pin
    * it once per query). Output (new_id, old_id, score); within-batch
    * rows have new_id < old_id. */
  private[graft] def lsh(probe: DataFrame, index: Option[DataFrame],
                         withinBatch: Boolean, minX1e6: Long,
                         maxBucketOccupancy: Long = Long.MaxValue,
                         failOnHotBucket: Boolean = false,
                         score: Score = Jaccard,
                         indexBands: Option[DataFrame] = None): DataFrame = {
    val cand = sideCandidates(indexBands.orElse(index.map(bandsOf)), bandsOf(probe),
      withinBatch, maxBucketOccupancy, failOnHotBucket)
    verify(if (bothLegs(index, withinBatch)) cand.cut else cand,
      (tagged(probe, hist = false) +: index.map(tagged(_, hist = true)).toSeq)
        .reduce(_.unionByName(_)), minX1e6, score)
  }

  /** Whether a probe runs both legs (history and within-batch). Two plan
    * choices follow from it, and only from it: [[sideCandidates]] keys
    * its candidate dedup on `hist` only then (with one leg `hist` is a
    * constant, and as a key it would break the (new_id, old_id)
    * partitioning a downstream pair join reuses — dedup_lsh_recall's
    * full join), and [[lsh]] cuts the candidates only then. */
  private def bothLegs(hist: Option[DataFrame], withinBatch: Boolean): Boolean =
    hist.nonEmpty && withinBatch

  /** [[lsh]] of a signature table against itself, as (doc_a, doc_b,
    * score) with doc_a < doc_b. */
  private def selfLsh(sigs: DataFrame, minX1e6: Long, score: Score = Jaccard): DataFrame =
    lsh(sigs, None, withinBatch = true, minX1e6, score = score)
      .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"), col(score.name))

  /** One row per doc: (doc_id, shingles, h0..h7) — the minhash
    * signature table, which is the PERSISTABLE form of the LSH index
    * (shingles ride along so the verification join of a later sync
    * needs no access to the original text). */
  private def signatureTable(mat: DataFrame): DataFrame =
    mat.select(
      (col("doc_id") +: col("shingles") +:
        TextFunctions.minhashCols(col("shingles"))): _*)

  /** (doc_id, band, h1, h2) bucket rows of a signature table —
    * 8 minhashes → 4 bands of 2. */
  private[graft] def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("band"), col(s"h${2 * j}").as("h1"),
          col(s"h${2 * j + 1}").as("h2"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.h1").as("h1"), col("b.h2").as("h2"))

  private[graft] def bandTable(mat: DataFrame): DataFrame =
    bandsOf(signatureTable(mat))

  /** Build-or-load the corpus LSH index as a parquet artifact: compute
    * [[signatureTable]] only when the artifact for this corpus epoch is
    * absent, else read it back (atomic staged publish via
    * [[graft.sources.Artifacts.buildOrLoad]]). The signatures are
    * deterministic functions of the text, so a cached artifact is
    * byte-identical to a fresh build — and every later sync's
    * [[incrementalMinhashIndexed]] probe runs WITHOUT re-reading or
    * re-shingling the historical corpus. */
  def lshIndexArtifact(spark: org.apache.spark.sql.SparkSession,
                       shingled: DataFrame, artifactDir: String): DataFrame =
    graft.sources.Artifacts.buildOrLoad(spark, artifactDir) { staging =>
      signatureTable(shingled).write.parquet(staging)
    }

  /** [[minhashLsh]] served from an ALREADY-BUILT index (a
    * [[lshIndexArtifact]] read-back): history self-pairs without
    * re-reading, re-shingling, or re-hashing the corpus — the stored
    * (doc_id, shingles, h0..h7) rows carry everything both the
    * band-bucket self-join and the exact verification need. Identical
    * candidate generation and verification to [[minhashLsh]] on the
    * corpus the index was built from, so the output is byte-identical —
    * which is what lets one persisted epoch artifact feed BOTH a
    * history clustering and the per-sync [[incrementalMinhashIndexed]]
    * probe instead of computing minhashes twice. */
  def minhashLshIndexed(index: DataFrame, minJaccX1e6: Long): DataFrame =
    selfLsh(index, minJaccX1e6)

  /** Incremental MinHash+LSH dedup: match a NEW batch against the
    * HISTORICAL corpus through band buckets only — the per-sync shape
    * of a continuously-ingesting pipeline, where history's band table
    * ([[bandTable]]) is a persisted epoch artifact and each sync only
    * probes the buckets the new docs hash into. The history is never
    * self-joined and never re-shingled per sync; candidate volume is
    * bounded by |new| × bucket occupancy, never |old|². The band join
    * and the exact verification still SCAN the history's band and
    * shingle columns once each (only the matched old docs' shingle sets
    * reach the score; the candidates are the small side, which adaptive
    * execution can broadcast at runtime); the partition-pruned
    * [[graft.streaming.GrowingDedupState.probeIndexed]] is the path
    * whose reads track the batch. Returns (new_id, old_id, jacc_x1e6)
    * with exact Jaccard ≥ the threshold. */
  def incrementalMinhash(oldShingled: DataFrame, newShingled: DataFrame,
                         minJaccX1e6: Long,
                         maxBucketOccupancy: Long = Long.MaxValue,
                         failOnHotBucket: Boolean = false): DataFrame =
    incrementalMinhashIndexed(signatureTable(pinned(oldShingled)), newShingled,
      minJaccX1e6, maxBucketOccupancy, failOnHotBucket)

  /** The minhash signature table of a shingled corpus — the in-memory
    * form of [[lshIndexArtifact]], for callers that want the index
    * without a persisted epoch (e.g. a one-shot [[hotBuckets]] audit). */
  def signatures(shingled: DataFrame): DataFrame = signatureTable(pinned(shingled))

  /** Band buckets of `index` whose occupancy exceeds `maxOccupancy` —
    * the hot-bucket census behind [[incrementalMinhashIndexed]]'s guard,
    * exposed so a pipeline can audit WHAT the skip mode dropped (and
    * what boilerplate — empty docs, license headers — pollutes the
    * corpus). Output: (band, h1, h2, occupancy), descending. Map-side
    * partial aggregation keeps the shuffle at distinct-bucket size. */
  def hotBuckets(index: DataFrame, maxOccupancy: Long): DataFrame =
    bandsOf(index).groupBy(col("band"), col("h1"), col("h2"))
      .agg(count(lit(1)).as("occupancy"))
      .filter(col("occupancy") > maxOccupancy)
      .orderBy(col("occupancy").desc)

  /** [[incrementalMinhash]] against an ALREADY-BUILT index (a
    * [[lshIndexArtifact]] read-back): the serving path of a sync epoch,
    * which touches only the index parquet and the new batch — never the
    * historical text.
    *
    * `maxBucketOccupancy` guards the candidate bound: |new| × bucket
    * occupancy is quadratic-shaped when one band bucket holds millions
    * of near-identical boilerplate docs (empty strings, license
    * headers — guaranteed at 100 TB), because every probing new doc
    * fans out across the whole bucket. With the cap set, history
    * buckets above it are excluded from candidate generation BEFORE the
    * join (the explosion never materializes; the occupancy pre-agg is
    * map-side partial over the same band table the join already
    * shuffles, and the exclusion is a broadcast anti-join against the
    * tiny hot set). The drop is never silent: pass
    * `failOnHotBucket = true` to `raise_error` the job the moment a
    * PROBED bucket is hot (buckets no new doc touches don't fail it),
    * or keep the default skip mode and audit the skipped buckets with
    * [[hotBuckets]] — a doc pair suppressed this way is, by
    * construction, near-duplicate boilerplate that exact/URL dedup
    * upstream should have removed. Default `Long.MaxValue` = guard off,
    * byte-identical plan to previous rounds. */
  def incrementalMinhashIndexed(index: DataFrame, newShingled: DataFrame,
                                minJaccX1e6: Long,
                                maxBucketOccupancy: Long = Long.MaxValue,
                                failOnHotBucket: Boolean = false): DataFrame =
    lsh(signatures(newShingled), Some(index), withinBatch = false,
      minJaccX1e6, maxBucketOccupancy, failOnHotBucket)

  /** Candidate generation for BOTH legs of a complete probe in one band
    * join — the one band-bucket join of the near-dup family: the batch's
    * bands (`newBands`, the probe side) against the history's bands
    * tagged `hist` true, and — with `withinBatch` — the batch's own bands
    * tagged `hist` false, where a pair counts once (new_id < old_id).
    * Returns distinct (new_id, old_id, hist) with `new_hist` false on
    * every row (the probe side is always the batch), ready for
    * [[verify]].
    *
    * The hot-bucket guard runs per side, each with its own occupancy
    * census (the history's for the probe, the batch's for the
    * within-batch leg), and only on the tagged side: a within-batch
    * candidate's two bands share their bucket, so the tagged side alone
    * decides whether it is hot. Skip mode drops hot buckets before the
    * join; fail mode aborts on the first candidate drawn from one. The
    * persisted growing store feeds it a PARTITION-PRUNED history read
    * ([[graft.streaming.GrowingDedupState.probeComplete]]): a band
    * bucket's rows never split across store partitions, so the census
    * over the pruned read equals the global one for every probed bucket. */
  private[graft] def sideCandidates(histBands: Option[DataFrame],
                                    newBands: DataFrame, withinBatch: Boolean,
                                    maxBucketOccupancy: Long,
                                    failOnHotBucket: Boolean): DataFrame = {
    val failOn = maxBucketOccupancy != Long.MaxValue && failOnHotBucket
    def side(bands: DataFrame, hist: Boolean) =
      guardBands(bands.select(col("doc_id"), col("band"), col("h1"), col("h2")),
        maxBucketOccupancy, failOnHotBucket).withColumn("hist", lit(hist))
    val sides = (histBands.map(side(_, hist = true)).toSeq ++
        (if (withinBatch) Seq(side(newBands, hist = false)) else Nil))
      .reduce(_.unionByName(_))
    val joined = newBands.alias("x")
      .join(sides.alias("y"),
        col("x.band") === col("y.band") && col("x.h1") === col("y.h1") &&
          col("x.h2") === col("y.h2") &&
          (col("y.hist") || col("x.doc_id") < col("y.doc_id")))
    // the abort rides INSIDE the projected new_id (the assert_true
    // pattern) so it cannot be pruned away, and it mixes the probe-side
    // doc_id with the tagged side's _hot_occ so it cannot sink below the
    // probe join either: a y-side-only guard gets rebuilt UNDER the join
    // by InferFiltersFromConstraints (the verification equi-join implies
    // isnotnull(old_id); an expression referencing only history columns
    // is then pushed to the history side and fires for buckets no new
    // doc ever probes — observed, not hypothetical). As written it
    // evaluates per candidate row and raise_error fires on the first
    // probed-hot one, before the explosion completes.
    val newId =
      if (failOn)
        when(col("y._hot_occ").isNotNull,
          raise_error(concat(
            when(col("y.hist"), lit("incrementalMinhash: probed band bucket holds "))
              .otherwise(lit("incrementalMinhashComplete: within-batch band bucket holds ")),
            col("y._hot_occ").cast("string"),
            when(col("y.hist"), lit(s" docs (cap $maxBucketOccupancy); raise the cap, or " +
                "run exact dedup on the boilerplate first — " +
                "Dedup.hotBuckets names the offending buckets"))
              .otherwise(lit(s" docs (cap $maxBucketOccupancy); raise the cap, shrink " +
                "the batch, or run exact dedup on the boilerplate first — " +
                "Dedup.hotBuckets names the offending buckets")))))
          .otherwise(col("x.doc_id"))
      else col("x.doc_id")
    joined
      .select(newId.as("new_id"), col("y.doc_id").as("old_id"), col("y.hist").as("hist"))
      .dropDuplicates(Seq("new_id", "old_id") ++
        (if (bothLegs(histBands, withinBatch)) Seq("hist") else Nil))
      .withColumn("new_hist", lit(false))
  }

  /** `bands` under the hot-bucket guard, its occupancy census taken over
    * `bands` itself. Skip mode drops the buckets above the cap (a
    * broadcast anti-join against the tiny hot set); fail mode keeps
    * every row and carries a hot bucket's occupancy as `_hot_occ`, so
    * the abort can happen AFTER the probe join and only a bucket a new
    * doc actually hashes into fails the sync. Guard off = `bands`. */
  private def guardBands(bands: DataFrame, maxBucketOccupancy: Long,
                         failOnHotBucket: Boolean): DataFrame =
    if (maxBucketOccupancy == Long.MaxValue) bands
    else {
      val hot = bands.groupBy(col("band"), col("h1"), col("h2"))
        .agg(count(lit(1)).as("occupancy"))
        .filter(col("occupancy") > maxBucketOccupancy)
      if (failOnHotBucket)
        bands.join(broadcast(hot.select(col("band"), col("h1"), col("h2"),
          col("occupancy").as("_hot_occ"))), Seq("band", "h1", "h2"), "left")
      else
        bands.join(broadcast(hot.select(col("band"), col("h1"), col("h2"))),
          Seq("band", "h1", "h2"), "left_anti")
    }

  /** The COMPLETE per-sync near-dup pair set: the asymmetric
    * history-index probe ([[incrementalMinhashIndexed]]) UNION the
    * within-batch self-LSH of the new docs. Without the second term,
    * two near-duplicates arriving in the SAME sync are never paired —
    * neither is in the index yet — and an incremental-components fold
    * over probe matches alone can only cluster them if a shared history
    * doc happens to bridge them: a silent correctness hole for a
    * continuously-ingesting dedup pipeline. Output (doc_a, doc_b,
    * jacc_x1e6), doc_a < doc_b. Both terms run as ONE band join
    * ([[sideCandidates]]) and ONE exact verification ([[verify]]), and
    * band-candidate generation is symmetric, so this equals the
    * from-scratch [[minhashLsh]] over (history ∪ batch) restricted to
    * pairs with at least one batch side — exactly, pinned by the
    * `dedup_incremental_batch_pairs` gate against DuckDB.
    *
    * Scale: both terms' CANDIDATE volume stays batch-proportional — the
    * probe is bounded by |batch| × bucket occupancy (capped via
    * `maxBucketOccupancy`), the self-LSH by the batch's own bucket
    * structure (batch size is the pipeline's own admission knob; history
    * never self-joins). The history's band and shingle columns are
    * scanned once each, as in [[incrementalMinhash]]. The candidates
    * are cut ([[lsh]]), so the verification plans without their size:
    * one build side (batch ∪ history) serves both lookups, and a
    * history too large to broadcast is sort-merge joined whole. The
    * hot-bucket guard applies to BOTH terms: a boilerplate flood
    * arriving inside a single batch hits the within-batch leg's own
    * occupancy census, not just the index probe's.
    *
    * Output is pair-distinct even when the index already holds some
    * batch docs (a replayed micro-batch probing a self-growing index):
    * the overlap shape finds a pair in both probe directions AND in the
    * within-batch term, so [[pairMax]] dedups on the pair key. On a
    * byte-identical replay the duplicate scores are equal and the dedup
    * is lossless; when an id was RE-INGESTED with changed text the
    * index-side and batch-side scores differ, and the kept score is
    * deterministically the MAX across the versions (never an arbitrary
    * survivor of a dropDuplicates race). */
  def incrementalMinhashComplete(index: DataFrame, newShingled: DataFrame,
                                 minJaccX1e6: Long,
                                 maxBucketOccupancy: Long = Long.MaxValue,
                                 failOnHotBucket: Boolean = false): DataFrame =
    pairMax(lsh(signatures(newShingled), Some(index),
      withinBatch = true, minJaccX1e6, maxBucketOccupancy, failOnHotBucket))

  /** Verified (new_id, old_id, jacc_x1e6) rows of both legs as one
    * pair-distinct (doc_a, doc_b, jacc_x1e6) set, doc_a < doc_b, the
    * MAX score across duplicates — the tail of
    * [[incrementalMinhashComplete]] and of the store probe
    * ([[graft.streaming.GrowingDedupState.probeComplete]]). */
  private[graft] def pairMax(verified: DataFrame): DataFrame =
    verified
      .select(least(col("new_id"), col("old_id")).as("doc_a"),
        greatest(col("new_id"), col("old_id")).as("doc_b"), col("jacc_x1e6"))
      // an index that already holds some batch docs (a replayed
      // micro-batch probing a self-growing index) must not emit
      // self-pairs — the growingDedupSink idempotence contract
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("jacc_x1e6")).as("jacc_x1e6"))

  /** SimHash near-dup pairs: docs with identical 32-bit tf-weighted
    * sketches. Exact-match pairing is a single equi-join on the sketch;
    * hamming-distance-k pairing would union the k bit-flip probes. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = TextFunctions.simhash(TextFunctions.termFreq(docs, idCol, textCol))
    sh.alias("a").join(sh.alias("b"),
        col("a.simhash") === col("b.simhash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("simhash"))
  }

  /** SimHash near-dup pairs within hamming distance k: split the 32-bit
    * sketch into k+1 chunks — any pair within distance k shares at least
    * one exact chunk (pigeonhole), so candidates come from k+1 chunk-value
    * equi-joins, then `bit_count(xor) <= k` verifies. No n² pair space;
    * the standard scale path for hamming-radius search. */
  def simhashPairsWithin(docs: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame = {
    require(k >= 1 && k <= 7, "chunk width must stay useful: k in 1..7 for 32 bits")
    val sh = TextFunctions.simhash(TextFunctions.termFreq(docs, idCol, textCol))
    val chunks = TextFunctions.chunkBounds(TextFunctions.SimhashBits, k + 1)
    val buckets = sh.select(col("doc_id"), col("simhash"),
      explode(array(chunks.zipWithIndex.map { case ((lo, width), i) =>
        struct(lit(i).as("ci"),
          shiftright(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1)).as("cv"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.ci"), col("b.cv"))
    buckets.alias("a")
      .join(buckets.alias("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long")
          .as("hamming"))
      .dropDuplicates("doc_a" :: "doc_b" :: Nil)
      .filter(col("hamming") <= k)
  }

  /** Embedding-cosine near-dup pairs over quantized vectors (see
    * [[graft.similarity.Similarity.quantized]]): all pairs ≥ minCosX1e6.
    * Quantization makes every dot product exact integer math. For corpora
    * where n² is too large, bucket with [[graft.similarity.Similarity]]'s
    * sign-LSH first. */
  /** The scale path for embedding near-dup: bucket by the 8-bit sign-LSH
    * signature ([[graft.similarity.Similarity.signLsh]]) and score pairs
    * only within a bucket — an equi-join on the signature, so the corpus
    * is scanned once and the pair space never exceeds the bucket-local
    * products (vs [[cosineNearDup]]'s all-pairs nested loop, which stays
    * as the exactness baseline). Near-identical vectors land in the same
    * bucket with high probability; recall tightens with more bits or
    * multi-probe unioning. */
  def cosineNearDupBucketed(quantized: DataFrame, minCosX1e6: Long): DataFrame = {
    val sigs = Similarity.signLsh(quantized)
    val a = sigs.select(col("sig"), col("vec_id").as("vec_a"), col("q").as("qa"),
      col("norm2").as("na"))
    val b = sigs.select(col("sig"), col("vec_id").as("vec_b"), col("q").as("qb"),
      col("norm2").as("nb"))
    a.join(b, Seq("sig")).filter(col("vec_a") < col("vec_b"))
      .withColumn("dot", vec_dot(col("qa"), col("qb")))
      .withColumn("cos_x1e6",
        floor(lit(1000000.0) * col("dot") /
          sqrt((col("na") * col("nb")).cast("double"))).cast("long"))
      .filter(col("cos_x1e6") >= minCosX1e6)
      .select(col("vec_a"), col("vec_b"), col("cos_x1e6"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup scoped by a k-means
    * clustering — train a coarse quantizer ([[graft.similarity.Similarity
    * .kmeansAssign]], one Lloyd round, deterministic), score cosine pairs
    * ONLY within a cluster, and collapse the resulting near-dup graph to
    * canonical ids via [[graft.graph.Fixpoint.connectedComponents]].
    *
    * The cluster equi-join is what survives 100 TB: pair volume is
    * Σ clusterᵢ² instead of n², and the centroid count is the knob that
    * bounds cluster size (SemDeDup uses 50k clusters at web scale). The
    * price, as in the paper, is recall at cluster boundaries — a pair
    * split across centroids is never scored; [[cosineNearDup]] stays the
    * exactness baseline.
    *
    * Output: one row per vector — (vec_id, cid, canonical_id) with
    * canonical_id = min vec_id of its within-cluster near-dup component
    * (itself when nothing merged). */
  def semanticDedup(quantized: DataFrame, nCentroids: Int,
                    minCosX1e6: Long): DataFrame =
    semanticDedup(quantized,
      Similarity.kmeansAssign(quantized, nCentroids, iterations = 1),
      minCosX1e6)

  /** [[semanticDedup]] over a PRECOMPUTED cluster assignment (vec_id,
    * cid) — the [[graft.similarity.Similarity.kmeansArtifact]] pattern:
    * the coarse clustering is trained once per corpus version and every
    * consumer (this dedup, IVF routing, sampling strata) reads the same
    * artifact instead of re-running Lloyd. */
  def semanticDedup(quantized: DataFrame, assignment: DataFrame,
                    minCosX1e6: Long): DataFrame = {
    val assign = assignment.select(col("vec_id"), col("cid"))
    val clustered = quantized.join(assign, Seq("vec_id"))
    val a = clustered.select(col("cid"), col("vec_id").as("vec_a"),
      col("q").as("qa"), col("norm2").as("na"))
    val b = clustered.select(col("cid"), col("vec_id").as("vec_b"),
      col("q").as("qb"), col("norm2").as("nb"))
    val pairs = a.join(b, Seq("cid")).filter(col("vec_a") < col("vec_b"))
      .withColumn("dot", vec_dot(col("qa"), col("qb")))
      .withColumn("cos_x1e6",
        floor(lit(1000000.0) * col("dot") /
          sqrt((col("na") * col("nb")).cast("double"))).cast("long"))
      .filter(col("cos_x1e6") >= minCosX1e6)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))
    val comp = graft.graph.Fixpoint.connectedComponents(pairs)
      .select(col("node").as("vec_id"), col("component"))
    assign.join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("component"), col("vec_id")).as("canonical_id"))
  }

  def cosineNearDup(quantized: DataFrame, minCosX1e6: Long): DataFrame = {
    val a = quantized.select(col("vec_id").as("vec_a"), col("q").as("qa"),
      col("norm2").as("na"))
    val b = quantized.select(col("vec_id").as("vec_b"), col("q").as("qb"),
      col("norm2").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("dot", vec_dot(col("qa"), col("qb")))
      .withColumn("cos_x1e6",
        floor(lit(1000000.0) * col("dot") /
          sqrt((col("na") * col("nb")).cast("double"))).cast("long"))
      .filter(col("cos_x1e6") >= minCosX1e6)
      .select(col("vec_a"), col("vec_b"), col("cos_x1e6"))
  }

  /** Exact cross-document shared token RUNS — the exact-substring half
    * of dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": exact repeated spans are what a
    * suffix-array dedup removes; MinHash only sees set overlap): every
    * ordered document pair sharing ≥ `minRun` consecutive tokens, with
    * the EXACT length of the longest shared run and the run count.
    *
    * Mechanism: positional `minRun`-gram anchors
    * ([[TextFunctions.gramIds]] — one ~62-bit id per token position).
    * A shared run of length R contributes exactly R − minRun + 1
    * consecutive anchor matches on ONE DIAGONAL (pos_a − pos_b
    * constant), so the longest consecutive-position island per
    * (a, b, diagonal) recovers R = island + minRun − 1 with no
    * suffix array and no global sort — islands are windows PARTITIONED
    * by (pair, diagonal).
    *
    * Scale: candidate volume is Σ_anchors n_pos² — `dfCap` drops
    * anchors seen at more than dfCap positions corpus-wide (boilerplate
    * spans, whose pair volume grows quadratically and which the
    * repeated-span census already surfaces); runs consisting ONLY of
    * over-hot anchors go unreported, the same df-capped-postings trade
    * as [[TextFunctions.cosinePostingsTopK]]. Output: (doc_a, doc_b,
    * max_run, n_runs), doc_a < doc_b, max_run ≥ minRun. */
  def sharedRuns(docs: DataFrame, idCol: String, textCol: String,
                 minRun: Int, dfCap: Long): DataFrame = {
    require(minRun >= 2, "a run needs at least 2 tokens")
    require(dfCap >= 2, "dfCap < 2 would drop every cross-document anchor")
    val anchors = TextFunctions.widArrays(docs, idCol, textCol)
      .select(col("doc_id"),
        posexplode(TextFunctions.gramIds(col("wids"), minRun))
          .as(Seq("pos", "gid")))
      .pin
    val keep = anchors.groupBy(col("gid")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= 2 && col("_n") <= dfCap)
      .select(col("gid"))
    val kept = anchors.join(keep, Seq("gid"), "left_semi")
    val matches = kept.select(col("gid"), col("doc_id").as("doc_a"),
        col("pos").as("pa"))
      .join(kept.select(col("gid"), col("doc_id").as("doc_b"),
        col("pos").as("pb")), Seq("gid"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa").asc)
    matches
      .withColumn("_isl", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("_isl"))
      .agg((count(lit(1)) + lit(minRun - 1).cast("long")).as("run"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("run")).as("max_run"), count(lit(1)).as("n_runs"))
  }
}
