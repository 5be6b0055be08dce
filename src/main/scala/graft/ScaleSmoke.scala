package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.streaming.{BatchStore, GrowingDedupState, Streaming}

/** Scale-headroom smoke: runs the battery's own queries
  * ([[SparkEntry.queries]]) on ×m copies of the sf tables, and next to
  * them the legs the battery cannot express — a fixed batch against an
  * ×m history, probe and recovery I/O, skewed inputs and the checkpoint
  * modes. Prints one JSON line per (op, multiplier):
  * `{"op","mult","rows","sec"}`, some legs with extra fields.
  *
  * Usage: `graft.ScaleSmoke [mults...]` (default 1 4 10) over
  * `SPARK_GRAFT_SF_DIR` (default sf0.1). `SPARK_GRAFT_SMOKE_OPS` is an
  * optional comma-separated op filter; a filter matching nothing warns
  * instead of silently measuring zero operators.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    // a blank filter means "unset"
    val onlyOps = sys.env.get("SPARK_GRAFT_SMOKE_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    GraftSession.run(defaultCpus = 32) { spark =>
      spark.sparkContext.setLogLevel("WARN")
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      // the session's cold start belongs to no leg
      Bench.warmUp(spark, sfDir)
      smoke(spark, sfDir, if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4, 10), onlyOps)
    }
  }

  /** The key offset between copies, 10⁸: above every sf key, clear of
    * the 10⁷ shift `drift_block_diff` makes new keys with, and small
    * enough that the battery's key hashes stay inside a long at ×10. */
  private[graft] val copyOffset = 100000000L

  /** The BIGINT key columns copy i of each table offsets by
    * i·[[copyOffset]], so every join stays inside one copy. nation and
    * region are not copied: their keys are the shared dimension. */
  private[graft] val keyColumns: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"))

  /** `m` copies of `df` unioned, copy i with every `idCols` column
    * offset by i·[[copyOffset]] — the id-offset self-union both scale
    * smokes grow their inputs by. */
  private[graft] def multiply(df: DataFrame, m: Int, idCols: String*): DataFrame =
    (0 until m).map { i =>
      idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * copyOffset)))
    }.reduce(_ unionByName _)

  /** Writes the ×m tables of `sfDir` to `outDir` in [[Tables.table]]'s
    * `<name>.parquet` layout. */
  private[graft] def writeScaled(spark: SparkSession, sfDir: String, m: Int,
                                 outDir: String): Unit =
    (keyColumns.keys ++ Seq("nation", "region")).foreach { name =>
      val t = Tables.table(spark, sfDir, name)
      keyColumns.get(name).fold(t)(keys => multiply(t, m, keys: _*))
        .write.parquet(s"$outDir/$name.parquet")
    }

  /** Battery queries run unchanged on the ×m tables, one leg each. The
    * customer-tree graph queries are left out: they hang node k off the
    * raw key `k div d`, so at ×m copy i's nodes hang off parents in no
    * copy and the ×m graph is not m copies of the ×1 one. */
  private[graft] val registryLegs: Seq[String] = Seq(
    // dedup and similarity
    "dedup_minhash_lsh", "dedup_cosine_neardup", "dedup_cosine_neardup_lsh",
    "dedup_simhash_hamming", "dedup_containment", "dedup_decontaminate",
    "dedup_allpairs", "dedup_url_canonical", "dedup_representatives",
    "dedup_semantic", "dedup_shared_runs", "dedup_hot_buckets",
    "sim_ann_multiprobe", "sim_ann_ivf", "sim_ann_ivfpq", "sim_knn_join",
    "sim_matryoshka_recall", "embed_kmeans_assign", "embed_dim_drift",
    // text, sampling and sketches
    "text_repetition", "text_tfidf", "text_gram_census", "text_pii_scrub",
    "text_line_dedup", "text_seq_pack", "text_cooccurrence_pmi",
    "text_repeated_spans", "text_repeated_span_removal", "text_lm_score",
    "text_bpe_census", "text_bpe_encode", "text_quality_filter",
    "text_cosine_postings", "text_vocab_growth", "text_rouge",
    "text_good_turing", "text_ngram_novelty", "text_linear_classifier",
    "text_trigram_search", "corpus_percentiles", "sample_cap_per_group",
    "sample_weighted", "sample_token_packing", "sample_mixture_schedule",
    "sample_importance_weights", "multimodal_phash_pairs",
    "multimodal_patch_grid", "e2e_coverage_select", "sketch_heavy_hitters",
    "sketch_quantile_hist", "sketch_kmv_setops", "sketch_hll_windowed",
    // joins, temporal and change data
    "join_asof", "join_asof_tolerance", "join_range_bucketed",
    "join_bloom_prefilter", "join_spatial_grid", "layout_zorder",
    "scd2_history", "scd2_audit", "sessionize_gaps", "intervals_coalesce",
    "temporal_allen_census", "bitemporal_read", "incremental_agg",
    "incremental_join", "cdc_apply", "drift_block_diff",
    "core_cleanup_cascade", "permission_relationships", "window_skew_rank",
    // analytics
    "basket_rules", "attribution_linear", "attribution_multi_touch",
    "analytics_ks_stat", "analytics_cusum", "analytics_chi2", "analytics_gini",
    "analytics_mann_whitney", "analytics_burstiness", "analytics_trimmed_mean",
    "analytics_topk_drift", "analytics_exact_quantiles", "analytics_seasonal",
    "analytics_mad_robust", "analytics_did", "analytics_rfm",
    "analytics_cohort_ltv", "quality_benford",
    // graph: co-purchase, nation-flow and key-block graphs, and customers
    // ranked over the shared nations
    "graph_triangles", "graph_bipartite", "graph_mst_forest",
    "graph_k4_census", "centrality_pagerank", "centrality_pagerank_dangling",
    "centrality_ppr",
    // canonical sync
    "ontology_packages", "ontology_users_source_merge")

  /** The kept legs that read only the sf tables, never the ×m ones. */
  private val sfOnlyLegs = Set("growing_probe_pruned", "growing_probe_fullscan",
    "recovery_tail", "recovery_fullscan", "attribution_skew_raw", "attribution_skew_capped")

  private[graft] def smoke(spark: SparkSession, sfDir: String, mults: Seq[Int],
                           onlyOps: Option[Set[String]]): Unit = {
    def wanted(op: String): Boolean = onlyOps.forall(_.contains(op))
    var ran = 0
    /** Times `rows` as leg `op` at multiplier `m` and prints its line;
      * `extra` (fields after "sec", evaluated once the timed region
      * is done) carries a leg's I/O accounting. */
    def time(op: String, m: Int, extra: => String = "")(rows: => Long): Unit =
      if (wanted(op)) {
        ran += 1
        val t0 = System.nanoTime()
        val n = rows
        val s = (System.nanoTime() - t0) / 1e9
        println(f"""{"op":"$op","mult":$m,"rows":$n,"sec":$s%.2f$extra}""")
        DriverHygiene.releasePersisted(spark)
      }
    def tempDir(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString
    def du(dir: String): (Long, Long) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val s = p.getFileSystem(spark.sessionState.newHadoopConf()).getContentSummary(p)
      (s.getFileCount, s.getLength)
    }
    def shingled(df: DataFrame): DataFrame = Dedup.shingleTable(df, "doc_id", "text")

    mults.foreach { m =>
      // the ×m tables are written before any leg is timed, unless every
      // selected leg reads only the sf tables; ×1 reads `sfDir` itself
      val dir = if (m == 1 || onlyOps.exists(_.subsetOf(sfOnlyLegs))) sfDir else {
        val d = tempDir(s"graft_scale_x$m")
        val t0 = System.nanoTime()
        writeScaled(spark, sfDir, m, d)
        Console.err.println(f"[scalesmoke] x$m tables written to $d in ${(System.nanoTime() - t0) / 1e9}%.1f s, untimed")
        d
      }
      try {
        registryLegs.foreach(q => time(q, m)(SparkEntry.queries(q)(spark, dir).count()))

        // A FIXED batch (the ×1 doc_id % 5 = 0 slice) against an ×m
        // history: each leg's wall must track the batch, not the history.
        def batch = Tables.documents(spark, sfDir).filter(col("doc_id") % 5 === 0)
        def history = Tables.documents(spark, dir).filter(col("doc_id") % 5 =!= 0)
        time("incremental_minhash", m) {
          Dedup.incrementalMinhash(shingled(history), shingled(batch), 800000L).count()
        }
        // through the complete match (index probe ∪ within-batch
        // self-LSH): the second term is history-independent, so the
        // curve must stay as flat as incremental_minhash's
        time("incremental_minhash_complete", m) {
          Dedup.incrementalMinhashComplete(Dedup.signatures(shingled(history)),
            shingled(batch), 800000L).count()
        }
        // The same batch through the real sinks against an ×m on-disk
        // index. Seeding the store and writing the batch source are
        // untimed; the timed region is one whole micro-batch: probe,
        // O(batch) store appends and, for components, the label fold
        // and snapshot publish. Each leg seeds only its own state.
        val sinkLegs = Seq("growing_dedup_sink_batch", "growing_components_sink_batch")
        if (sinkLegs.exists(wanted)) {
          val srcDir = tempDir("smoke_growsink_src")
          batch.select(col("doc_id"), col("text")).coalesce(1)
            .write.mode("overwrite").parquet(srcDir)
          val srcSchema = spark.read.parquet(srcDir).schema
          // the seed signatures go to parquet once: a lazily pinned frame
          // would lose its blocks to the releasePersisted between legs
          val seedSigDir = tempDir("smoke_growsink_sigs") + "/sigs"
          Dedup.signatures(shingled(history)).write.parquet(seedSigDir)
          DriverHygiene.releasePersisted(spark)
          def seeded(tag: String, withLabels: Boolean): GrowingDedupState = {
            val st = GrowingDedupState(tempDir(s"smoke_growsink_$tag"), epoch = "live")
            st.withEpoch("seed").appendSignatures(spark.read.parquet(seedSigDir), 0L)
            // an ×m labeling, so the fold and its snapshot write run
            // against accumulated-scale state
            if (withLabels) BatchStore.publishSnapshot(
              history.select(col("doc_id").as("node"),
                (col("doc_id") - (col("doc_id") % 2)).as("component")),
              st.labelDir, "seed", 0L)
            st
          }
          def oneBatch(sink: DataFrame =>
              org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
            val q = sink(spark.readStream.schema(srcSchema)
              .option("maxFilesPerTrigger", "1000").parquet(srcDir)).start()
            try q.processAllAvailable() finally q.stop()
          }
          if (wanted("growing_dedup_sink_batch")) {
            val st = seeded("a", withLabels = false)
            time("growing_dedup_sink_batch", m) {
              oneBatch(Streaming.growingDedupSink(_, st, 800000L))
              spark.read.parquet(BatchStore.batchDir(st.pairDir, "live", 0L)).count()
            }
          }
          if (wanted("growing_components_sink_batch")) {
            val st = seeded("b", withLabels = true)
            time("growing_components_sink_batch", m) {
              oneBatch(Streaming.growingComponentsSink(_, st, 800000L))
              st.labels(spark).get.count()
            }
          }
        }

        // Probe I/O: a small fixed batch (~20 docs) probed against an ×m
        // on-disk store, by the partition-pruned probe (band store read
        // at the batch's bk buckets, payload store at the candidates' pb
        // buckets) and by a full scan of the signature store. The pruned
        // leg's bytes must stay O(batch · occupancy) as history grows;
        // the full scan is the linear control. Bytes come from the store
        // layout: the pruned reads receive explicit path lists, so the
        // selected files are exactly the files read, while task metrics
        // (column pruning, metadata-only counts) are not.
        if (wanted("growing_probe_pruned") || wanted("growing_probe_fullscan")) {
          val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
          // a DIVERSE ×m history, not id-offset copies: copy i puts a
          // copy-unique token between every pair of words, so its
          // shingles are disjoint from every other copy's and the batch's
          // true matches stay O(1). Plain copies would give every batch
          // doc m matches (a payload read linear in m by construction)
          // and dictionary-compress the full-scan control flat.
          val base = docs.filter(col("doc_id") % 499 =!= 0)
          val histDocs = (0 until m).map { i =>
            if (i == 0) base
            else base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
              .withColumn("text", regexp_replace(col("text"), " ", s" zq$i "))
          }.reduce(_ unionByName _)
          val st = GrowingDedupState(tempDir("smoke_probe_store"),
            epoch = "seed", bandBuckets = 1024, payloadBuckets = 256)
          st.appendSignatures(Dedup.signatures(shingled(histDocs)), 0L)
          val batchSh = shingled(docs.filter(col("doc_id") % 499 === 0))
          spark.conf.set("graft.growing.probeIoDiagnostics", "true")
          time("growing_probe_pruned", m, st.lastProbeIo.map(io =>
              s""","band_sel_bytes":${io.bandBytes},"band_store_bytes":${io.bandStoreBytes},"band_sel_files":${io.bandFiles},"band_store_files":${io.bandStoreFiles},"pay_sel_bytes":${io.payBytes},"pay_store_bytes":${io.payStoreBytes},"pay_sel_files":${io.payFiles},"pay_store_files":${io.payStoreFiles}""")
              .getOrElse("")) {
            st.probeComplete(batchSh, 800000L).count()
          }
          // the whole signature store, read twice (band pass and
          // verification pass), reported once
          time("growing_probe_fullscan", m, {
            val (f, b) = du(st.sigDir)
            s""","sel_files":$f,"sel_bytes":$b"""
          }) {
            Dedup.incrementalMinhashComplete(
              spark.read.parquet(st.sigDir).drop("epoch", "batch", "pb"),
              batchSh, 800000L).count()
          }
          spark.conf.unset("graft.growing.probeIoDiagnostics")
        }

        // Session-start recovery: a label snapshot over ×m nodes and an
        // ×m pair-store WAL with a FIXED uncovered tail batch. With the
        // covered listing (the sinks' shape) only the tail folds onto
        // the snapshot; without it (an old manifest) the whole WAL
        // re-folds, linear in m. Reported with the WAL partitions each
        // selects, from the store layout like the probe I/O above.
        if (wanted("recovery_tail") || wanted("recovery_fullscan")) {
          val ids = Tables.documents(spark, sfDir).select(col("doc_id"))
          // pairs (2k, 2k+1): the labeling "component = even endpoint" is
          // exactly the pairs' own fold, so the control's re-fold is the
          // honest already-contracted no-op per pair
          def pairSlice(i: Int): DataFrame =
            ids.select((col("doc_id") * 2 + lit(i * 20000000L)).as("doc_a"))
              .select(col("doc_a"), (col("doc_a") + 1).as("doc_b"),
                lit(900000L).as("jacc_x1e6"))
          def seeded(tag: String, withCovered: Boolean): GrowingDedupState = {
            val st = GrowingDedupState(tempDir(s"smoke_recovery_$tag"), epoch = "live")
            (0 until m).foreach(i =>
              BatchStore.append(pairSlice(i), st.pairDir, "hist", i.toLong))
            val hist = spark.read.parquet(st.pairDir)
            val labels = hist.select(col("doc_a").as("node"), col("doc_a").as("component"))
              .unionByName(hist.select(col("doc_b").as("node"), col("doc_a").as("component")))
            BatchStore.publishSnapshot(labels, st.labelDir, "hist", 0L,
              covered = if (withCovered) st.pairPartitions(spark) else Nil)
            BatchStore.append(pairSlice(0).limit(1000)
              .select((col("doc_a") + 777000000L).as("doc_a"),
                (col("doc_b") + 777000000L).as("doc_b"), col("jacc_x1e6")),
              st.pairDir, "tail", 0L)
            st
          }
          def walIo(st: GrowingDedupState): String = {
            val covered = BatchStore.snapshotCovered(spark, st.labelDir).toSet
            val (selF, selB) = st.pairPartitions(spark).filterNot(covered)
              .map(rel => du(s"${st.pairDir}/$rel"))
              .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
            val (stoF, stoB) = du(st.pairDir)
            s""","wal_sel_files":$selF,"wal_sel_bytes":$selB,"wal_store_files":$stoF,"wal_store_bytes":$stoB"""
          }
          // exactly the sinks' session-start reconstruction
          def recover(st: GrowingDedupState): Long = {
            val stored = st.unfoldedPairs(spark)
              .map(_.select(col("doc_a").as("a"), col("doc_b").as("b")))
            val recovered = (st.labels(spark), stored) match {
              case (Some(lab), Some(p)) => Some(graph.Fixpoint.incrementalComponents(lab, p))
              case (None, Some(p)) => Some(graph.Fixpoint.connectedComponents(p))
              case (lab, None) => lab
            }
            recovered.map(Lineage.pinned(_, eager = true)).map(_.count()).getOrElse(0L)
          }
          for ((op, covered) <- Seq("recovery_tail" -> true, "recovery_fullscan" -> false)
               if wanted(op)) {
            val st = seeded(op, covered)
            time(op, m, walIo(st))(recover(st))
          }
        }

        // Hot buckets: 90% of the HISTORY is one boilerplate text, so one
        // band-bucket set holds 0.9·|history| docs and the fixed batch
        // carries ~15 boilerplate probes. Uncapped, the candidates are
        // |hot probes| × 0.9·|history|; capped at 1000, the hot buckets
        // are anti-joined away before the probe join and the wall must
        // stay flat.
        def hot(df: DataFrame) = shingled(df.withColumn("text",
          when(col("doc_id") % 10 =!= 0,
            lit("standard license header boilerplate text common to all"))
            .otherwise(col("text"))))
        def hotHist = hot(Tables.documents(spark, dir).filter(col("doc_id") % 299 =!= 0))
        def hotBatch = hot(Tables.documents(spark, sfDir).filter(col("doc_id") % 299 === 0))
        time("incr_minhash_hot_uncapped", m) {
          Dedup.incrementalMinhash(hotHist, hotBatch, 800000L).count()
        }
        time("incr_minhash_hot_capped", m) {
          Dedup.incrementalMinhash(hotHist, hotBatch, 800000L,
            maxBucketOccupancy = 1000L).count()
        }

        // One bot user with 10⁴·m touches and 10² conversions in-window:
        // the per-user touch × conversion volume the operator's scaladoc
        // warns of, raw, and behind the documented guard (capPerGroup
        // bounds any user's touches to 200 before the join, so the bot's
        // pair volume drops from 10⁶·m to 2·10⁴ and the curve goes flat).
        def botCorpus: (DataFrame, DataFrame) = {
          val bot = 424242424242L
          val ev = Tables.events(spark, sfDir)
          val touches = ev.filter(col("event_type").isin("click", "view"))
            .select(col("user_id"), col("event_id").as("touch_id"),
              col("event_type").as("channel"), expr("unix_micros(ts)").as("ts"))
            .unionByName(spark.range(10000L * m).select(
              lit(bot).as("user_id"), col("id").as("touch_id"),
              concat(lit("ch"), (col("id") % 5).cast("string")).as("channel"),
              (col("id") % 86400L).as("ts")))
          val conv = ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id").as("conv_id"),
              expr("unix_micros(ts)").as("ts"),
              coalesce(floor(col("value") * 100).cast("long"), lit(0L)).as("value_cents"))
            .unionByName(spark.range(100L).select(
              lit(bot).as("user_id"), (col("id") + 1000000L).as("conv_id"),
              (lit(86400L) + col("id")).as("ts"), lit(100L).as("value_cents")))
          (touches, conv)
        }
        time("attribution_skew_raw", m) {
          val (touches, conv) = botCorpus
          operators.Attribution.multiTouch(touches, conv, 200000L).count()
        }
        time("attribution_skew_capped", m) {
          val (touches, conv) = botCorpus
          operators.Attribution.multiTouch(
            text.Sampling.capPerGroup(touches, "touch_id", col("user_id"), 200),
            conv, 200000L).count()
        }

        // A 90%-one-key global rank: the uniform equal-width path funnels
        // the hot key through one bucket's task, the census-prebinned
        // path splits it by tie ranges, and the adaptive path must track
        // the prebinned one plus a census-probe constant. Exact quantiles
        // of the same measure collapse the hot value to ONE census row,
        // so that curve tracks |distinct values|, not the row count.
        def skewed = Tables.lineitem(spark, dir).select(
          when(col("l_orderkey") % 10 < 9, lit(7L)).otherwise(col("l_orderkey")).as("k"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        val rankSums = Seq((col("cents"), "rc"))
        time("global_rank_skew_uniform", m) {
          operators.GlobalOrder.withRunningAggs(skewed, col("k"), Seq(col("id").asc),
            sums = rankSums, rankName = Some("rk")).count()
        }
        time("global_rank_skew_prebinned", m) {
          operators.GlobalOrder.withRunningAggsSkew(skewed, col("k"), col("id"),
            sums = rankSums, rankName = Some("rk")).count()
        }
        time("global_rank_skew_auto", m) {
          operators.GlobalOrder.withRunningAggsAuto(skewed, col("k"), col("id"),
            sums = rankSums, rankName = Some("rk")).count()
        }
        time("quantiles_skewed_census", m) {
          operators.Analytics.exactQuantiles(skewed, col("k"),
            Seq(250000L, 500000L, 900000L, 990000L)).count()
        }

        // Checkpoint overhead: one components fixpoint under local (no
        // fault tolerance), reliable-every-round and reliable-every-5
        // checkpoints — the cost of surviving executor loss.
        def ccUnder(mode: String, every: Option[Int]): Long = {
          if (mode == "reliable" && spark.sparkContext.getCheckpointDir.isEmpty)
            spark.sparkContext.setCheckpointDir(tempDir("graft-smoke-ckpt"))
          spark.conf.set("graft.lineage.mode", mode)
          every.foreach(n => spark.conf.set("graft.lineage.reliableEvery", n.toString))
          try graph.Fixpoint.connectedComponents(
            Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("k"))
              .filter(col("k") >= 8L).select(expr("k div 8").as("a"), col("k").as("b"))
          ).count()
          finally {
            spark.conf.set("graft.lineage.mode", "local")
            spark.conf.unset("graft.lineage.reliableEvery")
          }
        }
        time("cc_ckpt_local", m)(ccUnder("local", None))
        time("cc_ckpt_reliable", m)(ccUnder("reliable", None))
        time("cc_ckpt_reliable_e5", m)(ccUnder("reliable", Some(5)))

        // Every provider row carries the same email (one admin address
        // across all tools): a window-based merge would put the whole
        // corpus on one task; the min-over-structs aggregation combines
        // map-side and must stay flat-to-linear.
        time("source_nodes_hot", m) {
          val userMods = ontology.MappingCorpus.all("useraccounts")
          val users = Tables.documents(spark, dir).select(
            concat(lit("x"), col("doc_id").cast("string")).as("id"),
            lit("admin@corp.ex").as("email"),
            col("text").substr(1, 24).as("display_name"),
            (col("doc_id") % 3 === 0).as("account_enabled"))
          // sourceNodes needs a frame per label: the others get an empty one
          ontology.CanonicalSync.sourceNodes(userMods, userMods.flatMap(_.nodes)
            .map(n => n.nodeLabel -> (if (n.nodeLabel == "EntraUser") users
              else users.filter(lit(false)))).toMap, "email").count()
        }
      } finally if (dir != sfDir) org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    if (ran == 0)
      Console.err.println(
        s"[scalesmoke] WARNING: op filter ${onlyOps.getOrElse(Set())} matched no operators")
  }
}
