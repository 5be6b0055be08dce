package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-headroom smoke: runs the heaviest LLM-pipeline operators on
  * synthetically multiplied corpora (id-offset self-unions of the sf0.1
  * tables) to observe how the candidate-generation designs behave one
  * and two orders of magnitude past the bench scale. Prints one JSON
  * line per (operator, multiplier) with rows and seconds.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit =
    GraftSession.run(defaultCpus = 32)(smoke(_, args))

  /** `m` copies of `df` unioned, copy i with `idCol` offset by i·10⁷ —
    * the id-offset self-union both scale smokes grow their inputs by. */
  private[graft] def multiply(df: DataFrame, idCol: String, m: Int): DataFrame = {
    val n = 10000000L
    (0 until m).map(i => df.withColumn(idCol, col(idCol) + lit(i * n)))
      .reduce(_ unionByName _)
  }

  private def smoke(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4, 10)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // optional comma-separated op filter for targeted headroom runs;
    // a blank value means "unset", and a filter matching nothing warns
    // instead of silently measuring zero operators
    val onlyOps = sys.env.get("SPARK_GRAFT_SMOKE_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    var ran = 0
    def time(name: String, m: Int)(f: => Long): Unit = {
      if (onlyOps.forall(_.contains(name))) {
        ran += 1
        val t0 = System.nanoTime()
        val rows = f
        val s = (System.nanoTime() - t0) / 1e9
        println(f"""{"op":"$name","mult":$m,"rows":$rows,"sec":$s%.2f}""")
        DriverHygiene.releasePersisted(spark)
      }
    }

    mults.foreach { m =>
      val docs = multiply(Tables.documents(spark, sfDir), "doc_id", m)
      val embs = multiply(Tables.embeddings(spark, sfDir), "vec_id", m)
      time("incremental_minhash", m) {
        // FIXED batch (the ×1 new-docs slice) probed against a ×m
        // history: the wall must track the BATCH, not the history —
        // the whole point of the persisted-band-table sync shape
        val batch = Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 5 === 0)
        dedup.Dedup.incrementalMinhash(
          dedup.Dedup.shingleTable(
            docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text"),
          dedup.Dedup.shingleTable(batch, "doc_id", "text"),
          800000L).count()
      }
      time("incremental_minhash_complete", m) {
        // same fixed batch vs ×m history, through the COMPLETE match
        // (index probe ∪ within-batch self-LSH): the second term is
        // history-independent by construction, so the curve must stay
        // flat exactly like incremental_minhash's — the same-sync
        // blind-spot fix cannot cost history-proportional work
        val batch = Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 5 === 0)
        dedup.Dedup.incrementalMinhashComplete(
          dedup.Dedup.signatures(dedup.Dedup.shingleTable(
            docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")),
          dedup.Dedup.shingleTable(batch, "doc_id", "text"),
          800000L).count()
      }
      // Sink-level growing-dedup smoke (r15 verdict item 1): the same
      // FIXED batch streamed through the REAL sinks against a ×m
      // accumulated ON-DISK index. Seeding the store and writing the
      // batch source are untimed setup; the timed region is one whole
      // micro-batch end to end — index probe ∪ within-batch self-LSH,
      // O(batch) store appends, and (components variant) the label fold
      // + snapshot publish. No shuffle or pin of accumulated state may
      // ride in here: the per-batch wall must track the BATCH as the
      // index grows, which is the O(batch)-fold claim at sink level.
      locally {
        val wantDedup = onlyOps.forall(_.contains("growing_dedup_sink_batch"))
        val wantComponents =
          onlyOps.forall(_.contains("growing_components_sink_batch"))
        if (wantDedup || wantComponents) {
          val fixedBatch = Tables.documents(spark, sfDir)
            .filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("text"))
          val srcDir = java.nio.file.Files
            .createTempDirectory("smoke_growsink_src").toString
          fixedBatch.coalesce(1).write.mode("overwrite").parquet(srcDir)
          val srcSchema = spark.read.parquet(srcDir).schema
          // each op seeds ONLY its own state — a targeted headroom run
          // must not pay the other op's ×m untimed setup. The seed
          // signatures are materialized to parquet ONCE and read back
          // per use: a lazily-pinned frame would lose its checkpoint
          // blocks to the inter-op releasePersisted and be
          // unrecomputable on the second op's seeding.
          val seedSigDir = java.nio.file.Files
            .createTempDirectory("smoke_growsink_sigs").toString + "/sigs"
          dedup.Dedup.signatures(dedup.Dedup.shingleTable(
            docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text"))
            .write.parquet(seedSigDir)
          DriverHygiene.releasePersisted(spark)
          def seeded(tag: String, withLabels: Boolean): graft.streaming.GrowingDedupState = {
            val st = graft.streaming.GrowingDedupState(java.nio.file.Files
              .createTempDirectory(s"smoke_growsink_$tag").toString, epoch = "live")
            st.withEpoch("seed").appendSignatures(
              spark.read.parquet(seedSigDir), 0L)
            // an ×m-sized labeling so the components fold and its
            // snapshot write run against accumulated-scale state
            if (withLabels) graft.streaming.BatchStore.publishSnapshot(
              docs.filter(col("doc_id") % 5 =!= 0)
                .select(col("doc_id").as("node"),
                  (col("doc_id") - (col("doc_id") % 2)).as("component")),
              st.labelDir, "seed", 0L)
            st
          }
          def oneBatch(sink: org.apache.spark.sql.DataFrame =>
              org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
            val src = spark.readStream.schema(srcSchema)
              .option("maxFilesPerTrigger", "1000").parquet(srcDir)
            val q = sink(src).start()
            try q.processAllAvailable() finally q.stop()
          }
          if (wantDedup) {
            val stateA = seeded("a", withLabels = false)
            time("growing_dedup_sink_batch", m) {
              oneBatch(src => graft.streaming.Streaming
                .growingDedupSink(src, stateA, 800000L))
              spark.read.parquet(graft.streaming.BatchStore
                .batchDir(stateA.pairDir, "live", 0L)).count()
            }
          }
          if (wantComponents) {
            val stateB = seeded("b", withLabels = true)
            time("growing_components_sink_batch", m) {
              oneBatch(src => graft.streaming.Streaming
                .growingComponentsSink(src, stateB, 800000L))
              stateB.labels(spark).get.count()
            }
          }
        }
      }
      // Probe bytes-read headroom (r16 verdict item 1): a SMALL fixed
      // batch (~20 docs) probed against a ×m accumulated on-disk store.
      // Two legs, each reporting wall AND task-input bytes: the
      // partition-pruned store probe (the production path — band store
      // read at only the batch's ≤4·|batch| bk buckets, payload store
      // read at only the candidates' pb buckets) vs a full-index-scan
      // probe (the r16 design: bandsOf + verify over the whole signature
      // store). The pruned leg's bytes must stay O(batch·occupancy) as
      // history grows ×50/×100; the full leg is the linear-in-history
      // control. Run with args "1 10 50 100" and
      // SPARK_GRAFT_SMOKE_OPS=growing_probe_pruned,growing_probe_fullscan.
      locally {
        val wantPruned = onlyOps.forall(_.contains("growing_probe_pruned"))
        val wantFull = onlyOps.forall(_.contains("growing_probe_fullscan"))
        if (wantPruned || wantFull) {
          // IO accounting from the STORE LAYOUT, not task metrics or
          // final-plan scan nodes: the pruned reads receive explicit
          // partition-path lists (they cannot touch bytes outside them),
          // so selected files/bytes per path set IS the exact files-read
          // contract; task-metrics bytesRead is uninterpretable here
          // (column pruning, metadata-only counts) and AQE's
          // empty-relation propagation drops executed scans from final
          // plans. The full-scan control's selection is the whole store
          // by construction (it reads the store root).
          def timedScan(name: String, extra: => String)(
              mk: => org.apache.spark.sql.DataFrame): Unit = {
            ran += 1
            val t0 = System.nanoTime()
            val df = mk
            val rows = df.count()
            val s = (System.nanoTime() - t0) / 1e9
            println(f"""{"op":"$name","mult":$m,"rows":$rows,"sec":$s%.2f$extra}""")
            DriverHygiene.releasePersisted(spark)
          }
          def duOf(dir: String): (Long, Long) = {
            val p = new org.apache.hadoop.fs.Path(dir)
            val s = p.getFileSystem(spark.sessionState.newHadoopConf())
              .getContentSummary(p)
            (s.getFileCount, s.getLength)
          }
          val smallBatch = Tables.documents(spark, sfDir)
            .filter(col("doc_id") % 499 === 0)
            .select(col("doc_id"), col("text"))
          // a DIVERSE ×m history, not id-offset copies: each extra copy
          // interleaves a copy-unique token between every pair of words,
          // so its shingle set is disjoint from every other copy's and
          // from the batch's — the batch's true matches stay O(1) while
          // the store grows ×m. Plain multiply() would instead give every
          // batch doc m near-identical matches (candidate volume — and
          // therefore the payload read — linear in m by CONSTRUCTION, and
          // the duplicated text dictionary-compresses the full-scan
          // control flat), measuring the corpus pathology, not the probe.
          val base = Tables.documents(spark, sfDir)
            .filter(col("doc_id") % 499 =!= 0)
            .select(col("doc_id"), col("text"))
          val histDocs = (0 until m).map { i =>
            if (i == 0) base
            else base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
              .withColumn("text",
                regexp_replace(col("text"), " ", s" zq$i "))
          }.reduce(_ unionByName _)
          val histSigs = dedup.Dedup.signatures(dedup.Dedup.shingleTable(
            histDocs, "doc_id", "text"))
          val st = graft.streaming.GrowingDedupState(java.nio.file.Files
            .createTempDirectory("smoke_probe_store").toString,
            epoch = "seed", bandBuckets = 1024, payloadBuckets = 256)
          st.appendSignatures(histSigs, 0L) // untimed ×m seeding
          val batchSh = dedup.Dedup.shingleTable(smallBatch, "doc_id", "text")
          spark.conf.set("graft.growing.probeIoDiagnostics", "true")
          if (wantPruned) timedScan("growing_probe_pruned",
            st.lastProbeIo.map(io =>
              s""","band_sel_bytes":${io.bandBytes},"band_store_bytes":${io.bandStoreBytes},"band_sel_files":${io.bandFiles},"band_store_files":${io.bandStoreFiles},"pay_sel_bytes":${io.payBytes},"pay_store_bytes":${io.payStoreBytes},"pay_sel_files":${io.payFiles},"pay_store_files":${io.payStoreFiles}""")
              .getOrElse("")) {
            st.probeComplete(batchSh, 800000L)
          }
          if (wantFull) timedScan("growing_probe_fullscan", {
            val (sf, sb) = duOf(st.sigDir)
            s""","sel_files":$sf,"sel_bytes":$sb"""
          }) {
            // the r16 shape: raw full read of the signature store — its
            // file selection is the whole store, twice (band pass +
            // verification pass), reported once
            dedup.Dedup.incrementalMinhashComplete(
              spark.read.parquet(st.sigDir).drop("epoch", "batch", "pb"),
              batchSh, 800000L)
          }
          spark.conf.unset("graft.growing.probeIoDiagnostics")
        }
      }
      // Session-start recovery headroom: a label snapshot over ×m nodes
      // plus an ×m pair-store WAL, with a FIXED uncovered tail batch.
      // The covered-listing path (the sinks' shape) folds ONLY the tail
      // on top of the snapshot — its wall carries the O(labels) snapshot
      // read but no per-pair history term; the no-listing control (an
      // old manifest / post-compaction shape) re-folds the ENTIRE WAL,
      // linear in m. Run with SPARK_GRAFT_SMOKE_OPS=
      // recovery_tail,recovery_fullscan.
      locally {
        val wantTail = onlyOps.forall(_.contains("recovery_tail"))
        val wantRFull = onlyOps.forall(_.contains("recovery_fullscan"))
        if (wantTail || wantRFull) {
          import graft.streaming.BatchStore
          val ids = Tables.documents(spark, sfDir).select(col("doc_id"))
          // pairs (2k, 2k+1) so the labeling "component = even endpoint"
          // is EXACTLY the pairs' own fold: the control's re-fold then
          // measures the honest already-contracted no-op per pair, not
          // artificial contraction work
          def pairSlice(i: Int): DataFrame =
            ids.select((col("doc_id") * 2 + lit(i * 20000000L)).as("doc_a"))
              .select(col("doc_a"), (col("doc_a") + 1).as("doc_b"),
                lit(900000L).as("jacc_x1e6"))
          def seeded(tag: String, withCovered: Boolean): graft.streaming.GrowingDedupState = {
            val st = graft.streaming.GrowingDedupState(java.nio.file.Files
              .createTempDirectory(s"smoke_recovery_$tag").toString,
              epoch = "live")
            (0 until m).foreach(i =>
              BatchStore.append(pairSlice(i), st.pairDir, "hist", i.toLong))
            val hist = spark.read.parquet(st.pairDir)
            val labels = hist.select(col("doc_a").as("node"),
                col("doc_a").as("component"))
              .unionByName(hist.select(col("doc_b").as("node"),
                col("doc_a").as("component")))
            BatchStore.publishSnapshot(labels, st.labelDir, "hist", 0L,
              covered = if (withCovered) st.pairPartitions(spark) else Nil)
            // the fixed uncovered tail: one small batch of fresh pairs
            BatchStore.append(pairSlice(0).limit(1000)
              .select((col("doc_a") + 777000000L).as("doc_a"),
                (col("doc_b") + 777000000L).as("doc_b"), col("jacc_x1e6")),
              st.pairDir, "tail", 0L)
            st
          }
          // exactly the sinks' session-start reconstruction
          def recover(st: graft.streaming.GrowingDedupState): Long = {
            val stored = st.unfoldedPairs(spark)
              .map(_.select(col("doc_a").as("a"), col("doc_b").as("b")))
            val recovered = (st.labels(spark), stored) match {
              case (Some(lab), Some(p)) =>
                Some(graph.Fixpoint.incrementalComponents(lab, p))
              case (None, Some(p)) =>
                Some(graph.Fixpoint.connectedComponents(p))
              case (lab, None) => lab
            }
            recovered.map(graft.Lineage.pinned(_, eager = true))
              .map(_.count()).getOrElse(0L)
          }
          // the contract is the WAL IO: the tail leg's selected pair
          // partitions stay FIXED (the uncovered tail) while the
          // control selects the whole store — layout-derived numbers,
          // same accounting as the probe IO curve above
          def timedRec(name: String, st: graft.streaming.GrowingDedupState): Unit = {
            ran += 1
            val f = new org.apache.hadoop.fs.Path(st.pairDir)
              .getFileSystem(spark.sessionState.newHadoopConf())
            def du(dir: String): (Long, Long) = {
              val s = f.getContentSummary(new org.apache.hadoop.fs.Path(dir))
              (s.getFileCount, s.getLength)
            }
            val covered = BatchStore.snapshotCovered(spark, st.labelDir).toSet
            val (selF, selB) = st.pairPartitions(spark)
              .filterNot(covered).map(rel => du(s"${st.pairDir}/$rel"))
              .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
            val (stoF, stoB) = du(st.pairDir)
            val t0 = System.nanoTime()
            val rows = recover(st)
            val s = (System.nanoTime() - t0) / 1e9
            println(f"""{"op":"$name","mult":$m,"rows":$rows,"sec":$s%.2f,"wal_sel_files":$selF,"wal_sel_bytes":$selB,"wal_store_files":$stoF,"wal_store_bytes":$stoB}""")
            DriverHygiene.releasePersisted(spark)
          }
          if (wantTail) timedRec("recovery_tail", seeded("tail", withCovered = true))
          if (wantRFull) timedRec("recovery_fullscan", seeded("full", withCovered = false))
        }
      }
      // Adversarial hot-bucket pair (r13 verdict item 3): 90% of the
      // HISTORY is byte-identical boilerplate, so one band-bucket set
      // holds 0.9×|hist| docs; the fixed ~17-doc batch carries ~15
      // boilerplate probes. Uncapped, the candidate set is
      // |hot probes| × 0.9×|hist| — the quadratic-shaped cliff; capped
      // at 1000, the hot buckets are anti-joined away BEFORE the probe
      // join and the wall must stay flat as history grows.
      val mkHot = (df: DataFrame) => df.withColumn("text",
        when(col("doc_id") % 10 =!= 0,
          lit("standard license header boilerplate text common to all"))
          .otherwise(col("text")))
      val hotHist = mkHot(docs.filter(col("doc_id") % 299 =!= 0))
      val hotBatch = mkHot(Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 299 === 0))
      time("incr_minhash_hot_uncapped", m) {
        dedup.Dedup.incrementalMinhash(
          dedup.Dedup.shingleTable(hotHist, "doc_id", "text"),
          dedup.Dedup.shingleTable(hotBatch, "doc_id", "text"),
          800000L).count()
      }
      time("incr_minhash_hot_capped", m) {
        dedup.Dedup.incrementalMinhash(
          dedup.Dedup.shingleTable(hotHist, "doc_id", "text"),
          dedup.Dedup.shingleTable(hotBatch, "doc_id", "text"),
          800000L, maxBucketOccupancy = 1000L).count()
      }
      time("minhash_lsh", m) {
        dedup.Dedup.minhashLsh(
          dedup.Dedup.shingleTable(docs, "doc_id", "text"), 800000L).count()
      }
      time("cosine_neardup", m) {
        dedup.Dedup.cosineNearDup(similarity.Similarity.quantized(embs), 350000L).count()
      }
      time("ann_multiprobe", m) {
        val q = similarity.Similarity.quantized(embs)
        similarity.Similarity.lshTopKMultiProbe(q.filter(col("vec_id") < 10), q, 3).count()
      }
      time("cosine_neardup_lsh", m) {
        dedup.Dedup.cosineNearDupBucketed(
          similarity.Similarity.quantized(embs), 350000L).count()
      }
      time("simhash_hamming2", m) {
        dedup.Dedup.simhashPairsWithin(docs, "doc_id", "text", 2).count()
      }
      time("ann_ivf", m) {
        val q = similarity.Similarity.quantized(embs)
        similarity.Similarity.ivfTopK(q.filter(col("vec_id") < 10), q, 3).count()
      }
      time("repetition", m) {
        text.TextFunctions.repetitionMetrics(docs, "doc_id", "text").count()
      }
      time("tfidf_top3", m) {
        text.TextFunctions.tfidfTopK(docs, "doc_id", "text", 3).count()
      }
      time("containment", m) {
        dedup.Dedup.minhashContainment(
          dedup.Dedup.shingleTable(docs, "doc_id", "text"), 850000L).count()
      }
      time("decontaminate", m) {
        // eval side stays benchmark-sized (the un-multiplied 10% slice)
        dedup.Dedup.decontaminate(
          docs.filter(col("doc_id") % 10 =!= 0),
          Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 0),
          "doc_id", "text").count()
      }
      time("kmeans_2iter", m) {
        similarity.Similarity.kmeansAssign(
          similarity.Similarity.quantized(embs), 16, 2).count()
      }
      time("gram_census", m) {
        text.TextFunctions.gramCensus(docs, "doc_id", "text", 20).count()
      }
      time("knn_join", m) {
        val q = similarity.Similarity.quantized(embs)
          .join(embs.select(col("vec_id").cast("long").as("vec_id"),
            col("label").cast("long").as("label")), Seq("vec_id"))
        similarity.Similarity.knnJoin(q, "label", 2).count()
      }
      time("asof_join", m) {
        val ev = multiply(Tables.events(spark, sfDir), "event_id", m)
        val l = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val r = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"),
            col("event_id").as("click_id"), col("ts").as("click_ts"))
        operators.Temporal.asofJoin(l, r, Seq("user_id"), "ts", "ts",
          Seq("click_id", "click_ts")).count()
      }
      time("range_join", m) {
        val ev = multiply(Tables.events(spark, sfDir), "event_id", m)
          .select(col("event_id"),
            floor(unix_timestamp(col("ts"))).cast("long").as("es"))
        val win = ev.filter(col("event_id") % 200 === 0)
          .select(col("event_id").as("window_id"), col("es").as("ws"),
            (col("es") + 2700L).as("we"))
        operators.Temporal.rangeJoinBucketed(ev, "es", win, "ws", "we", 1800L)
          .count()
      }
      time("cap_per_group", m) {
        text.Sampling.capPerGroup(docs, "doc_id", col("source"), 40).count()
      }
      time("percentiles", m) {
        text.TextFunctions.groupPercentilesDisc(docs, "lang", "n_chars",
          Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)).count()
      }
      time("pagerank_3it", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
        val edges = cust.select(col("c_custkey").as("src"),
            (col("c_nationkey").cast("long") + 100000000000L).as("dst"))
          .unionByName(Tables.nation(spark, sfDir).select(
            (col("n_nationkey").cast("long") + 100000000000L).as("src"),
            (col("n_regionkey").cast("long") + 200000000000L).as("dst")))
        graph.Centrality.pagerank(edges, 3).count()
      }
      time("pii_scrub", m) {
        docs.select(col("doc_id") +:
            text.TextFunctions.scrubPii(col("text")).as("s") +:
            text.TextFunctions.piiCounts(col("text")): _*)
          .agg(sum(col("n_email"))).count()
      }
      time("line_dedup", m) {
        val toks = split(col("text"), " ")
        val lined = docs.select(col("doc_id"),
          concat_ws("\n", concat(
            array(lit("subscribe to our newsletter today")),
            transform(sequence(lit(0), size(toks) - 1, lit(6)),
              s => concat_ws(" ", slice(toks, s + 1, lit(6)))),
            array(lit("all rights reserved worldwide")))).as("text"))
        text.TextFunctions.lineDedup(lined, "doc_id", "text", "\n", 100L)
          .count()
      }
      time("triangles", m) {
        val li = multiply(Tables.lineitem(spark, sfDir), "l_orderkey", m)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        val edges = li.as("x").join(li.as("y"),
            col("x.o") === col("y.o") && col("x.p") < col("y.p"))
          .select(col("x.p").as("src"), col("y.p").as("dst"))
        graph.Centrality.triangleCount(edges).count()
      }
      time("scd2", m) {
        // multiply the KEY space so interval state grows linearly
        val ev = multiply(Tables.events(spark, sfDir), "user_id", m)
        operators.Temporal.scd2(ev.select(col("user_id"), col("ts"), col("event_type")),
          Seq("user_id"), "ts", Seq("event_type")).count()
      }
      time("bloom_join", m) {
        val orders = multiply(Tables.orders(spark, sfDir), "o_orderkey", m)
          .select(col("o_orderkey"), col("o_custkey"))
        val vip = Tables.customer(spark, sfDir)
          .filter(col("c_acctbal") > 9000.0)
          .select(col("c_custkey"), col("c_name"))
        operators.BloomJoin.prefilteredJoin(orders, "o_custkey", vip,
          "c_custkey", 1000000L).count()
      }
      time("weighted_topk", m) {
        text.Sampling.weightedTopK(
          docs.select(col("doc_id"), col("n_chars").cast("long").as("n_chars")),
          "doc_id", col("n_chars"), 200).count()
      }
      time("ivfpq_topk", m) {
        val q = similarity.Similarity.quantized(embs)
        similarity.Similarity.ivfPqTopK(q.filter(col("vec_id") < 10), q,
          k = 3, rerank = 8).count()
      }
      time("seq_pack", m) {
        val chunks = text.TextFunctions.chunkTokens(docs, "doc_id", "text", 32, 32)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        text.TextFunctions.packSequences(chunks, "lang",
          Seq("doc_id", "chunk_idx"), "n_chunk_tokens", 512L).count()
      }
      time("phash_pairs", m) {
        multimodal.Multimodal.phashPairs(docs, "doc_id", "text", 3).count()
      }
      time("allpairs_prefix", m) {
        dedup.Dedup.allPairsJaccard(
          dedup.Dedup.shingleTable(docs, "doc_id", "text"), 800000L).count()
      }
      time("heavy_hitters", m) {
        val ev = multiply(Tables.events(spark, sfDir), "event_id", m)
        text.Sketches.heavyHitters(
          ev.select(col("event_id").bitwiseAND(expr("-event_id")).as("lb")),
          "lb", 6).count()
      }
      time("rectangles", m) {
        // div2 tree + div4 shortcuts: (k, k div 2) pairs share k's children
        // as common neighbors, so the census has real 4-cycles to count
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
        val e = cust.filter(col("k") % 10000000L >= 2L)
          .select(expr("k div 2").as("src"), col("k").as("dst"))
          .unionByName(cust.filter(col("k") % 10000000L >= 4L)
            .select(expr("k div 4").as("src"), col("k").as("dst")))
        graph.Centrality.rectangleCensus(e).count()
      }
      time("block_diff", m) {
        // bucket count scales with the key space (the anti-entropy sizing
        // rule: fixed rows per bucket, not fixed buckets) so pruning skips
        // the same fraction at every multiplier
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"), col("c_name"),
            (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("bal"))
        val b = cust.filter(col("k") % 101 =!= 0)
          .select(col("k"), col("c_name"),
            (col("bal") + when(col("k") % 97 === 0, 100L).otherwise(0L)).as("bal"))
        drift.Drift.blockDiff(cust, b, "k", Seq("c_name", "bal"), 256 * m).count()
      }
      time("scan_clusters", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
        val tree = cust.filter(col("k") % 10000000L >= 8L)
          .select(expr("k div 8").as("src"), col("k").as("dst"))
        val tri = cust.filter(col("k") % 50 === 0)
          .select(explode(array(
            struct(col("k").as("src"), (col("k") + 1).as("dst")),
            struct((col("k") + 1).as("src"), (col("k") + 2).as("dst")),
            struct(col("k").as("src"), (col("k") + 2).as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        graph.Fixpoint.scanClusters(tree.unionByName(tri), 600L, 3).count()
      }
      time("path_counts", m) {
        // per-replica tree arithmetic: parent ids must stay inside the
        // replica's offset id space or only replica 0 stays connected
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
          .withColumn("r", expr("(k div 10000000) * 10000000"))
          .withColumn("b", col("k") % 10000000L)
        val e = cust.filter(col("b") >= 2L)
          .select((col("r") + expr("b div 2")).as("src"), col("k").as("dst"))
          .unionByName(cust.filter(col("b") >= 4L)
            .select((col("r") + expr("b div 4")).as("src"), col("k").as("dst")))
        val seeds = cust.filter(col("b") === 1L).select(col("k").as("node"))
        graph.Fixpoint.bfsPathCounts(e, seeds, 16).count()
      }
      time("cooccurrence_pmi", m) {
        text.TextFunctions.cooccurrencePmi(docs, "doc_id", "text", 5, 50L, 30)
          .count()
      }
      time("incremental_agg", m) {
        val o = multiply(Tables.orders(spark, sfDir), "o_orderkey", m)
          .select(col("o_custkey").cast("long").as("cust"),
            (col("o_totalprice").cast("decimal(18,4)") * 100).cast("long").as("v"),
            col("o_orderkey").as("k"))
        val snap = operators.Changelog.aggregate(
          o.filter(col("k") % 10 =!= 0).select(col("cust"), col("v")),
          Seq("cust"), Seq("v"))
        val delta = o.filter(col("k") % 10 === 0)
          .select(col("cust"), col("v"), lit(1L).as("mult"))
        operators.Changelog.maintainAgg(snap, delta, Seq("cust"), "mult",
          Seq("v")).count()
      }
      time("block_diff_sparse", m) {
        // ~100 changed rows regardless of scale: diverged buckets ≈
        // changed-row count, so the row-level phase rescans a shrinking
        // fraction — the case Merkle pruning exists for (the dense smoke
        // above is the no-pruning worst case: changes ≫ buckets)
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"), col("c_name"),
            (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("bal"))
        val b = cust.select(col("k"), col("c_name"),
          (col("bal") + when(col("k") % (15013L * m) === 0L, 100L)
            .otherwise(0L)).as("bal"))
        drift.Drift.blockDiff(cust, b, "k", Seq("c_name", "bal"), 256 * m).count()
      }
      time("sessionize", m) {
        val ev = multiply(Tables.events(spark, sfDir), "user_id", m)
        operators.Temporal.sessionizeGaps(ev, Seq("user_id"), "ts",
          Seq("event_id"), 1800L * 1000000L).count()
      }
      time("zorder_values", m) {
        val p = multiply(Tables.part(spark, sfDir), "p_partkey", m)
        p.select(graph.Layout.zValue(col("p_size").cast("long"),
            (col("p_partkey") % 65536L).cast("long")).as("z"))
          .agg(max(col("z"))).count()
      }
      time("repeated_spans", m) {
        text.TextFunctions.repeatedSpans(docs, "doc_id", "text", 4, 2L).count()
      }
      time("lm_score", m) {
        text.TextFunctions.lmScore(docs, "doc_id", "text").count()
      }
      time("bpe_train6", m) {
        text.TextFunctions.bpeTrain(docs, "doc_id", "text", 6).count()
      }
      time("span_removal", m) {
        text.TextFunctions.removeRepeatedSpans(docs, "doc_id", "text", 4, 2L)
          .agg(sum(col("n_removed"))).count()
      }
      time("bpe_encode6", m) {
        text.TextFunctions.bpeEncode(docs, "doc_id", "text", 6)
          .agg(sum(col("n_subwords"))).count()
      }
      time("url_canonical", m) {
        docs.select(text.TextFunctions.canonicalUrl(
            concat(lit("https://Site"), (col("doc_id") % 97).cast("string"),
              lit(".Example.com/p/"), col("doc_id").cast("string"),
              lit("?utm_source=feed&page=2#f"))).as("c"))
          .groupBy(col("c")).count().count()
      }
      time("pagerank_dangling_3it", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
        val edges = cust.select(col("c_custkey").as("src"),
            (col("c_nationkey").cast("long") + 100000000000L).as("dst"))
          .unionByName(Tables.nation(spark, sfDir).select(
            (col("n_nationkey").cast("long") + 100000000000L).as("src"),
            (col("n_regionkey").cast("long") + 200000000000L).as("dst")))
        graph.Centrality.pagerank(edges, 3, redistributeDangling = true).count()
      }
      time("cleanup_cascade", m) {
        val o = multiply(Tables.orders(spark, sfDir), "o_orderkey", m)
        val orders1 = o.select(col("o_orderkey").as("id"),
          col("o_custkey").cast("long").as("cust"))
        val items1 = multiply(Tables.lineitem(spark, sfDir), "l_orderkey", m)
          .select((col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"),
            col("l_orderkey").as("parent"))
        val g0 = graph.Graph()
          .withNodes("Order", graph.GraphStore.upsertNodes(
            graph.GraphStore.initialLoad(orders1, Seq("id"), 1L),
            orders1.filter(col("id") % 3 =!= 0), 2L))
          .withNodes("Item", graph.GraphStore.upsertNodes(
            graph.GraphStore.initialLoad(items1.drop("parent"), Seq("id"), 1L),
            items1.filter(col("parent") % 3 =!= 0).drop("parent"), 2L))
          .withEdges(("Order", "CONTAINS", "Item"), graph.GraphStore.initialLoad(
            items1.select(col("parent").as("src_id"), col("id").as("dst_id")),
            Seq("src_id", "dst_id"), 1L))
        val g = graph.GraphStore.cleanupWithCascade(g0, "Order",
          Seq(("Order", "CONTAINS", "Item")), 2L, scope = col("cust") % 2 === 0)
        g.nodeTable("Item").count() + g.edgeTable("Order", "CONTAINS", "Item").count()
      }
      time("ppr_3it", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
        val edges = cust.select(col("c_custkey").as("src"),
          (col("c_nationkey").cast("long") + 100000000000L).as("dst"))
        val seeds = cust.filter(col("c_custkey") % 50 === 0)
          .select(col("c_custkey").as("node"))
        graph.Centrality.pagerankPersonalized(edges, seeds, 3).count()
      }
      time("quality_filter", m) {
        text.TextFunctions.qualityFilter(docs, "doc_id", "text",
          Seq("the", "a", "data", "row")).filter(col("keep")).count()
      }
      time("representatives", m) {
        dedup.Dedup.representatives(docs, "doc_id", "text", 800000L)
          .filter(col("keep")).count()
      }
      time("hist_quantiles", m) {
        val li = multiply(Tables.lineitem(spark, sfDir), "l_orderkey", m)
          .select(col("l_returnflag").as("g"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("v"))
        text.Sketches.histQuantiles(text.Sketches.histBuckets(li, "g", "v"),
          Seq(500, 900, 990, 999)).count()
      }
      time("kcore2", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
        // per-copy octal trees + a triangle every 50 nodes (the gate graph,
        // multiplied): cascade depth stays constant, edge volume scales
        val tree = cust.filter(col("k") % 10000000L >= 8)
          .select(expr("CAST(k - k % 10000000 + (k % 10000000) div 8 AS BIGINT)").as("src"),
            col("k").as("dst"))
        val tri = cust.filter(col("k") % 50 === 0)
          .select(explode(array(
            struct(col("k").as("src"), (col("k") + 1).as("dst")),
            struct((col("k") + 1).as("src"), (col("k") + 2).as("dst")),
            struct(col("k").as("src"), (col("k") + 2).as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        graph.Centrality.kCore(tree.unionByName(tri), 2L).count()
      }
      time("nearest_seed4", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
        val tree = cust.filter(col("k") % 10000000L >= 8)
          .select(expr("CAST(k - k % 10000000 + (k % 10000000) div 8 AS BIGINT)").as("src"),
            col("k").as("dst"))
        val und = tree.unionByName(
          tree.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = cust.filter(col("k") % 1000 === 0)
          .select(col("k").as("node"), col("k").as("label"))
        graph.Fixpoint.nearestSeed(und, seeds, 4).count()
      }
      time("neighbor_agg2", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"),
            (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("f"))
        val tree = cust.filter(col("k") % 10000000L >= 8)
          .select(expr("CAST(k - k % 10000000 + (k % 10000000) div 8 AS BIGINT)").as("src"),
            col("k").as("dst"))
        val feats = cust.select(col("k").as("node"), col("f"))
        val l1 = graph.Centrality.neighborAgg(tree, feats, "f")
        graph.Centrality.neighborAgg(tree,
          l1.select(col("node"), col("mean_f")), "mean_f").count()
      }
      time("sssp", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
        // m independent trees, one per id-offset copy, solved in one
        // multi-seed run: src = same-copy parent (child div 2 within copy)
        val e1 = cust.filter(col("c_custkey") % 10000000L >= 2).select(
          expr("CAST(c_custkey - c_custkey % 10000000 + (c_custkey % 10000000) div 2 AS BIGINT)").as("src"),
          col("c_custkey").cast("long").as("dst"),
          (col("c_custkey") % 7 + 1).cast("long").as("w"))
        val seeds = cust.filter(col("c_custkey") % 10000000L === 1)
          .select(col("c_custkey").cast("long").as("node"))
        graph.Fixpoint.sssp(e1, seeds, maxRounds = 40).count()
      }
      time("cdc_apply", m) {
        val ords = multiply(Tables.orders(spark, sfDir), "o_orderkey", m)
        val li = multiply(Tables.lineitem(spark, sfDir), "l_orderkey", m)
        val base = ords.filter(col("o_orderkey") % 5 =!= 0)
          .select(col("o_orderkey").as("order_id"),
            (col("o_totalprice").cast("decimal(18,4)") * 10000).cast("long")
              .as("price_x1e4"))
        val changes = li
          .groupBy(col("l_orderkey").as("order_id"),
            col("l_linenumber").cast("long").as("version"))
          .agg(max((col("l_extendedprice").cast("decimal(18,4)") * 10000)
            .cast("long")).as("price_x1e4"))
          .withColumn("op",
            when(col("version") % 3 === 0, lit("D")).otherwise(lit("U")))
        operators.Changelog.apply(base, changes, Seq("order_id"),
          "version", "op", Seq("price_x1e4")).count()
      }
      time("permission_sync", m) {
        // principals multiply; the statement/mask space is fixed, so the
        // decision table stays K rows and only the expansion join scales
        val sup = multiply(Tables.supplier(spark, sfDir), "s_suppkey", m)
        val principals = sup.select(col("s_suppkey").as("id"), col("s_name").as("name"))
        val resources = Tables.part(spark, sfDir)
          .select(col("p_partkey").as("id"),
            concat(lit("arn:part:"), col("p_brand"), lit(":"), col("p_type"),
              lit(":"), col("p_partkey")).as("arn"))
        permissions.Permissions.evaluate(principals, resources, Seq(
          permissions.Permissions.PolicyStatement("s1", "Allow", "Supplier#*1", "arn:part:*"),
          permissions.Permissions.PolicyStatement("s2", "Allow", "Supplier#*2", "*:PROMO*"),
          permissions.Permissions.PolicyStatement("d1", "Deny", "*", "*:ECONOMY*"))).count()
      }
      time("intervals_coalesce", m) {
        // multiply the KEY space (like scd2): per-key interval counts are
        // the window-sort unit, so state per key stays constant and
        // volume scales linearly
        val ev = multiply(Tables.events(spark, sfDir), "user_id", m)
          .select(col("user_id"), col("event_id"),
            floor(unix_timestamp(col("ts"))).cast("long").as("s"))
          .withColumn("e", col("s") + 1800L)
        operators.Temporal.coalesceIntervals(ev, Seq("user_id"), "s", "e",
          Seq("event_id")).count()
      }
      time("semantic_dedup", m) {
        dedup.Dedup.semanticDedup(
          similarity.Similarity.quantized(embs), 16, 350000L).count()
      }
      // per-copy octal trees + triangles (the shared gate-graph shape,
      // multiplied): structure per copy constant, volume scales
      def copyTree(idCol: String = "c_custkey"): DataFrame = {
        val cust = multiply(Tables.customer(spark, sfDir), idCol, m)
          .select(col(idCol).cast("long").as("k"))
        val tree = cust.filter(col("k") % 10000000L >= 8)
          .select(expr("CAST(k - k % 10000000 + (k % 10000000) div 8 AS BIGINT)").as("src"),
            col("k").as("dst"))
        val tri = cust.filter(col("k") % 50 === 0)
          .select(explode(array(
            struct(col("k").as("src"), (col("k") + 1).as("dst")),
            struct((col("k") + 1).as("src"), (col("k") + 2).as("dst")),
            struct(col("k").as("src"), (col("k") + 2).as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        tree.unionByName(tri)
      }
      time("wl_refine4", m) {
        graph.Fixpoint.wlRefine(copyTree(), 4).count()
      }
      time("mis", m) {
        graph.Fixpoint.maximalIndependentSet(copyTree()).count()
      }
      time("matching", m) {
        graph.Fixpoint.maximalMatching(copyTree()).count()
      }
      time("mst_forest", m) {
        // unique-ish weights from the child id; ties broken by (w, a, b)
        val weighted = copyTree().withColumn("weight",
          (col("dst") % 97) * 1048576L + col("dst") % 10000000L)
        graph.Fixpoint.minimumSpanningForest(weighted).count()
      }
      time("densest", m) {
        // per-copy planted cliques on every 100th node
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
        val ck = cust.filter(col("k") % 100 === 0)
        val clique = ck.select(col("k").as("src"))
          .join(ck.select(col("k").as("dst")),
            col("src") < col("dst") &&
              expr("src div 10000000") === expr("dst div 10000000"))
        graph.Centrality.densestSubgraph(copyTree().unionByName(clique)).count()
      }
      time("basket_rules", m) {
        val li = multiply(Tables.lineitem(spark, sfDir), "l_orderkey", m)
          .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("p_brand"))
        operators.Analytics.associationRules(li, col("l_orderkey"),
          col("p_brand"), minSupport = 20L * m).count()
      }
      time("attribution", m) {
        val ev = multiply(Tables.events(spark, sfDir), "user_id", m)
        val conv = ev.filter(col("event_type") === "purchase")
        val touch = ev.filter(col("event_type").isin("click", "view", "signup"))
        val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
        operators.Analytics.linearAttribution(
          conv, col("user_id"), col("event_id"), cents, unix_micros(col("ts")),
          touch, col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")), 86400L * 1000000L).count()
      }
      time("ks_stat", m) {
        val ev = multiply(Tables.events(spark, sfDir), "event_id", m)
          .filter(col("event_type").isin("purchase", "click"))
        operators.Analytics.ksStatistic(ev,
          (col("value").cast("decimal(18,2)") * 100).cast("long"),
          col("event_type") === "purchase").count()
      }
      time("anf6", m) {
        val t = copyTree()
        val sym = t.unionByName(t.select(col("dst").as("src"), col("src").as("dst")))
        graph.Centrality.neighborhoodFunction(sym, 6, 16).count()
      }
      time("coreness", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
        val offs = for (i <- 0 to 4; j <- (i + 1) to 4) yield (i, j)
        val clique = cust.filter(col("k") % 100 === 0)
          .select(explode(array(offs.map { case (i, j) =>
            struct((col("k") + i).as("src"), (col("k") + j).as("dst"))
          }: _*)).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        graph.Centrality.coreness(copyTree().unionByName(clique)).count()
      }
      time("random_walks8", m) {
        val t = copyTree()
        val sym = t.unionByName(t.select(col("dst").as("src"), col("src").as("dst")))
        val starts = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .filter(col("c_custkey") % 100 === 0)
          .select(col("c_custkey").cast("long").as("walk_id"),
            col("c_custkey").cast("long").as("node"))
        graph.Fixpoint.randomWalks(sym, starts, 8).count()
      }
      time("coloring", m) {
        graph.Fixpoint.greedyColoring(copyTree()).count()
      }
      time("cusum", m) {
        val ev = multiply(Tables.events(spark, sfDir), "user_id", m)
        operators.Analytics.cusumAlarm(ev, Seq("event_type"),
          Seq(col("ts"), col("event_id"), col("user_id")),
          (col("value").cast("decimal(18,2)") * 100).cast("long"), 5000L).count()
      }
      time("scc", m) {
        // per-copy rings-on-a-tree (the gate graph, multiplied): SCC
        // sizes and condensation depth stay constant, volume scales
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
        val n = cust.select((col("k") - col("k") % 10000000L).as("base"),
          (col("k") % 10000000L - 1).as("lk"))
        val ring = n.filter((expr("lk div 4") % 2 === 0) || (col("lk") % 4 < 3))
          .select((col("base") + col("lk")).as("src"),
            (col("base") + when(expr("lk div 4") % 2 === 0,
              expr("(lk div 4) * 4") + (col("lk") % 4 + 1) % 4)
              .otherwise(col("lk") + 1)).as("dst"))
        val tree = n.filter(col("lk") % 4 === 0 && col("lk") > 0)
          .select((col("base") + col("lk")).as("src"),
            (col("base") + expr("(lk div 256) * 4")).as("dst"))
        val mxb = n.agg(expr("(max(lk) div 4) * 4").as("fd"))
        val fuse = n.select(col("base")).distinct().crossJoin(broadcast(mxb))
          .select(col("base").as("src"), (col("base") + col("fd")).as("dst"))
        val nodes = n.select((col("base") + col("lk")).as("dst"))
        val edges = ring.unionByName(tree).unionByName(fuse)
          .join(nodes, Seq("dst"), "left_semi")
        graph.Fixpoint.stronglyConnectedComponents(edges).count()
      }
      // per-copy binary-ancestry trees (the betweenness/layering gate
      // graph, multiplied): structure per copy constant, volume scales
      def binTree(): DataFrame = {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
        cust.filter(col("k") % 10000000L >= 2)
          .select(expr("CAST(k - k % 10000000 + (k % 10000000) div 2 AS BIGINT)").as("src"),
            col("k").as("dst"))
          .unionByName(cust.filter(col("k") % 10000000L >= 4)
            .select(expr("CAST(k - k % 10000000 + (k % 10000000) div 4 AS BIGINT)").as("src"),
              col("k").as("dst")))
      }
      time("st_betweenness", m) {
        // s/t in copy 0; every BFS round still joins the FULL edge table
        graph.Paths.stBetweenness(binTree(), 1L, 1000L, 12).count()
      }
      time("topo_levels", m) {
        // the gate path (max-plus doubling): rounds constant (log depth),
        // closure volume scales as V·depth — linear in copies at fixed depth
        graph.Paths.topoLevelsLifted(binTree(), 25).count()
      }
      time("bipartite", m) {
        val li = multiply(Tables.lineitem(spark, sfDir), "l_orderkey", m)
        graph.Paths.bipartiteProject(
          li.select(col("l_orderkey").as("l"), col("l_partkey").cast("long").as("r")),
          "l", "r", 2L * m, 32).count()
      }
      time("chi2", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
        operators.Analytics.chiSquareCells(cust,
          col("c_mktsegment"), pmod(col("c_custkey"), lit(5)).cast("long")).count()
      }
      time("gini", m) {
        // group count fixed: per-group window rank is the documented
        // bottleneck shape (one sort partition per group)
        val ords = multiply(Tables.orders(spark, sfDir), "o_orderkey", m)
        operators.Analytics.giniByGroup(ords, col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long"), col("o_orderkey")).count()
      }
      time("kmv_setops", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
        val ords = multiply(Tables.orders(spark, sfDir), "o_custkey", m)
        text.Sketches.kmvSetOps(
          cust.select(col("c_custkey").as("v")),
          ords.select(col("o_custkey").as("v")), "v", 64).count()
      }
      time("cosine_postings", m) {
        // duplicated corpora inflate every shingle's df by m: the fixed
        // dfCap prunes the hot tail harder, bounding the postings join —
        // the prune IS the scale behavior being measured
        val sh = docs.select(col("doc_id"),
            text.TextFunctions.tokens(col("text")).as("a"))
          .select(col("doc_id"), explode(expr(
            """zip_with(zip_with(slice(a, 1, greatest(size(a) - 2, 0)),
              |  slice(a, 2, greatest(size(a) - 2, 0)), (x, y) -> concat(x, '_', y)),
              |  slice(a, 3, greatest(size(a) - 2, 0)),
              |  (xy, z) -> concat(xy, '_', z))""".stripMargin)).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        text.TextFunctions.cosinePostingsTopK(sh, 25L, 50).count()
      }
      time("vocab_growth", m) {
        val sh = docs.select(col("doc_id"),
            explode(text.TextFunctions.tokens(col("text"))).as("term"))
        text.TextFunctions.vocabGrowth(sh).count()
      }
      time("grid_nearest", m) {
        // the coordinate SPACE grows with m (4096·m per axis) so density
        // per 64-cell stays constant — the realistic spatial scale-up
        val span = 4096L * m
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").as("id"),
            expr(s"(c_custkey * 2654435761) % $span").as("x"),
            expr(s"(c_custkey * 972663749) % $span").as("y"))
        val sup = multiply(Tables.supplier(spark, sfDir), "s_suppkey", m)
          .select(col("s_suppkey").as("id"),
            expr(s"(s_suppkey * 1914874583) % $span").as("x"),
            expr(s"(s_suppkey * 517419103) % $span").as("y"))
        operators.Spatial.gridNearest(cust, sup, 64L, 64L).count()
      }
      time("subtree_agg", m) {
        // per-copy binary FOREST (div2 only: one parent per node)
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"),
            (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("v"))
        val tree = cust.filter(col("k") % 10000000L >= 2)
          .select(expr("CAST(k - k % 10000000 + (k % 10000000) div 2 AS BIGINT)").as("src"),
            col("k").as("dst"))
        // the gate path (binary lifting): ancestor closure is V·depth rows,
        // linear in copies at fixed depth; rounds stay log-depth constant
        graph.Paths.subtreeAggregateLifted(tree,
          cust.select(col("k").as("node"), col("v").as("value")), 30).count()
      }
      time("allen_census", m) {
        // interval count scales with m; before/after stay order-statistic
        // passes (distinct-endpoint axis), contact pairs scale with
        // per-bucket density — the bucketed-join knob
        val o = multiply(Tables.orders(spark, sfDir), "o_orderkey", m)
          .select(col("o_orderkey").cast("long").as("k"),
            datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
              .cast("long").as("d"))
        def iv(df: DataFrame) = df.select(col("d").as("s"),
          (col("d") + col("k") % 20 + 1).as("e"))
        operators.Temporal.allenCensus(
          iv(o.filter(col("k") % 40 === 1)), iv(o.filter(col("k") % 40 === 2)),
          bucketSeconds = 32L).count()
      }
      time("attribution_multi", m) {
        // touches x conversions per user is the volume; user count scales
        // with m so per-user candidate size stays constant
        val evm = (0 until m).map(i =>
            Tables.events(spark, sfDir)
              .withColumn("event_id", col("event_id") + lit(i * 10000000L))
              .withColumn("user_id", col("user_id") + lit(i * 10000000L)))
          .reduce(_ unionByName _)
        val touches = evm.filter(col("event_type").isin("click", "view", "signup"))
          .select(col("user_id"), col("event_id").as("touch_id"),
            col("event_type").as("channel"), expr("unix_micros(ts)").as("ts"))
        val conv = evm.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("conv_id"),
            expr("unix_micros(ts)").as("ts"),
            coalesce(floor(col("value") * 100).cast("long"), lit(0L))
              .as("value_cents"))
        operators.Attribution
          .multiTouch(touches, conv, 3L * 86400L * 1000000L).count()
      }
      time("mann_whitney", m) {
        val ev = multiply(Tables.events(spark, sfDir), "event_id", m)
        operators.Analytics.mannWhitneyU2(ev,
          floor(col("value") * 100).cast("long"),
          col("user_id") % 2 === 1).count()
      }
      time("burstiness", m) {
        val ev = multiply(Tables.events(spark, sfDir), "user_id", m)
        operators.Analytics.burstiness(ev, Seq("user_id"),
          expr("unix_micros(ts)"), Seq(col("event_id").asc)).count()
      }
      time("trimmed_mean", m) {
        val ev = multiply(Tables.events(spark, sfDir), "user_id", m)
        operators.Analytics.trimmedMean(ev, col("user_id"),
          floor(col("value") * 100).cast("long"), 100000L).count()
      }
      time("topk_drift", m) {
        val docs2 = multiply(Tables.documents(spark, sfDir), "doc_id", m)
        def words(par: Int) = docs2.filter(col("doc_id") % 2 === par)
          .select(explode(text.TextFunctions.tokens(col("text"))).as("w"))
        operators.Analytics.topKDrift(words(0), words(1), col("w"), 50).count()
      }
      time("modularity_conductance", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").as("k"))
        val edges = cust.filter(col("k") >= 8L)
          .select(expr("k div 8").as("src"), col("k").as("dst"))
        val asg = cust.select(col("k").as("node"),
          expr("k div 64").as("community"))
        graph.Centrality.modularity(edges, asg)
          .unionByName(graph.Centrality.conductance(edges, asg)
            .agg(count(lit(1)).as("n_communities"),
              max(col("volume")).as("m_edges"),
              max(col("cut_edges")).as("q_ppm")))
          .count()
      }
      time("rich_club", m) {
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").as("k"))
        val edges = cust.filter(col("k") >= 8L)
          .select(expr("k div 8").as("src"), col("k").as("dst"))
        graph.Centrality.richClub(edges, Seq(0L, 2L, 4L, 8L)).count()
      }
      time("rouge2", m) {
        val pairs = dedup.Dedup.minhashLsh(
            dedup.Dedup.shingleTable(docs, "doc_id", "text"), 800000L)
          .select(col("doc_a").as("cand_id"), col("doc_b").as("ref_id"))
        text.TextFunctions.rougeN(pairs, docs, "doc_id", "text", 2).count()
      }
      time("token_packing", m) {
        text.Sampling.tokenPack(docs, "doc_id", "text", 512L)
          .groupBy(col("bin")).agg(count(lit(1))).count()
      }
      time("shared_runs", m) {
        dedup.Dedup.sharedRuns(docs, "doc_id", "text",
          minRun = 4, dfCap = 64L).count()
      }
      time("exact_quantiles", m) {
        // data-sized order column through GlobalOrder's two-pass rank
        val li = multiply(Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey").cast("long").as("l_orderkey"),
            floor(col("l_extendedprice") * 100).cast("long").as("cents")),
          "l_orderkey", m)
        operators.Analytics.exactQuantiles(li, col("cents"),
          Seq(10000L, 500000L, 990000L)).count()
      }
      time("good_turing", m) {
        val docs = multiply(Tables.documents(spark, sfDir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text")),
          "doc_id", m)
        val terms = docs.select(col("doc_id"),
          explode(text.TextFunctions.tokens(col("text"))).as("term"))
        text.TextFunctions.goodTuring(terms, maxR = 1000000).count()
      }
      time("attribution_skew_raw", m) {
        // the documented worst case: ONE bot user with 10^4 touches and
        // 10^2 conversions in-window — the per-user touch x conversion
        // candidate volume (10^6 pairs from a single key) that the
        // scaladoc warns about, measured raw
        val bot = 424242424242L
        val botTouches = spark.range(10000L * m).select(
          lit(bot).as("user_id"), col("id").as("touch_id"),
          concat(lit("ch"), (col("id") % 5).cast("string")).as("channel"),
          (col("id") % 86400L).as("ts"))
        val botConvs = spark.range(100L).select(
          lit(bot).as("user_id"), (col("id") + 1000000L).as("conv_id"),
          (lit(86400L) + col("id")).as("ts"), lit(100L).as("value_cents"))
        val touches = Tables.events(spark, sfDir)
          .filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("event_id").as("touch_id"),
            col("event_type").as("channel"), expr("unix_micros(ts)").as("ts"))
          .unionByName(botTouches)
        val conv = Tables.events(spark, sfDir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("conv_id"),
            expr("unix_micros(ts)").as("ts"),
            coalesce(floor(col("value") * 100).cast("long"), lit(0L))
              .as("value_cents"))
          .unionByName(botConvs)
        operators.Attribution.multiTouch(touches, conv, 200000L).count()
      }
      time("attribution_skew_capped", m) {
        // same corpus through the documented guard: capPerGroup bounds
        // any user's touches to 200 BEFORE the join, so the bot's pair
        // volume collapses from 10^6·m to 2·10^4 and the curve should
        // go flat
        val bot = 424242424242L
        val botTouches = spark.range(10000L * m).select(
          lit(bot).as("user_id"), col("id").as("touch_id"),
          concat(lit("ch"), (col("id") % 5).cast("string")).as("channel"),
          (col("id") % 86400L).as("ts"))
        val botConvs = spark.range(100L).select(
          lit(bot).as("user_id"), (col("id") + 1000000L).as("conv_id"),
          (lit(86400L) + col("id")).as("ts"), lit(100L).as("value_cents"))
        val touches = Tables.events(spark, sfDir)
          .filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("event_id").as("touch_id"),
            col("event_type").as("channel"), expr("unix_micros(ts)").as("ts"))
          .unionByName(botTouches)
        val capped = text.Sampling.capPerGroup(touches, "touch_id",
          col("user_id"), 200)
        val conv = Tables.events(spark, sfDir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("conv_id"),
            expr("unix_micros(ts)").as("ts"),
            coalesce(floor(col("value") * 100).cast("long"), lit(0L))
              .as("value_cents"))
          .unionByName(botConvs)
        operators.Attribution.multiTouch(capped, conv, 200000L).count()
      }
      time("k4_census", m) {
        // per-copy 5-clique blocks: K4 volume linear in copies, oriented
        // out-degrees stay O(block size)
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
        val pairs = cust.as("a").join(cust.as("b"),
            expr("(a.k div 5) = (b.k div 5)") && col("a.k") < col("b.k"))
          .select(col("a.k").as("src"), col("b.k").as("dst"))
        graph.Centrality.cliqueCensusK4(pairs).count()
      }
      time("reciprocity", m) {
        val t = binTree()
        val back = t.filter(col("dst") % 3 === 0)
          .select(col("dst").as("src"), col("src").as("dst"))
        graph.Paths.reciprocity(t.unionByName(back)).count()
      }
      time("incremental_join", m) {
        val ords = multiply(Tables.orders(spark, sfDir), "o_orderkey", m)
          .select(col("o_custkey").as("custkey"), col("o_orderkey"),
            col("o_orderpriority"))
        val cust = Tables.customer(spark, sfDir)
          .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
        val aOld = ords.filter(col("o_orderkey") % 7 =!= 0)
        val dA = ords.filter(col("o_orderkey") % 7 === 0).withColumn("mult", lit(1L))
          .unionByName(ords.filter(col("o_orderkey") % 7 =!= 0 &&
            col("o_orderkey") % 5 === 0).withColumn("mult", lit(-1L)))
        val dB = cust.limit(0).withColumn("mult", lit(1L))
        val view = aOld.join(cust, Seq("custkey")).withColumn("mult", lit(1L))
        operators.Changelog.maintainJoin(view, aOld, cust, dA, dB,
          Seq("custkey")).count()
      }
      time("seasonal", m) {
        val ev = multiply(Tables.events(spark, sfDir), "event_id", m)
        operators.Analytics.seasonalDecompose(ev, col("event_type"),
          hour(col("ts")), floor(col("value") * 100).cast("long")).count()
      }
      time("mad_robust", m) {
        // group count fixed: the per-group median windows are the
        // documented single-partition-per-group bottleneck shape
        val ev = multiply(Tables.events(spark, sfDir), "event_id", m)
        operators.Analytics.madOutliers(ev, col("event_type"),
          floor(col("value") * 100).cast("long")).count()
      }
      time("benford", m) {
        val ords = multiply(Tables.orders(spark, sfDir), "o_orderkey", m)
        operators.Analytics.benfordDeviation(ords,
          floor(col("o_totalprice") * 100).cast("long")).count()
      }
      time("asof_within", m) {
        val ev = multiply(Tables.events(spark, sfDir), "user_id", m)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts")).as("cus"),
            col("event_id").as("click_id"))
        operators.Temporal.asofJoinWithin(p, c, Seq("user_id"),
          "tus", "cus", Seq("click_id"), 3600000000L).count()
      }
      time("ngram_novelty", m) {
        text.TextFunctions.ngramNovelty(docs.select(col("doc_id"),
          explode(text.TextFunctions.tokens(col("text"))).as("term"))).count()
      }
      time("matryoshka_recall32", m) {
        val full = similarity.Similarity.quantized(embs)
        val half = similarity.Similarity.truncated(full, 32)
        similarity.Similarity.bruteForceTopK(
          half.filter(col("vec_id") % 10000000L < 10), half, 3).count()
      }
      time("scd2_audit", m) {
        val ev = multiply(Tables.events(spark, sfDir), "user_id", m)
        val iv = ev.select(col("user_id"),
            expr("unix_micros(ts) div 1000000").as("s"), col("event_id"))
          .withColumn("e", when(col("event_id") % 97 === 0,
            lit(null).cast("long")).otherwise(col("s") + 1800L))
        operators.Temporal.scd2Audit(iv.select(col("user_id"), col("s"),
          col("e")), Seq("user_id"), "s", "e").count()
      }
      time("mixture_schedule", m) {
        text.Sampling.mixtureSchedule(docs.select(col("source").as("g"),
          col("doc_id").as("id"),
          (pmod(ascii(expr("right(source, 1)")), lit(3)) + 1).cast("long")
            .as("w"))).count()
      }
      time("did", m) {
        val ev = multiply(Tables.events(spark, sfDir), "event_id", m)
        operators.Analytics.diffInDiff(ev, col("user_id") % 2 === 1,
          hour(col("ts")) >= 12, floor(col("value") * 100).cast("long")).count()
      }
      time("rfm", m) {
        val ords = multiply(Tables.orders(spark, sfDir), "o_custkey", m)
        operators.Analytics.rfmSegments(ords, col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")),
          floor(col("o_totalprice") * 100).cast("long")).count()
      }
      time("temporal_reach", m) {
        val e = binTree().withColumn("t", (col("dst") * 37) % 100)
        val seeds = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .filter(col("c_custkey") % 10000000L === 1)
          .select(col("c_custkey").cast("long").as("node"))
        graph.Fixpoint.temporalReach(e, seeds, 40).count()
      }
      time("linear_classifier", m) {
        text.TextFunctions.linearClassifierScore(docs, "doc_id", "text",
          4096, 0L).count()
      }
      time("rpq", m) {
        // per-copy labeled trees; every copy's root seeds state 0
        val cust = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
        val labeled = cust.filter(col("k") % 10000000L >= 2)
          .select(expr("CAST(k - k % 10000000 + (k % 10000000) div 2 AS BIGINT)").as("src"),
            col("k").as("dst"), lit("half").as("label"))
          .unionByName(cust.filter(col("k") % 10000000L >= 4)
            .select(expr("CAST(k - k % 10000000 + (k % 10000000) div 4 AS BIGINT)").as("src"),
              col("k").as("dst"), lit("quarter").as("label")))
        val nfa = Seq((0L, "half", 0L), (0L, "quarter", 1L),
          (1L, "half", 1L), (1L, "quarter", 1L)).toDF("s_from", "label", "s_to")
        val seeds = cust.filter(col("k") % 10000000L === 1)
          .select(col("k").as("node"))
        graph.Fixpoint.regularPathQuery(labeled, nfa, seeds, 30).count()
      }
      time("trigram_search", m) {
        text.TextFunctions.trigramSearch(docs, "doc_id", "text", "merge hash")
          .count()
      }
      time("dim_drift", m) {
        similarity.Similarity.dimDrift(
          similarity.Similarity.quantized(embs.filter(pmod(col("label"), lit(2)) === 0)),
          similarity.Similarity.quantized(embs.filter(pmod(col("label"), lit(2)) === 1))).count()
      }
      time("robustness_sweep", m) {
        graph.Paths.robustnessSweep(binTree(), Seq(400000L, 700000L)).count()
      }
      time("bitemporal_read", m) {
        val o = multiply(Tables.orders(spark, sfDir), "o_orderkey", m)
          .select(col("o_orderkey"),
            expr("unix_micros(cast(o_orderdate as timestamp)) div 1000000").as("vs"),
            floor(col("o_totalprice") * 100).cast("long").as("p"))
        val v1 = o.select(col("o_orderkey"), col("vs").as("valid_from"),
          (col("vs") + 2592000L).as("valid_to"), col("vs").as("tx_from"),
          col("p").as("price_x100"))
        val v2 = o.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), col("vs").as("valid_from"),
            (col("vs") + 5184000L).as("valid_to"),
            (col("vs") + 864000L).as("tx_from"), (col("p") + 500L).as("price_x100"))
        operators.Temporal.bitemporalAsOf(v1.unionByName(v2), Seq("o_orderkey"),
          "tx_from", "valid_from", "valid_to",
          lit(801964800L), lit(801964800L)).count()
      }
      time("hll_windowed3", m) {
        val ev = multiply(Tables.events(spark, sfDir), "user_id", m)
        text.Sketches.hllWindowed(ev, "event_type", "user_id",
          expr("unix_micros(ts) div 3600000000"), 3).count()
      }
      time("widest_path", m) {
        val e = binTree().withColumn("cap", (col("dst") * 7) % 20 + 1)
        val seeds = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .filter(col("c_custkey") % 10000000L === 1)
          .select(col("c_custkey").cast("long").as("node"))
        graph.Fixpoint.widestPath(e, seeds, 1000000L, 40).count()
      }
      time("cohort_ltv", m) {
        val ev = multiply(Tables.events(spark, sfDir), "user_id", m)
        operators.Analytics.cohortLtv(ev, "user_id",
          expr("unix_micros(ts) div 604800000000"),
          floor(col("value") * 100).cast("long")).count()
      }
      time("importance_weights", m) {
        text.Sampling.importanceWeights(docs,
          docs.filter(col("doc_id") % 3 === 0), "lang").count()
      }
      time("patch_grid", m) {
        multimodal.Multimodal.patchPlan(docs, "doc_id", "n_chars", 32).count()
      }
      time("incremental_cc", m) {
        val base = binTree().filter(col("dst") % 5 =!= 0)
          .select(col("src").as("a"), col("dst").as("b"))
        val labels = graph.Fixpoint.connectedComponents(base)
        val newE = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
          .select(col("c_custkey").cast("long").as("k"))
          .filter(col("k") % 97 === 0 && col("k") > 0)
          .select(col("k").as("a"), (col("k") + 1).as("b"))
        graph.Fixpoint.incrementalComponents(labels, newE).count()
      }
      time("greedy_coverage5", m) {
        val sh = docs.select(col("doc_id"),
            text.TextFunctions.tokens(col("text")).as("a"))
          .select(col("doc_id"), explode(expr(
            """zip_with(zip_with(slice(a, 1, greatest(size(a) - 2, 0)),
              |  slice(a, 2, greatest(size(a) - 2, 0)), (x, y) -> concat(x, '_', y)),
              |  slice(a, 3, greatest(size(a) - 2, 0)),
              |  (xy, z) -> concat(xy, '_', z))""".stripMargin)).as("term"))
        text.TextFunctions.greedyCoverage(sh, 5).count()
      }
      // 90%-one-key global rank: the uniform equal-width path funnels the
      // hot key through one bucket's task; the census-prebinned skew path
      // splits it by tie ranges. The pair of curves is the evidence the
      // escape hatch earns its extra census pass.
      val li = multiply(Tables.lineitem(spark, sfDir), "l_orderkey", m)
      val skewed = li.select(
        when(col("l_orderkey") % 10 < 9, lit(7L))
          .otherwise(col("l_orderkey")).as("k"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      time("global_rank_skew_uniform", m) {
        operators.GlobalOrder.withRunningAggs(skewed, col("k"),
          Seq(col("id").asc), sums = Seq((col("cents"), "rc")),
          rankName = Some("rk")).count()
      }
      time("global_rank_skew_prebinned", m) {
        operators.GlobalOrder.withRunningAggsSkew(skewed, col("k"), col("id"),
          sums = Seq((col("cents"), "rc")), rankName = Some("rk")).count()
      }
      // the ADAPTIVE path on the same 90%-one-key data: census probe →
      // prebinned leg; the curve should track the prebinned one plus a
      // census-probe constant, never the uniform cliff
      time("global_rank_skew_auto", m) {
        operators.GlobalOrder.withRunningAggsAuto(skewed, col("k"), col("id"),
          sums = Seq((col("cents"), "rc")), rankName = Some("rk")).count()
      }
      // exact quantiles of a 90%-one-value measure: the census-collapse
      // rewrite makes the hot value ONE census row, so this curve tracks
      // |distinct values|, not the row count — the skew never reaches
      // the rank machinery at all
      time("quantiles_skewed_census", m) {
        operators.Analytics.exactQuantiles(skewed, col("k"),
          Seq(250000L, 500000L, 900000L, 990000L)).count()
      }
      // Reliable-checkpoint overhead curve: the same CC fixpoint under
      // local (zero fault tolerance), reliable-every-round, and
      // reliable-every-5 (bounded recovery, amortized durable writes) —
      // the cost the cluster story pays for surviving executor loss.
      val pairs = multiply(Tables.customer(spark, sfDir), "c_custkey", m)
        .select(col("c_custkey").cast("long").as("k"))
        .filter(col("k") >= 8L)
        .select(expr("k div 8").as("a"), col("k").as("b"))
      def ccUnder(mode: String, every: Option[Int]): Long = {
        if (mode == "reliable" && spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(
            java.nio.file.Files.createTempDirectory("graft-smoke-ckpt").toString)
        spark.conf.set("graft.lineage.mode", mode)
        every.foreach(n => spark.conf.set("graft.lineage.reliableEvery", n.toString))
        try graph.Fixpoint.connectedComponents(pairs).count()
        finally {
          spark.conf.set("graft.lineage.mode", "local")
          spark.conf.unset("graft.lineage.reliableEvery")
        }
      }
      time("cc_ckpt_local", m) { ccUnder("local", None) }
      time("cc_ckpt_reliable", m) { ccUnder("reliable", None) }
      time("cc_ckpt_reliable_e5", m) { ccUnder("reliable", Some(5)) }

      // Canonical-sync layer (round 14 third wave). packagesFromVersions
      // is one hash aggregation — group sizes grow ×m, wall must track
      // rows. source_nodes_hot is the adversarial shared-key case: EVERY
      // provider row carries the same email (one admin address across
      // all tools), so a window-based merge would put the whole corpus
      // in one partition on one task; the min-over-structs aggregation
      // combines map-side and must stay flat-to-linear.
      val pvRows = {
        val k = col("doc_id")
        docs.select(
          when(k % 3 =!= 2, concat(lit("pkg:"),
            when(k % 2 === 0, lit("pypi")).otherwise(lit("npm")), lit("/"),
            when(k % 2 === 1, lit("%40acme/")).otherwise(lit("")),
            lit("lib."), (k % 5000).cast("string"),
            lit("@1."), (k % 19).cast("string"), lit(".0"))).as("purl"),
          concat(lit("Lib."), (k % 5000).cast("string")).as("name"),
          when(k % 2 === 0, lit("pypi")).otherwise(lit("npm")).as("type"),
          concat(lit("1."), (k % 19).cast("string"), lit(".0")).as("version"))
      }
      time("packages_from_versions", m) {
        val keyed = pvRows.withColumn("normalized_id",
          ontology.Packages.normalizedPackageId(col("purl"), col("name"),
            col("version"), col("type")))
          .filter(col("normalized_id").isNotNull)
        ontology.Packages.packagesFromVersions(keyed).count()
      }
      val userMods = ontology.MappingCorpus.all("useraccounts")
      def userFrames(hot: Boolean): Map[String, DataFrame] = {
        val mailCol =
          if (hot) lit("admin@corp.ex")
          else concat(lit("u"), (col("doc_id") % 40000).cast("string"), lit("@corp.ex"))
        val base = docs.select(
          concat(lit("x"), col("doc_id").cast("string")).as("id"),
          mailCol.as("email"),
          col("text").substr(1, 24).as("display_name"),
          (col("doc_id") % 3 === 0).as("account_enabled"))
        // every OTHER label in the corpus gets an empty slice of the
        // same shape (sourceNodes requires a frame per selected label)
        val empty = base.filter(lit(false))
        userMods.flatMap(_.nodes).map(n => n.nodeLabel ->
          (if (n.nodeLabel == "EntraUser") base else empty)).toMap
      }
      time("source_nodes", m) {
        ontology.CanonicalSync.sourceNodes(userMods, userFrames(hot = false),
          "email").count()
      }
      time("source_nodes_hot", m) {
        ontology.CanonicalSync.sourceNodes(userMods, userFrames(hot = true),
          "email").count()
      }
    }
    if (ran == 0)
      System.err.println(
        s"[scalesmoke] WARNING: op filter ${onlyOps.getOrElse(Set())} matched no operators")
  }
}
