package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Lineage.CutOps
import graft.graph.{Centrality, Fixpoint}
import graft.streaming.Streaming

/** Streaming / incremental / recursive-path operator battery
  * (SURVEY §2.4 variable-length paths, §2.10 streaming analogs, §2.1
  * file-source reads).
  */
object StreamQueries {

  /** Variable-length path fixpoint: ancestor closure over the synthetic
    * halving hierarchy (node → node div 2), evaluated by path doubling —
    * O(log depth) joins. Oracle: recursive CTE. */
  def fixpointAncestors(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.customer(spark, dir)
      .filter(col("c_custkey") >= 1)
      .select(col("c_custkey").as("src"), expr("c_custkey div 2").as("dst"))
    Fixpoint.transitiveClosure(edges)
      .select(col("src").as("node"), col("dst").as("ancestor"))
  }

  /** Level-synchronous BFS over the parent→child customer tree from the
    * root: exact hop distances within 8 hops — the blast-radius /
    * k-hop-neighborhood query shape. */
  def graphBfsDistances(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.customer(spark, dir)
      .filter(col("c_custkey") >= 2)
      .select(expr("c_custkey div 2").as("src"), col("c_custkey").as("dst"))
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_custkey") === 1)
      .select(col("c_custkey").as("node"))
    Fixpoint.bfsDistances(edges, seeds, maxDepth = 8)
  }

  /** Bounded-depth reachability (the Cypher `*1..2` form): frontier
    * expansion, no closure materialization. */
  def fixpointReach2(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.customer(spark, dir)
      .filter(col("c_custkey") >= 1)
      .select(col("c_custkey").as("src"), expr("c_custkey div 2").as("dst"))
    Fixpoint.reachWithin(edges, 2)
      .select(col("src").as("node"), col("dst").as("ancestor"))
  }

  /** Integer PageRank over the customer→nation→region containment DAG
    * (3 damped rounds) — the link-centrality quality signal of web-corpus
    * curation, exact long arithmetic throughout. Oracle: the same
    * iterations unrolled as chained CTEs. */
  def centralityPagerank(spark: SparkSession, dir: String): DataFrame = {
    val custEdges = Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("src"),
      (col("c_nationkey").cast("long") + 1000000L).as("dst"))
    val natEdges = Tables.nation(spark, dir).select(
      (col("n_nationkey").cast("long") + 1000000L).as("src"),
      (col("n_regionkey").cast("long") + 2000000L).as("dst"))
    graft.graph.Centrality.pagerank(custEdges.unionByName(natEdges), iterations = 3)
  }

  /** Harmonic centrality over the UNDIRECTED div2 customer tree from
    * every-250th-key seeds, depth 5 — sampled-landmark centrality with
    * exact integer terms. */
  def graphHarmonic(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("k"))
    val tree = c.filter(col("k") >= 2L)
      .select(expr("k div 2").as("src"), col("k").as("dst"))
    val und = tree.unionByName(
      tree.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = c.filter(col("k") % 250 === 0).select(col("k").as("node"))
    graft.graph.Centrality.harmonicCentrality(und, seeds, maxDepth = 5)
  }

  /** Weighted PageRank over the same DAG with deterministic positive
    * weights (custkey%7+1, nationkey%3+1): rank splits by edge weight
    * instead of out-degree — exact longs, unrolled-CTE oracle. */
  def centralityPagerankWeighted(spark: SparkSession, dir: String): DataFrame = {
    val custEdges = Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("src"),
      (col("c_nationkey").cast("long") + 1000000L).as("dst"),
      (col("c_custkey") % 7 + 1).cast("long").as("w"))
    val natEdges = Tables.nation(spark, dir).select(
      (col("n_nationkey").cast("long") + 1000000L).as("src"),
      (col("n_regionkey").cast("long") + 2000000L).as("dst"),
      (col("n_nationkey") % 3 + 1).cast("long").as("w"))
    graft.graph.Centrality.pagerankWeighted(
      custEdges.unionByName(natEdges), iterations = 3)
  }

  /** PageRank with dangling-mass redistribution over the same DAG: the
    * region nodes are pure sinks, so without the per-round S div N share
    * the graph leaks ~their whole rank mass each iteration. The oracle
    * unrolls the share term exactly (floor integer division). */
  def centralityPagerankDangling(spark: SparkSession, dir: String): DataFrame = {
    val custEdges = Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("src"),
      (col("c_nationkey").cast("long") + 1000000L).as("dst"))
    val natEdges = Tables.nation(spark, dir).select(
      (col("n_nationkey").cast("long") + 1000000L).as("src"),
      (col("n_regionkey").cast("long") + 2000000L).as("dst"))
    graft.graph.Centrality.pagerank(custEdges.unionByName(natEdges),
      iterations = 3, redistributeDangling = true)
  }

  /** Personalized PageRank over the same containment DAG: teleport mass
    * pinned to every 50th customer — ranks measure proximity to that
    * seed cohort (their nations/regions accumulate rank, others stay 0). */
  def centralityPpr(spark: SparkSession, dir: String): DataFrame = {
    val custEdges = Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("src"),
      (col("c_nationkey").cast("long") + 1000000L).as("dst"))
    val natEdges = Tables.nation(spark, dir).select(
      (col("n_nationkey").cast("long") + 1000000L).as("src"),
      (col("n_regionkey").cast("long") + 2000000L).as("dst"))
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").cast("long").as("node"))
    graft.graph.Centrality.pagerankPersonalized(
      custEdges.unionByName(natEdges), seeds, iterations = 3)
  }

  /** Triangle counting over the part co-purchase graph (parts appearing
    * in the same order are linked) — the cohesion/link-farm signal of
    * webgraph curation ([[graft.graph.Centrality.triangleCount]]: one
    * oriented-adjacency intersect, O(E^1.5) worst-case, never Σdeg²). */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.graph.Centrality.coOccurrenceEdges(
      Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")
    graft.graph.Centrality.triangleCount(edges)
      .select(col("node").cast("long").as("node"), col("n_triangles"))
  }

  /** Per-edge triangle support over the co-purchase graph restricted to
    * every second part — the k-truss building block and edge-level
    * cohesion signal ([[graft.graph.Centrality.edgeSupport]]: one
    * oriented-adjacency intersect, edges with no triangles kept at
    * support 0). */
  def graphEdgeSupport(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.graph.Centrality.coOccurrenceEdges(
      Tables.lineitem(spark, dir).filter(col("l_partkey") % 2 === 0),
      "l_orderkey", "l_partkey")
    graft.graph.Centrality.edgeSupport(edges)
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"),
        col("support"))
  }

  /** Bounded 4-truss peel (2 rounds) over the co-purchase graph
    * restricted to every third part: drop edges with < 2 supporting
    * triangles, recompute support in the survivor subgraph, drop again —
    * the community-core extractor one notch stricter than k-core. The
    * oracle unrolls the identical two peel rounds as chained CTEs. */
  def graphKtruss(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.graph.Centrality.coOccurrenceEdges(
      Tables.lineitem(spark, dir).filter(col("l_partkey") % 3 === 0),
      "l_orderkey", "l_partkey")
    graft.graph.Centrality.ktruss(edges, k = 4, rounds = 2)
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"),
        col("support"))
  }

  /** True Structured Streaming run inside the gate: the events parquet is
    * replayed through readStream → watermark → 1h tumbling window → memory
    * sink in APPEND mode, synchronously drained. Append means a window row
    * is emitted exactly once, when the watermark passes its end, and its
    * state is evicted — bounded state, unlike complete mode which retains
    * and re-emits every window ever seen. A flush sentinel 10h past the
    * last real event (unioned in as a second file source) advances the
    * watermark past every real window's end so the final no-data
    * micro-batch emits the trailing windows; the sentinel's own window
    * never closes, so it is never emitted — no filter needed (a filter
    * would be pushed below the watermark operator and defeat the flush).
    * Results must equal the batch tumbling window (same oracle). */
  /** Runs `agg` over the events file-stream unioned with a far-future
    * flush sentinel (2100-01-01: advances the watermark past every real
    * window's end without scanning for max(ts); the sentinel's own
    * window never closes so it is never emitted), replayed to a memory
    * sink in append mode inside a state-sized scoped session. */
  // ConcurrentHashMap.computeIfAbsent: the side-effecting initializer
  // (temp dir + parquet write) runs at most ONCE per key — TrieMap's
  // getOrElseUpdate can evaluate it in two racing threads and leak one
  // dir. Dirs are deleted on JVM exit (they live for the JVM because
  // every memoized streaming plan holds the path literal).
  private val sentinelDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private lazy val sentinelCleanup: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      sentinelDirs.values().forEach { d =>
        try {
          val root = java.nio.file.Paths.get(d)
          java.nio.file.Files.walk(root)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      }))
  }

  private def withFlushedEvents(spark: SparkSession, dir: String,
      sinkName: String)(agg: DataFrame => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val rawSchema = spark.read.parquet(path).schema
    val sentinelInstant = java.time.Instant.parse("2100-01-01T00:00:00Z")
    // the ts field's runtime type follows the build's NANOS read behavior
    // (LONG ns under the legacy conf, TIMESTAMP_NTZ natively) — match it
    val sentinelTs: Any = rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        sentinelInstant.getEpochSecond * 1000000000L
      case org.apache.spark.sql.types.TimestampNTZType =>
        java.time.LocalDateTime.ofInstant(sentinelInstant, java.time.ZoneOffset.UTC)
      case _ => java.sql.Timestamp.from(sentinelInstant)
    }
    val sentinelVals = rawSchema.fields.map {
      case f if f.name == "ts" => sentinelTs
      case f if f.name == "event_type" => "_flush": Any
      case _ => null: Any
    }
    // memoized per (dir, schema): the sentinel file is byte-identical on
    // every invocation, and a FRESH temp dir per call used to put a new
    // path literal into every streaming plan — ~300 codegen fragments
    // recompiled per bench pass (and their C2 profiles reset) for plans
    // that differ only in a directory name
    sentinelCleanup
    val sentinelDir = sentinelDirs.computeIfAbsent((dir, rawSchema.toString), _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_flush").toString
      spark.createDataFrame(
          java.util.Collections.singletonList(org.apache.spark.sql.Row(sentinelVals: _*)),
          rawSchema)
        .coalesce(1).write.mode("overwrite").parquet(d)
      d
    })
    withStateSession(spark) { scoped =>
      // file-stream sources take a directory; glob down to the events file
      val eventsStream = scoped.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val flushStream = scoped.readStream.schema(rawSchema).parquet(sentinelDir)
      val stream = Tables.tsToMicros(eventsStream.union(flushStream))
      val q = agg(stream).writeStream
        .outputMode("append")
        .format("memory")
        .queryName(sinkName)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      scoped.table(sinkName)
    }
  }

  /** Streaming windowed top-k run live: per 1-hour tumbling window, the
    * 3 most frequent event types, emitted once on window close through
    * [[Streaming.windowedTopK]]'s Misra–Gries-capped
    * flatMapGroupsWithState (capacity 64 ≥ the event-type domain, so
    * the counts are exact and the oracle is the batch window/rank). */
  def streamWindowedTopK(spark: SparkSession, dir: String): DataFrame =
    withFlushedEvents(spark, dir, "stream_windowed_topk_sink") { stream =>
      val sp = stream.sparkSession
      import sp.implicits._
      // floor semantics via date_trunc — `div` truncates toward zero, so
      // a pre-1970 timestamp would land one window late vs the
      // date_trunc('hour') oracle
      val typed = stream.selectExpr(
          "unix_millis(date_trunc('hour', ts)) as winStart",
          "event_type as item", "ts as eventTime")
        .as[Streaming.WinItem]
      Streaming.windowedTopK(typed, windowMillis = 3600000L, k = 3,
          capacity = 64)
        .toDF()
        .select(expr("timestamp_millis(winStart)").as("window_start"),
          col("item").as("event_type"), col("n"), col("rnk"))
    }

  def streamWindowedAgg(spark: SparkSession, dir: String): DataFrame =
    withFlushedEvents(spark, dir, "stream_windowed_agg_sink") { stream =>
      Streaming.windowedEventCounts(stream, "ts", "1 hour", "2 hours")
    }.select(col("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window (1 h length, 20 min hop) watermarked aggregation run
    * as a live stream: every event lands in 3 overlapping windows, each
    * emitted exactly once on close — the trailing-rate monitoring read
    * next to the tumbling gate. */
  def streamSlidingWindow(spark: SparkSession, dir: String): DataFrame =
    withFlushedEvents(spark, dir, "stream_sliding_window_sink") { stream =>
      Streaming.slidingWindowCounts(stream, "ts", "1 hour", "20 minutes",
        "2 hours")
    }.select(col("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Run a streaming query on a cloned session whose state-store partition
    * count is sized to the state volume instead of the compute-shuffle
    * default. Each stateful partition pays a per-micro-batch commit (delta
    * file + fsync) regardless of row count, so oversized state partitioning
    * is pure fixed cost: measured at both sf0.001 and sf0.1, 32 partitions
    * spend ~6-7s/gate against ~3.5s at 8 and ~2s at 1-2 (tmpfs
    * checkpoints) — the data volume is irrelevant, the commits dominate;
    * gate-scale state fits one partition and the residual is streaming
    * query start/stop. At real scale the same sizing question applies
    * in reverse: pick partitions from state size (keys × bytes / executor
    * memory), not from the cluster's default parallelism. `newSession`
    * shares the SparkContext but isolates the conf, so a batch query
    * planned concurrently on the parent session never sees the reduced
    * partition count (the previous in-place set/restore was a footgun for
    * parallel gate runs). */
  private def withStateSession[A](spark: SparkSession, n: Int = 1)(body: SparkSession => A): A = {
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", n.toString)
    // AQE materializes EVERY exchange as its own query-stage job; at a
    // replay harness's n=1 shuffle partitions there is nothing for it to
    // coalesce or skew-split, so per micro-batch it is pure job-launch +
    // replan overhead (measured: stream_growing_components ran 165 jobs
    // for 4 micro-batches with AQE on, 80 with it off — same rows, same
    // oracle hash). Production sinks run on the caller's session with
    // real partition counts, where AQE stays on; this is the same
    // harness-level choice as the n=1 partitions above (guide §2.2/§7 —
    // fewer, larger units of scheduling when the work per unit is tiny).
    if (n == 1) scoped.conf.set("spark.sql.adaptive.enabled", "false")
    scoped.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Checkpoint on tmpfs when available: every stateful partition pays a
    // per-micro-batch commit (delta file + fsync) and the offset/commit
    // logs fsync once per batch — on a disk-backed temp dir that fixed
    // cost dominates these replay gates. A RAM-backed checkpoint is the
    // honest choice for a bounded replay harness (durability buys nothing
    // when the input is a re-readable file); production deployments point
    // this at durable storage and size partitions from state volume.
    val shm = new java.io.File("/dev/shm")
    val base = java.nio.file.Files.createTempDirectory(
      (if (shm.isDirectory && shm.canWrite) shm.toPath
       else new java.io.File(sys.props("java.io.tmpdir")).toPath),
      "graft_ckpt_").toFile
    scoped.conf.set("spark.sql.streaming.checkpointLocation", base.toString)
    try body(scoped)
    finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(base)
    }
  }

  /** Streaming exact dedup with bounded state: the events file is read as
    * TWO identical file-stream sources unioned together (every row a
    * duplicate), then `dropDuplicates` over (user_id, event_type, ts)
    * with a watermark so dedup state for keys older than the delay is
    * evicted instead of growing with every key ever seen. Output must
    * equal batch SELECT DISTINCT (same oracle). */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    withStateSession(spark) { scoped =>
      def src = scoped.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val stream = Tables.tsToMicros(src.union(src))
      val dd = Streaming.dedupByKey(stream, "ts", "2 hours", Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"), col("ts"))
      val q = dd.writeStream
        .outputMode("append")
        .format("memory")
        .queryName("stream_dedup_sink")
        .start()
      try q.processAllAvailable()
      finally q.stop()
      scoped.table("stream_dedup_sink")
    }
  }

  /** True stream-stream join inside the gate: purchases and clicks are
    * replayed as two watermarked file streams and inner-joined per user on
    * a 6-hour lookback (clicks at or before the purchase). The time-bound
    * condition + watermarks bound the join state (Streaming
    * .eventTimeLookbackJoin); matched rows emit in the micro-batch that
    * completes them — append mode, no flush sentinel needed for an inner
    * join. Oracle: the identical batch join. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    withStateSession(spark) { scoped =>
      def src = Tables.tsToMicros(scoped.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = Streaming.eventTimeLookbackJoin(purchases, clicks,
          "user_id", "c_user", "p_ts", "c_ts", "6 hours")
        .select(col("purchase_id"), col("user_id"), col("p_ts"),
          col("click_id"), col("c_ts"))
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName("stream_stream_join_sink")
        .start()
      try q.processAllAvailable()
      finally q.stop()
      scoped.table("stream_stream_join_sink")
    }
  }

  /** Incremental checkpoint feed (CVE-feed analog): only rows newer than
    * the persisted checkpoint (here: max ts of the first half-month),
    * with the new checkpoint emitted alongside. */
  def streamIncrementalFeed(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val checkpoint = ev.filter(col("ts") < lit("2024-01-16").cast("timestamp"))
      .agg(max(col("ts")).as("checkpoint"))
    Streaming.incrementalFeed(ev, "ts", checkpoint)
  }

  /** File/JSON source (Trivy/SBOM-style ingest, SURVEY §2.1): the events
    * `props` JSON-string column parsed with a real JSON parser and
    * aggregated. */
  def sourceJsonEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Session windows (30-min inactivity gap) per user — the sessionization
    * operator a behavioral/training pipeline needs; `session_window` works
    * in batch and streaming alike. Oracle: gaps-and-islands SQL. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Stream-static dimension enrichment: the events file replayed as a
    * live stream, inner-joined per micro-batch against the static
    * customer dimension (broadcast — the static side never shuffles the
    * stream and carries no state store at all: each micro-batch joins
    * against the current table snapshot, which is why this is THE shape
    * for slowly-changing dims under continuous ingest). Append mode, no
    * watermark needed — a stateless streaming join. Oracle: the identical
    * batch join. */
  /** Stream-stream LEFT OUTER lookback join, run live: clicks are
    * restricted to user_id % 3 ≠ 0 so a third of the purchases are
    * genuinely unattributed. The unmatched rows only emit for purchases
    * older than the final watermark (min of both sides' max ts − 2h) —
    * the oracle replicates exactly that cutoff; younger unmatched
    * purchases are still in join state at shutdown and never surface. */
  def streamStreamLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    withStateSession(spark) { scoped =>
      def src = Tables.tsToMicros(scoped.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val clicks = src.filter(col("event_type") === "click" && col("user_id") % 3 =!= 0)
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = Streaming.eventTimeLookbackLeftJoin(purchases, clicks,
          "user_id", "c_user", "p_ts", "c_ts", "6 hours")
        .select(col("purchase_id"), col("user_id"), col("p_ts"),
          col("click_id"), col("c_ts"))
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName("stream_stream_left_join_sink")
        .start()
      try q.processAllAvailable()
      finally q.stop()
      scoped.table("stream_stream_left_join_sink")
    }
  }

  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    withStateSession(spark) { scoped =>
      val src = scoped.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val dim = Tables.customer(scoped, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val joined = src.join(broadcast(dim), Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_mktsegment"))
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName("stream_static_join_sink")
        .start()
      try q.processAllAvailable()
      finally q.stop()
      scoped.table("stream_static_join_sink")
    }
  }

  /** Left-OUTER stream-static enrichment: the dim side is restricted to
    * BUILDING-segment customers, so a real fraction of events keeps a
    * null segment instead of being dropped — the null-preserving
    * enrichment streaming allows only on the stream side (right-outer
    * stream-static is unsupported by construction: unmatched dim rows
    * can never be declared final while the stream runs). Stateless like
    * the inner variant; broadcast dim, no state store. */
  def streamStaticLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    withStateSession(spark) { scoped =>
      val src = scoped.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val dim = Tables.customer(scoped, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val joined = src.join(broadcast(dim), Seq("user_id"), "left_outer")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_mktsegment"))
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName("stream_static_left_join_sink")
        .start()
      try q.processAllAvailable()
      finally q.stop()
      scoped.table("stream_static_left_join_sink")
    }
  }

  /** Multi-batch foreachBatch upsert: events re-sharded into 4 files,
    * replayed one file per micro-batch through the commutative argmax
    * sink ([[graft.streaming.Streaming.argmaxUpsertSink]]) — the final
    * per-user table (count + latest event under the (ts, event_id)
    * total order) must equal the batch argmax no matter how the files
    * were sliced or ordered. This gates the streaming SINK leg: real
    * incremental merges across 4 separate micro-batches, not one big
    * batch in disguise. */
  def streamUpsertSink(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert_src").toString
    ev.repartition(4).write.mode("overwrite").parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    withStateSession(spark) { scoped =>
      val src = scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
      val ref = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
      val q = graft.streaming.Streaming.argmaxUpsertSink(src, ref,
        Seq("user_id"),
        struct(col("ts"), col("event_id"), col("event_type"))).start()
      try q.processAllAvailable()
      finally q.stop()
      ref.get().select(col("user_id"), col("n_rows").as("n_events"),
        col("last.ts").as("last_ts"), col("last.event_type").as("last_type"))
    }
  }

  /** Streaming count-distinct via mergeable sketch state: events
    * re-sharded into 4 files, replayed one per micro-batch through
    * [[graft.streaming.Streaming.sketchMergeSink]] — each batch ships
    * only its HLL registers and the state merges by register max, so
    * the final estimate equals the batch [[graft.text.Sketches]] HLL
    * under ANY slicing and even under duplicate replay (max is
    * idempotent where the upsert sink's counts are not). Output:
    * distinct-user estimate per event type. */
  def streamHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("user_id"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_hll_src").toString
    ev.repartition(4).write.mode("overwrite").parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    withStateSession(spark) { scoped =>
      val src = scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
      val ref = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
      val q = graft.streaming.Streaming.sketchMergeSink(
        src, ref, "event_type", "user_id").start()
      try q.processAllAvailable()
      finally q.stop()
      graft.text.Sketches.hllEstimateFromRegisters(ref.get(),
          ev.select(col("event_type").as("g")), "est_distinct")
        .select(col("g").as("event_type"), col("est_distinct"))
        .orderBy(col("event_type"))
    }
  }

  /** Streaming leg of incremental MinHash dedup: the corpus LSH index
    * is built ONCE as a persisted artifact
    * ([[graft.dedup.Dedup.lshIndexArtifact]]); the new-doc slice is
    * re-sharded into 4 files and replayed one per micro-batch through
    * [[graft.streaming.Streaming.incrementalDedupSink]], each batch
    * probing the stored index — never the historical text. The
    * accumulated match set must equal the one-shot batch probe
    * ([[LlmQueries.dedupIncrementalMinhash]]) no matter how the feed
    * was sliced, so this gate shares that gate's oracle verbatim. */
  def streamIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_incdedup_src").toString
    newDocs.repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    withStateSession(spark) { scoped =>
      // index built (and immediately served) inside the scoped session so
      // every frame in the streaming query shares one SparkSession
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft_incdedup_idx").toString + "/idx"
      val hist = graft.dedup.Dedup.shingleTable(
        Tables.documents(scoped, dir).filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text")
      val index = graft.dedup.Dedup.lshIndexArtifact(scoped, hist, idxDir)
      val src = scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val ref = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
      val q = Streaming.incrementalDedupSink(src, index, 800000L, ref).start()
      try q.processAllAvailable()
      finally q.stop()
      ref.get()
    }
  }

  /** [[streamIncrementalDedup]] through the PERSISTED match store
    * ([[graft.streaming.Streaming.incrementalDedupSinkPersisted]]):
    * each micro-batch appends only its own probe hits as its own store
    * partition — O(batch) per batch, no in-memory accumulation, matches
    * readable across sessions. The read-back must equal the one-shot
    * batch probe no matter how the feed was sliced; shares
    * `dedup_incremental_minhash`'s oracle verbatim, same as the
    * in-memory leg. */
  def streamIncrementalDedupPersisted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_incdedupp_src").toString
    newDocs.repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    withStateSession(spark) { scoped =>
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft_incdedupp_idx").toString + "/idx"
      val hist = graft.dedup.Dedup.shingleTable(
        Tables.documents(scoped, dir).filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text")
      val index = graft.dedup.Dedup.lshIndexArtifact(scoped, hist, idxDir)
      val src = scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val pairsDir = java.nio.file.Files
        .createTempDirectory("graft_incdedupp_pairs").toString
      val q = Streaming.incrementalDedupSinkPersisted(src, index, 800000L,
        pairsDir).start()
      try q.processAllAvailable()
      finally q.stop()
      Streaming.readIncrementalMatches(scoped, pairsDir)
    }
  }

  /** [[streamIncrementalDedupPersisted]] against a BUCKETED index
    * ([[graft.streaming.Streaming.incrementalDedupSinkBucketed]]): the
    * history corpus is seeded ONCE into a [[graft.streaming
    * .GrowingDedupState]] (band store hash-partitioned by band bucket,
    * shingle payload by doc-id bucket) and never grown; each micro-batch
    * probes through the PARTITION-PRUNED `probeIndexed` — the serving
    * shape for a fixed index too large to pin, where per-batch
    * bytes-read must track the batch, not the index. The accumulated
    * read-back must STILL equal the one-shot full-scan batch probe
    * (pruning is structural, not approximate) — shares
    * `dedup_incremental_minhash`'s oracle verbatim, same as both other
    * legs. */
  def streamIncrementalDedupBucketed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_incdedupb_src").toString
    newDocs.repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    withStateSession(spark) { scoped =>
      val index = graft.streaming.GrowingDedupState(java.nio.file.Files
        .createTempDirectory("graft_incdedupb_idx").toString, epoch = "seed")
      index.appendSignatures(graft.dedup.Dedup.signatures(
        graft.dedup.Dedup.shingleTable(
          Tables.documents(scoped, dir).filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text")), 0L)
      val src = scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val pairsDir = java.nio.file.Files
        .createTempDirectory("graft_incdedupb_pairs").toString
      val q = Streaming.incrementalDedupSinkBucketed(src, index, 800000L,
        pairsDir).start()
      try q.processAllAvailable()
      finally q.stop()
      Streaming.readIncrementalMatches(scoped, pairsDir)
    }
  }

  /** The ENTIRE corpus streamed through the self-growing dedup sink
    * ([[graft.streaming.Streaming.growingDedupSink]]) from an EMPTY
    * index, one file per micro-batch: each batch is matched completely
    * (index probe ∪ within-batch self-LSH) and then folded into the
    * index, so the accumulated pair set must equal the one-shot
    * full-corpus [[graft.dedup.Dedup.minhashLsh]] — this gate shares
    * that gate's oracle VERBATIM, making slicing-insensitivity the
    * checked property. The production shape of continuous ingestion
    * where history starts empty and every sync both dedups against and
    * extends the corpus. */
  def streamGrowingDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_growdedup_src").toString
    docs.repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    withStateSession(spark) { scoped =>
      val src = scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val state = graft.streaming.GrowingDedupState(java.nio.file.Files
        .createTempDirectory("graft_growdedup_state").toString)
      val q = Streaming.growingDedupSink(src, state, 800000L).start()
      try q.processAllAvailable()
      finally q.stop()
      state.matches(scoped)
    }
  }

  /** Raw docs in, canonical near-dup clusters out, continuously: the
    * whole corpus streamed through
    * [[graft.streaming.Streaming.growingComponentsSink]] from empty
    * state — per micro-batch: complete match (growing index probe ∪
    * within-batch self-LSH), then, side by side and joined before the
    * batch returns, the index fold and a star-contraction fold of the
    * new pairs into the evolving component labeling. The final
    * labels, left-joined onto the doc table with singleton fallback,
    * must equal the one-shot [[LlmQueries.dedupComponents]] pipeline —
    * this gate shares that gate's oracle VERBATIM, so end-to-end
    * slicing-insensitivity of the composed dedup+clustering sink is
    * the checked property. */
  def streamGrowingComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_growcc_src").toString
    docs.repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    withStateSession(spark) { scoped =>
      val src = scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val state = graft.streaming.GrowingDedupState(java.nio.file.Files
        .createTempDirectory("graft_growcc_state").toString)
      val q = Streaming.growingComponentsSink(src, state, 800000L).start()
      try q.processAllAvailable()
      finally q.stop()
      val labels = state.labels(scoped).getOrElse(
        throw new IllegalStateException("no label snapshot published"))
      Tables.documents(scoped, dir)
        .select(col("doc_id").cast("long").as("doc_id"))
        .join(labels.withColumnRenamed("node", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("canonical_id"))
    }
  }

  /** The cross-session resume + compaction CAPSTONE: the corpus streamed
    * through [[graft.streaming.Streaming.growingComponentsSink]] across
    * TWO streaming sessions with the store COMPACTED between them —
    * session 1 (epoch 0) ingests the even doc ids in two micro-batches
    * and dies; session 2 (epoch 1) is constructed with
    * `autoCompactAfter = 1`, so its session start finds 2 persisted
    * batch dirs per store, auto-compacts them into one deterministic
    * deduped partition per store (bucket layout preserved), reconstructs
    * the labeling from snapshot ⊕ compacted WAL, then ingests the odd
    * ids — probing the COMPACTED history. The final labels must still
    * equal the one-shot [[LlmQueries.dedupComponents]] pipeline (oracle
    * shared verbatim): resume, auto-compaction, and the pruned-probe
    * path composed end to end. */
  def streamGrowingResumeCompact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def writeHalf(pred: org.apache.spark.sql.Column): (String, org.apache.spark.sql.types.StructType) = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_growrc_src").toString
      docs.filter(pred).repartition(2).write.mode("overwrite").parquet(d)
      (d, spark.read.parquet(d).schema)
    }
    val (srcA, schemaA) = writeHalf(col("doc_id") % 2 === 0)
    val (srcB, schemaB) = writeHalf(col("doc_id") % 2 =!= 0)
    val root = java.nio.file.Files
      .createTempDirectory("graft_growrc_state").toString
    withStateSession(spark) { scoped =>
      val q1 = Streaming.growingComponentsSink(
        scoped.readStream.schema(schemaA)
          .option("maxFilesPerTrigger", "1").parquet(srcA),
        graft.streaming.GrowingDedupState(root, epoch = "0"), 800000L).start()
      try q1.processAllAvailable()
      finally q1.stop()
      val state2 = graft.streaming.GrowingDedupState(root, epoch = "1",
        autoCompactAfter = 1)
      val q2 = Streaming.growingComponentsSink(
        scoped.readStream.schema(schemaB)
          .option("maxFilesPerTrigger", "1").parquet(srcB),
        state2, 800000L).start()
      try q2.processAllAvailable()
      finally q2.stop()
      val labels = state2.labels(scoped).getOrElse(
        throw new IllegalStateException("no label snapshot published"))
      Tables.documents(scoped, dir)
        .select(col("doc_id").cast("long").as("doc_id"))
        .join(labels.withColumnRenamed("node", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("canonical_id"))
    }
  }

  /** Streaming cluster maintenance over the incremental dedup feed: the
    * history corpus is clustered ONCE; its incremental probe matches are
    * replayed one file per micro-batch through
    * [[graft.streaming.Streaming.incrementalComponentsSink]], each batch
    * folding into the labeling via star contraction — the accumulated
    * labels after the last batch must equal the one-shot
    * [[LlmQueries.dedupIncrementalComponents]] recompute (shared oracle),
    * no matter how the match feed was sliced. */
  def streamIncrementalComponents(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val sh0 = Dedup.shingleTable(Tables.documents(spark, dir), "doc_id", "text")
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_inccc_src").toString
    // ONE persisted history index feeds both the probe and the seed
    // clustering (r15 trim: the r14 shape computed history minhashes
    // twice — once in the probe, once re-shingling inside the scoped
    // 1-shuffle-partition streaming session, which serialized the LSH
    // self-join + CC onto a single task)
    val index = Dedup.lshIndexArtifact(spark,
      sh0.filter(col("doc_id") % 5 =!= 0), srcDir + "_idx")
    val newPairs = Dedup.incrementalMinhashIndexed(index,
        sh0.filter(col("doc_id") % 5 === 0), minJaccX1e6 = 800000L)
      .select(col("new_id").as("a"), col("old_id").as("b"))
    newPairs.repartition(4).write.mode("overwrite").parquet(srcDir)
    // the seed labeling is computed ONCE at full parallelism in the
    // outer session and handed over as a PERSISTED parquet artifact —
    // the production shape (component labels survive between syncs, the
    // lshIndexArtifact pattern)
    val labDir = srcDir + "_labels"
    Fixpoint.connectedComponents(
        Dedup.minhashLshIndexed(index, minJaccX1e6 = 800000L)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .write.mode("overwrite").parquet(labDir)
    val schema = spark.read.parquet(srcDir).schema
    withStateSession(spark) { scoped =>
      val ref = new java.util.concurrent.atomic.AtomicReference[DataFrame](
        graft.Lineage.pinned(scoped.read.parquet(labDir), eager = true))
      val src = scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = Streaming.incrementalComponentsSink(src, ref).start()
      try q.processAllAvailable()
      finally q.stop()
      ref.get()
        .select(col("node").as("doc_id"), col("component").as("canonical_id"))
    }
  }

  /** 2-core of the customer tree + triangle ornaments: the octal tree
    * alone peels to nothing, every 50th customer carries a triangle that
    * anchors itself (and pins parts of its ancestor chain) into the core
    * — so the result exercises a real multi-round deletion cascade, not
    * a one-shot filter. */
  def graphKcore(spark: SparkSession, dir: String): DataFrame =
    Centrality.kCore(treeWithTriangles(spark, dir), k = 2L)

  /** Local clustering coefficient over the same ornamented tree: triangle
    * members approach a clique-like neighborhood, pure tree nodes sit at
    * zero — the cohesion signal next to the raw triangle counts. */
  def graphClustering(spark: SparkSession, dir: String): DataFrame =
    Centrality.clusteringCoefficient(treeWithTriangles(spark, dir))

  /** Two chained neighborhood-aggregation layers over the customer tree
    * (features = account-balance cents): layer 2 aggregates layer 1's
    * floor means — the 2-hop receptive field of GNN feature prep. */
  def graphNeighborAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("k"),
      (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("f"))
    val tree = c.filter(col("k") >= 8L)
      .select(expr("k div 8").as("src"), col("k").as("dst"))
    val feats = c.select(col("k").as("node"), col("f"))
    val l1 = Centrality.neighborAgg(tree, feats, "f")
    val l2 = Centrality.neighborAgg(tree,
      l1.select(col("node"), col("mean_f")), "mean_f")
    l1.select(col("node"), col("n_nbrs"), col("mean_f"))
      .join(l2.select(col("node"), col("mean_f").as("mean2_f")), Seq("node"))
  }

  /** Octal customer tree + a triangle at every 50th customer — the shared
    * test graph of graph_kcore / graph_clustering (cheap to build, known
    * cascade structure, non-trivial cores and coefficients). */
  private def treeWithTriangles(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("k"))
    val mx = c.agg(max(col("k")).as("mx"))
    val tree = c.filter(col("k") >= 8L)
      .select(expr("k div 8").as("src"), col("k").as("dst"))
    val tri = c.filter(col("k") % 50 === 0).crossJoin(broadcast(mx))
      .filter(col("k") + 2 <= col("mx"))
      .select(explode(array(
        struct(col("k").as("src"), (col("k") + 1).as("dst")),
        struct((col("k") + 1).as("src"), (col("k") + 2).as("dst")),
        struct(col("k").as("src"), (col("k") + 2).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    tree.unionByName(tri)
  }

  /** Strongly connected components over a rings-on-a-tree digraph built
    * from customers (0-based k = c_custkey − 1): blocks of 4 consecutive
    * ids form 4-cycles (even blocks) or open chains (odd blocks — the
    * trim path), every block start points at its div-64 parent block
    * start, and one fuse edge from node 0 to the last block's start
    * closes a multi-ring cycle through the tree — so the gate exercises
    * small cyclic SCCs, chain singletons, AND a composite SCC spanning
    * several blocks in one graph. Component id = max member
    * ([[graft.graph.Fixpoint.stronglyConnectedComponents]]'s canon). */
  private def sccDigraph(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.customer(spark, dir)
      .select((col("c_custkey") - 1).cast("long").as("k"))
    val mx = n.agg(((max(col("k")).cast("long")) / 4).cast("long").as("_mb"))
      .select((col("_mb") * 4).as("fuse_dst"))
    val ring = n
      .filter((expr("k div 4") % 2 === 0) || (col("k") % 4 < 3))
      .select(col("k").as("src"),
        when(expr("k div 4") % 2 === 0,
          expr("(k div 4) * 4") + (col("k") % 4 + 1) % 4)
          .otherwise(col("k") + 1).as("dst"))
    val tree = n.filter(col("k") % 4 === 0 && col("k") > 0)
      .select(col("k").as("src"), expr("(k div 256) * 4").as("dst"))
    val fuse = mx.select(lit(0L).as("src"), col("fuse_dst").as("dst"))
    ring.unionByName(tree).unionByName(fuse)
      .join(n.select(col("k").as("dst")), Seq("dst"), "left_semi")
  }

  /** Shared SCC assignment for the rings-on-a-tree digraph, persisted
    * via [[graft.graph.Fixpoint.sccArtifact]] so the multi-fixpoint
    * runs once per application and input version, and both the SCC gate
    * and the condensation quotient read the labels back
    * ([[graft.sources.Artifacts.perApplication]] of the customer table
    * the digraph is derived from). */
  private def sccLabels(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.sccArtifact(spark, sccDigraph(spark, dir),
      graft.sources.Artifacts.perApplication(dir, "customer", "scc"))

  def graphScc(spark: SparkSession, dir: String): DataFrame =
    sccLabels(spark, dir)

  /** Condensation DAG over the rings-on-a-tree digraph: the SCC
    * quotient's distinct inter-component edges — rings collapse to
    * single DAG nodes, the chain/tree skeleton survives. Reuses the
    * persisted [[sccLabels]] assignment; only the two-join quotient
    * runs here. */
  def graphCondensation(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.condensationEdges(sccLabels(spark, dir), sccDigraph(spark, dir))

  /** HITS over the div2 customer tree plus div4 shortcut edges (the
    * SSSP graph shape, unweighted): interior nodes are both hubs
    * (point at children) and authorities (pointed at by parent and
    * grandparent), so three rounds produce a genuinely mixed score
    * surface, not a bipartite split. Unnormalized exact integers. */
  def graphHits(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("k"))
    val e = c.filter(col("k") >= 2L)
      .select(expr("k div 2").as("src"), col("k").as("dst"))
      .unionByName(c.filter(col("k") >= 4L)
        .select(expr("k div 4").as("src"), col("k").as("dst")))
    Centrality.hits(e, rounds = 3)
  }

  /** Link prediction over the ornamented tree: unlinked sibling pairs
    * (shared parent), triangle-adjacent pairs, and parent/grandchild
    * gaps all score; top 200 by (common neighbors, RA, pair) keeps the
    * gate output bounded under a total order. */
  def graphLinkPred(spark: SparkSession, dir: String): DataFrame =
    Centrality.linkPrediction(treeWithTriangles(spark, dir))
      .orderBy(desc("common_neighbors"), desc("ra_x1e12"), col("u"), col("v"))
      .limit(200)

  /** Rectangle (4-cycle) census over the ornamented tree: sibling pairs
    * under a shared parent plus triangle corners give pairs with 2+
    * common neighbors — the bipartite-cohesion motif count next to the
    * triangle gate. */
  def graphRectangles(spark: SparkSession, dir: String): DataFrame =
    Centrality.rectangleCensus(treeWithTriangles(spark, dir))

  /** Double-sweep diameter lower bound over the octal customer tree
    * (exact on trees): BFS from the smallest node, BFS again from the
    * farthest node found — two passes, one certified bound. */
  def graphDiameterSweep(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("k"))
    val tree = c.filter(col("k") >= 8L)
      .select(expr("k div 8").as("src"), col("k").as("dst"))
    Centrality.doubleSweepDiameter(tree, maxDepth = 12)
  }

  /** SCAN structural clustering over the ornamented tree (ε = 0.6,
    * μ = 3): leafy triangle corners become cores, their hinges stay
    * unclustered (tree degree dilutes σ), and the role split
    * core/border/hub/outlier is exactly the read curation wants — keep
    * the bridges, drop the noise. */
  def graphScanClusters(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scanClusters(treeWithTriangles(spark, dir), epsX1e3 = 600L, mu = 3)

  /** Shortest-path counts from the root over the braided div2+div4
    * digraph: every node's distance is ceil(bits/2) (a div4 hop covers
    * two binary digits, a div2 hop one), and σ counts the distinct
    * hop-mixes achieving it — Fibonacci-flavored path multiplicity, the
    * exact integer half of Brandes betweenness. */
  def graphPathCounts(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("k"))
    val e = c.filter(col("k") >= 2L)
      .select(expr("k div 2").as("src"), col("k").as("dst"))
      .unionByName(c.filter(col("k") >= 4L)
        .select(expr("k div 4").as("src"), col("k").as("dst")))
    Fixpoint.bfsPathCounts(e,
      c.filter(col("k") === 1L).select(col("k").as("node")), maxDepth = 10)
  }

  /** Deterministic label propagation over the ornamented tree, four
    * synchronous rounds: triangle ornaments anchor local label
    * majorities while the tree trunk floods toward small ids — the
    * community-detection read over the shared test graph. */
  def graphLabelProp(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.labelPropagation(treeWithTriangles(spark, dir), rounds = 4)

  /** Community quality end-to-end: Newman modularity of the 4-round
    * label-propagation partition over the same ornamented tree — the
    * detector and its scorer composed ("did LPA find structure better
    * than chance"). */
  def graphCommunityQuality(spark: SparkSession, dir: String): DataFrame = {
    val e = treeWithTriangles(spark, dir)
    val asg = Fixpoint.labelPropagation(e, rounds = 4)
      .select(col("node"), col("label").as("community"))
    graft.graph.Centrality.modularity(e, asg)
  }

  /** Nearest-seed labeling over the undirected customer tree: every
    * 1000th customer is a labeled hub; nodes within 4 hops take the
    * nearest hub's label (ties to the smallest label). */
  def graphNearestSeed(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("k"))
    val tree = c.filter(col("k") >= 8L)
      .select(expr("k div 8").as("src"), col("k").as("dst"))
    val und = tree.unionByName(
      tree.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = c.filter(col("k") % 1000 === 0)
      .select(col("k").as("node"), col("k").as("label"))
    Fixpoint.nearestSeed(und, seeds, maxDepth = 4)
      .select(col("node"), col("dist"), col("label"))
  }

  /** Weighted single-source shortest paths over the customer tree plus
    * grandparent "shortcut" edges (so min-over-paths is actually
    * exercised: most nodes have a 1-hop-cheaper and a 2-hop-cheaper way
    * in, and the cheaper one depends on the weights). Deterministic
    * integer weights derived from the key. */
  def graphSssp(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val e1 = cust.filter(col("c_custkey") >= 2).select(
      expr("CAST(c_custkey div 2 AS BIGINT)").as("src"),
      col("c_custkey").cast("long").as("dst"),
      (col("c_custkey") % 7 + 1).cast("long").as("w"))
    val e2 = cust.filter(col("c_custkey") >= 4).select(
      expr("CAST(c_custkey div 4 AS BIGINT)").as("src"),
      col("c_custkey").cast("long").as("dst"),
      (col("c_custkey") % 11 + 3).cast("long").as("w"))
    val seeds = cust.filter(col("c_custkey") === 1)
      .select(col("c_custkey").cast("long").as("node"))
    Fixpoint.sssp(e1.unionByName(e2), seeds, maxRounds = 40)
  }

  /** Weisfeiler–Lehman color refinement over the ornamented tree, 4
    * rounds: nodes sharing a color have indistinguishable 4-hop
    * unfolded neighborhoods — tree levels, triangle corners and hinge
    * nodes all separate. */
  def graphWlColors(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.wlRefine(treeWithTriangles(spark, dir), rounds = 4)

  /** Borůvka minimum spanning forest over the nation-flow graph: nodes
    * are nations, edge weights encode the lineitem supplier→customer
    * flow volume with the nation pair packed into the low bits so every
    * weight is UNIQUE — the forest is the cheapest backbone connecting
    * all trading partners, and the oracle checks it by the cut
    * property (an edge is in the unique MSF iff its endpoints are not
    * connected by strictly lighter edges). */
  def graphMstForest(spark: SparkSession, dir: String): DataFrame = {
    val flows = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .select(least(col("s_nationkey"), col("c_nationkey")).cast("long").as("a"),
        greatest(col("s_nationkey"), col("c_nationkey")).cast("long").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cnt"))
    Fixpoint.minimumSpanningForest(
      flows.select(col("a").as("src"), col("b").as("dst"),
        (col("cnt") * 1024L + col("a") * 32L + col("b")).as("weight")))
  }

  /** Greedy densest-subgraph peel (ε = 1, 4-approximation) over the
    * octal tree with a clique planted on every 100th customer: the
    * tree fringe peels away round by round and the clique's density
    * wins — the spam-cluster / mutual-admiration-core detection shape.
    * Output is the best-density round's node set with its (V, E). */
  def graphDensest(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("k"))
    val tree = c.filter(col("k") >= 8L)
      .select(expr("k div 8").as("src"), col("k").as("dst"))
    val ck = c.filter(col("k") % 100 === 0)
    val clique = ck.select(col("k").as("src"))
      .join(ck.select(col("k").as("dst")), col("src") < col("dst"))
    Centrality.densestSubgraph(tree.unionByName(clique))
  }

  /** Deterministic Luby maximal independent set over the ornamented
    * tree: hash-priority local minima join per round, winners plus
    * neighbors retire — the conflict-free scheduling primitive. */
  def graphMis(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.maximalIndependentSet(treeWithTriangles(spark, dir))

  /** Greedy maximal matching over the ornamented tree: mutual-minimum
    * edges under hash priorities match per round — the deterministic
    * pairing primitive. */
  def graphMatching(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.maximalMatching(treeWithTriangles(spark, dir))

  /** Jones–Plassmann greedy coloring over the ornamented tree:
    * hash-priority scheduling, per-round independent sets, mex colors —
    * the conflict-partitioning primitive next to the MIS gate. */
  def graphColoring(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.greedyColoring(treeWithTriangles(spark, dir))

  /** HyperANF-shape neighborhood function over the symmetrized
    * ornamented tree: 16 FM registers per node, 6 merge rounds, the
    * exact Σ-registers curve per round — ball-size sketching where
    * all-pairs BFS can never run. */
  def graphAnf(spark: SparkSession, dir: String): DataFrame = {
    val e = treeWithTriangles(spark, dir)
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    Centrality.neighborhoodFunction(sym, rounds = 6, nRegisters = 16)
  }

  /** Deterministic hash-driven random walks over the symmetrized
    * ornamented tree: 4 steps from every 100th customer — the
    * reproducible DeepWalk corpus-generation step. */
  def graphRandomWalks(spark: SparkSession, dir: String): DataFrame = {
    val e = treeWithTriangles(spark, dir)
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val starts = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 100 === 0)
      .select(col("c_custkey").cast("long").as("walk_id"),
        col("c_custkey").cast("long").as("node"))
    Fixpoint.randomWalks(sym, starts, steps = 4)
  }

  /** Full core decomposition over the octal tree with a K5 planted on
    * every 100th customer: tree fringe coreness 1, clique members
    * coreness 4 — the density-fingerprint read behind degeneracy
    * ordering and cohesive-core curation. Served by the h-index
    * fixpoint ([[Centrality.corenessHIndex]], one refinement pass per
    * round instead of per-level cascade escalation — hash-identical to
    * the peel, property-tested in Round18PropertiesSpec). */
  def graphCoreness(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").cast("long").as("k"))
    val mx = c.agg(max(col("k")).as("mx"))
    val tree = c.filter(col("k") >= 8L)
      .select(expr("k div 8").as("src"), col("k").as("dst"))
    val offs = for (i <- 0 to 4; j <- (i + 1) to 4) yield (i, j)
    val clique = c.filter(col("k") % 100 === 0).crossJoin(broadcast(mx))
      .filter(col("k") + 4 <= col("mx"))
      .select(explode(array(offs.map { case (i, j) =>
        struct((col("k") + i).as("src"), (col("k") + j).as("dst"))
      }: _*)).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    Centrality.corenessHIndex(tree.unionByName(clique))
  }

  /** Arbitrary-state streaming pattern detection run live: every
    * purchase matched to the key's earliest click in the preceding
    * hour through an explicit flatMapGroupsWithState click buffer with
    * event-time TTL — oracle = the equivalent batch window join. */
  def streamPatternMatch(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    withStateSession(spark) { scoped =>
      import scoped.implicits._
      val src = Tables.tsToMicros(scoped.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      val typed = src.filter(col("event_type").isin("purchase", "click"))
        .select(col("user_id").as("userId"), col("event_id").as("eventId"),
          col("event_type").as("eventType"), col("ts").as("eventTime"),
          unix_micros(col("ts")).as("tsMicros"))
        .as[graft.streaming.Streaming.PatternEvent]
      val q = graft.streaming.Streaming.patternDetect(typed, 3600L * 1000000L)
        .toDF()
        .select(col("userId").as("user_id"), col("purchaseId").as("purchase_id"),
          col("clickId").as("click_id"))
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_pattern_match_sink").start()
      try q.processAllAvailable()
      finally q.stop()
      scoped.table("stream_pattern_match_sink")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "session_window_agg" -> (sessionWindowAgg _),
    "stream_sliding_window" -> (streamSlidingWindow _),
    "stream_pattern_match" -> (streamPatternMatch _),
    "graph_anf" -> (graphAnf _),
    "graph_random_walks" -> (graphRandomWalks _),
    "graph_coreness" -> (graphCoreness _),
    "graph_coloring" -> (graphColoring _),
    "graph_mis" -> (graphMis _),
    "graph_matching" -> (graphMatching _),
    "graph_wl_colors" -> (graphWlColors _),
    "graph_mst_forest" -> (graphMstForest _),
    "graph_densest" -> (graphDensest _),
    "fixpoint_ancestors" -> (fixpointAncestors _),
    "fixpoint_reach2" -> (fixpointReach2 _),
    "graph_sssp" -> (graphSssp _),
    "graph_bfs_distances" -> (graphBfsDistances _),
    "centrality_pagerank" -> (centralityPagerank _),
    "centrality_pagerank_weighted" -> (centralityPagerankWeighted _),
    "graph_harmonic" -> (graphHarmonic _),
    "centrality_pagerank_dangling" -> (centralityPagerankDangling _),
    "centrality_ppr" -> (centralityPpr _),
    "graph_triangles" -> (graphTriangles _),
    "graph_edge_support" -> (graphEdgeSupport _),
    "graph_ktruss" -> (graphKtruss _),
    "graph_kcore" -> (graphKcore _),
    "graph_scc" -> (graphScc _),
    "graph_condensation" -> (graphCondensation _),
    "graph_hits" -> (graphHits _),
    "graph_link_pred" -> (graphLinkPred _),
    "graph_label_prop" -> (graphLabelProp _),
    "graph_community_quality" -> (graphCommunityQuality _),
    "graph_rectangles" -> (graphRectangles _),
    "graph_scan_clusters" -> (graphScanClusters _),
    "graph_path_counts" -> (graphPathCounts _),
    "graph_diameter_sweep" -> (graphDiameterSweep _),
    "graph_nearest_seed" -> (graphNearestSeed _),
    "graph_clustering" -> (graphClustering _),
    "graph_neighbor_agg" -> (graphNeighborAgg _),
    "stream_static_join" -> (streamStaticJoin _),
    "stream_upsert_sink" -> (streamUpsertSink _),
    "stream_hll_distinct" -> (streamHllDistinct _),
    "stream_static_left_join" -> (streamStaticLeftJoin _),
    "stream_windowed_agg" -> (streamWindowedAgg _),
    "stream_windowed_topk" -> (streamWindowedTopK _),
    "stream_incremental_feed" -> (streamIncrementalFeed _),
    "stream_dedup" -> (streamDedup _),
    "stream_incremental_dedup" -> (streamIncrementalDedup _),
    "stream_incremental_dedup_persisted" -> (streamIncrementalDedupPersisted _),
    "stream_incremental_dedup_bucketed" -> (streamIncrementalDedupBucketed _),
    "stream_growing_dedup" -> (streamGrowingDedup _),
    "stream_growing_components" -> (streamGrowingComponents _),
    "stream_growing_resume_compact" -> (streamGrowingResumeCompact _),
    "stream_incremental_components" -> (streamIncrementalComponents _),
    "stream_stream_join" -> (streamStreamJoin _),
    "stream_stream_left_join" -> (streamStreamLeftJoin _),
    "source_json_events" -> (sourceJsonEvents _),
  )

  /** Shared 4-round label-propagation CTE chain (graph_label_prop and
    * graph_community_quality oracles): the ornamented-tree edge set,
    * its symmetrized form, and l0..l4 — each round a (node, label)
    * vote census incl. the self-vote, argmax (count desc, label asc). */
  private val LabelPropCtes: String = {
    def round(r: Int): String = {
      val prev = s"l${r - 1}"
      s"""v$r AS (
         |  SELECT node, lab, count(*) AS c FROM (
         |    SELECT u.dst AS node, l.lab
         |    FROM und u JOIN $prev l ON u.src = l.node
         |    UNION ALL SELECT node, lab FROM $prev)
         |  GROUP BY node, lab),
         |l$r AS MATERIALIZED (
         |  SELECT node, lab FROM (
         |    SELECT node, lab, row_number() OVER
         |      (PARTITION BY node ORDER BY c DESC, lab ASC) AS rn
         |    FROM v$r) WHERE rn = 1)""".stripMargin
    }
    s"""c AS (SELECT c_custkey AS k FROM customer),
       |mx AS (SELECT max(k) AS mx FROM c),
       |e AS (
       |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
       |  UNION ALL
       |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
       |  UNION ALL
       |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
       |  UNION ALL
       |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM e WHERE src <> dst
       |    UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS lab FROM und),
       |${(1 to 4).map(round).mkString(",\n")}""".stripMargin
  }

  /** Unrolled k-core peel rounds (graph_kcore oracle): each round keeps
    * edges whose BOTH endpoints still have degree >= 2. Empirically the
    * cascade settles in 4 rounds at sf0.01 and sf0.1; 7 unrolled rounds
    * leave margin (extra rounds after convergence are no-ops). */
  private val KcorePeelRounds = 7
  private val KcoreOracleSql: String = {
    val base =
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |mx AS (SELECT max(k) AS mx FROM c),
        |e AS (
        |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |  UNION ALL
        |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
        |u0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM e WHERE src <> dst
        |   UNION ALL SELECT dst, src FROM e WHERE src <> dst))""".stripMargin
    val rounds = (1 to KcorePeelRounds).map { i =>
      s"""s${i - 1} AS MATERIALIZED (SELECT src AS node FROM u${i - 1}
         |  GROUP BY src HAVING count(*) >= 2),
         |u$i AS MATERIALIZED (SELECT u.src, u.dst FROM u${i - 1} u
         |  JOIN s${i - 1} a ON u.src = a.node
         |  JOIN s${i - 1} b ON u.dst = b.node)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT CAST(src AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS core_degree
       |FROM u$KcorePeelRounds GROUP BY src""".stripMargin
  }

  /** Unrolled nearest-seed BFS (graph_nearest_seed oracle): 4 levels over
    * the symmetrized octal tree, per-level min(label) tie-break, anti-join
    * against everything already labeled. */
  private val NearestSeedOracleSql: String = {
    val base =
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |t AS (SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8),
        |und AS (SELECT src, dst FROM t UNION ALL SELECT dst, src FROM t),
        |v0 AS MATERIALIZED (SELECT k AS node, k AS label, 0 AS dist FROM c WHERE k % 1000 = 0)""".stripMargin
    val rounds = (1 to 4).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT u.dst AS node, min(v.label) AS label
         |  FROM v${i - 1} v JOIN und u ON v.node = u.src
         |  WHERE v.dist = ${i - 1}
         |    AND u.dst NOT IN (SELECT node FROM v${i - 1})
         |  GROUP BY u.dst),
         |v$i AS MATERIALIZED (SELECT node, label, dist FROM v${i - 1}
         |  UNION ALL SELECT node, label, $i FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist,
       |  CAST(label AS BIGINT) AS label
       |FROM v4""".stripMargin
  }

  /** Unrolled double-sweep BFS oracle: two 12-round level-synchronous
    * BFS phases over the symmetrized octal tree; phase 2 seeds from
    * phase 1's (max dist, min node) row. */
  private val DiameterOracleSql: String = {
    val rounds = 12
    def bfs(tag: String, seedSql: String): String = {
      val rs = (1 to rounds).map { i =>
        s"""${tag}f$i AS MATERIALIZED (
           |  SELECT DISTINCT u.dst AS node FROM ${tag}v${i - 1} v
           |  JOIN und u ON v.node = u.src
           |  WHERE u.dst NOT IN (SELECT node FROM ${tag}v${i - 1})),
           |${tag}v$i AS MATERIALIZED (SELECT node, dist FROM ${tag}v${i - 1}
           |  UNION ALL SELECT node, $i FROM ${tag}f$i)""".stripMargin
      }.mkString(",\n")
      s"""${tag}v0 AS MATERIALIZED (SELECT node, 0 AS dist FROM ($seedSql)),
         |$rs""".stripMargin
    }
    s"""WITH c AS (SELECT c_custkey AS k FROM customer),
       |t AS (SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8),
       |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM t WHERE src <> dst
       |   UNION ALL SELECT dst, src FROM t WHERE src <> dst)),
       |${bfs("a", "SELECT min(src) AS node FROM und")},
       |far AS (SELECT node, dist FROM av$rounds
       |        ORDER BY dist DESC, node ASC LIMIT 1),
       |${bfs("b", "SELECT node FROM far")}
       |SELECT CAST(f.node AS BIGINT) AS far_node,
       |  CAST(f.dist AS BIGINT) AS ecc_seed,
       |  (SELECT CAST(max(dist) AS BIGINT) FROM bv$rounds) AS diameter_lb
       |FROM far f""".stripMargin
  }

  /** Full SCAN mirror over the ornamented tree: edge support via a
    * three-way adjacency join, the integer ε-test, μ = 3 cores,
    * recursive-CTE components over core ε-edges, min-cluster border
    * attachment, hub/outlier split by distinct adjacent clusters. */
  private val ScanOracleSql: String =
    """WITH RECURSIVE c AS (SELECT c_custkey AS k FROM customer),
      |mx AS (SELECT max(k) AS mx FROM c),
      |e AS (
      |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
      |  UNION ALL
      |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
      |  UNION ALL
      |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
      |  UNION ALL
      |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e WHERE src <> dst),
      |u0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
      |  UNION ALL SELECT b, a FROM und),
      |deg AS MATERIALIZED (SELECT src AS node, count(*) AS d FROM u0 GROUP BY src),
      |supc AS MATERIALIZED (
      |  SELECT e.a, e.b, count(y.dst) AS cn
      |  FROM und e
      |  LEFT JOIN u0 x ON x.src = e.a
      |  LEFT JOIN u0 y ON y.src = e.b AND y.dst = x.dst
      |  GROUP BY e.a, e.b),
      |sim AS MATERIALIZED (
      |  SELECT s.a, s.b
      |  FROM supc s JOIN deg da ON s.a = da.node JOIN deg db ON s.b = db.node
      |  WHERE (s.cn + 2) * (s.cn + 2) * 1000000 >= 360000 * (da.d + 1) * (db.d + 1)),
      |nes AS (SELECT node, count(*) AS n FROM
      |  (SELECT a AS node FROM sim UNION ALL SELECT b FROM sim) GROUP BY node),
      |cores AS MATERIALIZED (SELECT node FROM nes WHERE n + 1 >= 3),
      |ce AS MATERIALIZED (SELECT s.a, s.b FROM sim s
      |  JOIN cores ca ON s.a = ca.node JOIN cores cb ON s.b = cb.node),
      |ces AS MATERIALIZED (SELECT a AS u, b AS v FROM ce UNION ALL SELECT b, a FROM ce),
      |reach AS (
      |  SELECT u, v FROM ces
      |  UNION
      |  SELECT r.u, e2.v FROM reach r JOIN ces e2 ON r.v = e2.u),
      |comp AS MATERIALIZED (
      |  SELECT co.node, least(co.node, coalesce(min(r.v), co.node)) AS cluster
      |  FROM cores co LEFT JOIN reach r ON co.node = r.u GROUP BY co.node),
      |simsym AS (SELECT a AS u, b AS v FROM sim UNION ALL SELECT b, a FROM sim),
      |border AS MATERIALIZED (
      |  SELECT s.u AS node, min(cp.cluster) AS cluster
      |  FROM simsym s JOIN comp cp ON s.v = cp.node
      |  WHERE s.u NOT IN (SELECT node FROM cores)
      |  GROUP BY s.u),
      |clustered AS MATERIALIZED (
      |  SELECT node, cluster, 'core' AS role FROM comp
      |  UNION ALL SELECT node, cluster, 'border' AS role FROM border),
      |rest AS (
      |  SELECT n.node, count(DISTINCT cl.cluster) AS nadj
      |  FROM (SELECT DISTINCT src AS node FROM u0) n
      |  JOIN u0 u ON n.node = u.src
      |  LEFT JOIN (SELECT DISTINCT node, cluster FROM clustered) cl
      |    ON u.dst = cl.node
      |  WHERE n.node NOT IN (SELECT node FROM clustered)
      |  GROUP BY n.node)
      |SELECT CAST(node AS BIGINT) AS node, role, CAST(cluster AS BIGINT) AS cluster
      |FROM clustered
      |UNION ALL
      |SELECT CAST(node AS BIGINT),
      |  CASE WHEN nadj >= 2 THEN 'hub' ELSE 'outlier' END,
      |  CAST(NULL AS BIGINT)
      |FROM rest""".stripMargin

  /** Unrolled σ-BFS oracle: 10 levels over the div2+div4 digraph,
    * per-level σ = sum of parents' σ at the previous level only. */
  private val PathCountsOracleSql: String = {
    val rounds = (1 to 10).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT e.dst AS node, sum(v.sigma) AS sigma
         |  FROM v${i - 1} v JOIN e ON v.node = e.src
         |  WHERE v.dist = ${i - 1}
         |    AND e.dst NOT IN (SELECT node FROM v${i - 1})
         |  GROUP BY e.dst),
         |v$i AS MATERIALIZED (SELECT node, dist, sigma FROM v${i - 1}
         |  UNION ALL SELECT node, $i, sigma FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
       |e AS MATERIALIZED (
       |  SELECT k // 2 AS src, k AS dst FROM c WHERE k >= 2
       |  UNION ALL
       |  SELECT k // 4, k FROM c WHERE k >= 4),
       |v0 AS MATERIALIZED (SELECT 1 AS node, 0 AS dist, 1 AS sigma),
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist,
       |  CAST(sigma AS BIGINT) AS sigma
       |FROM v10""".stripMargin
  }

  /** Unrolled WL color refinement (graph_wl_colors oracle): 4 rounds of
    * color = md5-prefix56(own color || '|' || sorted neighbor colors)
    * over the symmetrized ornamented tree — the exact [[graft.functions.Md5Prefix64]]
    * value contract in DuckDB's `'0x' || substr(md5(s),1,14)` form. */
  private val WlOracleSql: String = {
    val base =
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |mx AS (SELECT max(k) AS mx FROM c),
        |e AS (
        |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |  UNION ALL
        |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
        |u0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM e WHERE src <> dst
        |   UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
        |c0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS node, CAST(1 AS BIGINT) AS color FROM u0)""".stripMargin
    val rounds = (1 to 4).map { i =>
      s"""g$i AS MATERIALIZED (
         |  SELECT u.src AS node,
         |    string_agg(CAST(c.color AS VARCHAR), ',' ORDER BY c.color) AS sig
         |  FROM u0 u JOIN c${i - 1} c ON u.dst = c.node GROUP BY u.src),
         |c$i AS MATERIALIZED (
         |  SELECT c.node,
         |    CAST(('0x' || substr(md5(CAST(c.color AS VARCHAR) || '|' ||
         |      coalesce(g.sig, '')), 1, 14)) AS BIGINT) AS color
         |  FROM c${i - 1} c LEFT JOIN g$i g ON c.node = g.node)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node, color AS wl_color FROM c4""".stripMargin
  }

  /** Cut-property MSF oracle (graph_mst_forest): with globally unique
    * weights an edge is in the unique minimum spanning forest iff its
    * endpoints are NOT connected using strictly lighter edges — checked
    * with one recursive lighter-edge reachability per edge (state space
    * = |edges| × |nations|, tiny on the nation-flow graph). */
  private val MstOracleSql: String =
    """WITH RECURSIVE flows AS (
      |  SELECT least(s.s_nationkey, c.c_nationkey) AS a,
      |         greatest(s.s_nationkey, c.c_nationkey) AS b,
      |         count(*) AS cnt
      |  FROM lineitem l
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE s.s_nationkey <> c.c_nationkey
      |  GROUP BY 1, 2),
      |e AS MATERIALIZED (
      |  SELECT a, b, cnt * 1024 + a * 32 + b AS w FROM flows),
      |rr AS (
      |  SELECT e.w AS ew, e.a AS node FROM e
      |  UNION
      |  SELECT rr.ew, CASE WHEN g.a = rr.node THEN g.b ELSE g.a END
      |  FROM rr JOIN e g
      |    ON g.w < rr.ew AND (g.a = rr.node OR g.b = rr.node))
      |SELECT CAST(e.a AS BIGINT) AS edge_u, CAST(e.b AS BIGINT) AS edge_v,
      |  CAST(e.w AS BIGINT) AS weight
      |FROM e
      |WHERE NOT EXISTS (SELECT 1 FROM rr WHERE rr.ew = e.w AND rr.node = e.b)""".stripMargin

  /** Unrolled densest-subgraph peel (graph_densest oracle): 14 rounds of
    * "drop nodes with deg·V ≤ 4·E", per-round (V, E) stats, then the
    * exact cross-multiplied argmax picks the densest round's node set
    * (earliest round wins ties, mirroring the operator's strict
    * improvement test). */
  private val DensestOracleSql: String = {
    val R = 14
    val base =
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |ck AS (SELECT k FROM c WHERE k % 100 = 0),
        |ed AS (
        |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |  UNION ALL
        |  SELECT x.k AS src, y.k AS dst FROM ck x JOIN ck y ON x.k < y.k),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM ed WHERE src <> dst),
        |s0 AS MATERIALIZED (
        |  SELECT a AS node FROM e0 UNION SELECT b FROM e0),
        |st0 AS ( SELECT (SELECT count(*) FROM s0) AS v,
        |         (SELECT count(*) FROM e0) AS e)""".stripMargin
    val rounds = (1 to R).map { i =>
      s"""d$i AS (
         |  SELECT node, count(*) AS deg FROM
         |    (SELECT a AS node FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY node),
         |s$i AS MATERIALIZED (
         |  SELECT s.node FROM s${i - 1} s
         |  LEFT JOIN d$i d ON s.node = d.node
         |  CROSS JOIN st${i - 1} t
         |  WHERE CAST(coalesce(d.deg, 0) AS HUGEINT) * t.v > 4 * CAST(t.e AS HUGEINT)),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN s$i x ON e.a = x.node JOIN s$i y ON e.b = y.node),
         |st$i AS ( SELECT (SELECT count(*) FROM s$i) AS v,
         |          (SELECT count(*) FROM e$i) AS e)""".stripMargin
    }.mkString(",\n")
    val allst = (0 to R)
      .map(i => s"SELECT $i AS r, v, e FROM st$i").mkString("\n  UNION ALL ")
    val picks = (0 to R)
      .map(i => s"SELECT node, b.v, b.e FROM s$i CROSS JOIN best b WHERE b.r = $i")
      .mkString("\n  UNION ALL ")
    s"""$base,
       |$rounds,
       |allst AS MATERIALIZED (
       |  $allst),
       |best AS MATERIALIZED (
       |  SELECT r, v, e FROM allst a
       |  WHERE v > 0 AND NOT EXISTS (
       |    SELECT 1 FROM allst b WHERE b.v > 0 AND
       |      (CAST(b.e AS HUGEINT) * a.v > CAST(a.e AS HUGEINT) * b.v
       |       OR (CAST(b.e AS HUGEINT) * a.v = CAST(a.e AS HUGEINT) * b.v
       |           AND b.r < a.r))))
       |SELECT CAST(node AS BIGINT) AS node, CAST(v AS BIGINT) AS sub_v,
       |  CAST(e AS BIGINT) AS sub_e
       |FROM ($picks)""".stripMargin
  }

  /** Unrolled deterministic-Luby MIS (graph_mis oracle): 10 rounds of
    * hash-priority local minima over the symmetrized ornamented tree.
    * Priorities pack (md5-prefix56, id) into one HUGEINT (h·2⁴⁰ + id)
    * — order-identical to the operator's (h, id) struct for id < 2⁴⁰. */
  private val MisOracleSql: String = {
    val K = "1099511627776" // 2^40
    val base =
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |mx AS (SELECT max(k) AS mx FROM c),
        |e AS (
        |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |  UNION ALL
        |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
        |e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM e WHERE src <> dst
        |   UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
        |ph AS MATERIALIZED (
        |  SELECT DISTINCT src AS node,
        |    CAST(CAST(('0x' || substr(md5(CAST(src AS VARCHAR)), 1, 14))
        |      AS BIGINT) AS HUGEINT) AS h
        |  FROM e0),
        |l0 AS MATERIALIZED (SELECT node FROM ph)""".stripMargin
    val rounds = (1 to 10).map { i =>
      s"""mn$i AS (
         |  SELECT u.src AS node, min(p.h * $K + u.dst) AS mp
         |  FROM e${i - 1} u JOIN ph p ON u.dst = p.node GROUP BY u.src),
         |w$i AS MATERIALIZED (
         |  SELECT l.node FROM l${i - 1} l
         |  JOIN ph p ON l.node = p.node
         |  LEFT JOIN mn$i m ON l.node = m.node
         |  WHERE m.mp IS NULL OR p.h * $K + l.node < m.mp),
         |k$i AS (
         |  SELECT node FROM w$i
         |  UNION
         |  SELECT u.dst FROM e${i - 1} u JOIN w$i w ON u.src = w.node),
         |l$i AS MATERIALIZED (
         |  SELECT node FROM l${i - 1} WHERE node NOT IN (SELECT node FROM k$i)),
         |e$i AS MATERIALIZED (
         |  SELECT u.src, u.dst FROM e${i - 1} u
         |  JOIN l$i x ON u.src = x.node JOIN l$i y ON u.dst = y.node)""".stripMargin
    }.mkString(",\n")
    val picks = (1 to 10).map(i => s"SELECT node FROM w$i").mkString("\n  UNION ALL ")
    s"""$base,
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node FROM ($picks)""".stripMargin
  }

  /** Unrolled mutual-minimum maximal matching (graph_matching oracle):
    * 10 rounds over the canonical a<b edge set; edge priority packs
    * (md5-prefix56 of 'a:b', a, b) into one HUGEINT (h·2⁷⁰ + a·2³⁵ + b)
    * — order-identical to the operator's (h, a, b) struct for
    * endpoints < 2³⁵. */
  private val MatchingOracleSql: String = {
    val K1 = "1180591620717411303424" // 2^70
    val K2 = "34359738368"            // 2^35
    val base =
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |mx AS (SELECT max(k) AS mx FROM c),
        |e AS (
        |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |  UNION ALL
        |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
        |c0 AS MATERIALIZED (
        |  SELECT a, b,
        |    CAST(CAST(('0x' || substr(md5(CAST(a AS VARCHAR) || ':' ||
        |      CAST(b AS VARCHAR)), 1, 14)) AS BIGINT) AS HUGEINT)
        |      * KONE + a * KTWO + b AS pe
        |  FROM (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM e WHERE src <> dst))""".stripMargin
        .replace("KONE", K1).replace("KTWO", K2)
    val rounds = (1 to 10).map { i =>
      s"""nm$i AS (
         |  SELECT node, min(pe) AS mp FROM (
         |    SELECT a AS node, pe FROM c${i - 1}
         |    UNION ALL SELECT b, pe FROM c${i - 1})
         |  GROUP BY node),
         |w$i AS MATERIALIZED (
         |  SELECT c.a, c.b FROM c${i - 1} c
         |  JOIN nm$i x ON c.a = x.node AND c.pe = x.mp
         |  JOIN nm$i y ON c.b = y.node AND c.pe = y.mp),
         |t$i AS (SELECT a AS node FROM w$i UNION SELECT b FROM w$i),
         |c$i AS MATERIALIZED (
         |  SELECT c.a, c.b, c.pe FROM c${i - 1} c
         |  WHERE c.a NOT IN (SELECT node FROM t$i)
         |    AND c.b NOT IN (SELECT node FROM t$i))""".stripMargin
    }.mkString(",\n")
    val picks = (1 to 10).map(i => s"SELECT a, b FROM w$i").mkString("\n  UNION ALL ")
    s"""$base,
       |$rounds
       |SELECT CAST(a AS BIGINT) AS edge_u, CAST(b AS BIGINT) AS edge_v
       |FROM ($picks)""".stripMargin
  }

  /** Unrolled Jones–Plassmann coloring (graph_coloring oracle): 12
    * rounds; a node is ready when no LIVE neighbor outranks it under the
    * HUGEINT-packed (md5-prefix56, id) priority, and takes the mex of
    * its already-colored neighbors' colors
    * (`list_min(list_filter(generate_series(0, n), not-in))`). */
  private val ColoringOracleSql: String = {
    val K = "1099511627776" // 2^40
    val base =
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |mx AS (SELECT max(k) AS mx FROM c),
        |e AS (
        |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |  UNION ALL
        |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
        |e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM e WHERE src <> dst
        |   UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
        |ph AS MATERIALIZED (
        |  SELECT DISTINCT src AS node,
        |    CAST(CAST(('0x' || substr(md5(CAST(src AS VARCHAR)), 1, 14))
        |      AS BIGINT) AS HUGEINT) * KAY + src AS p
        |  FROM e0),
        |l0 AS MATERIALIZED (SELECT node FROM ph),
        |col0 AS MATERIALIZED (
        |  SELECT CAST(NULL AS BIGINT) AS node, CAST(NULL AS BIGINT) AS color
        |  WHERE FALSE)""".stripMargin.replace("KAY", K)
    val rounds = (1 to 12).map { i =>
      s"""blk$i AS (
         |  SELECT DISTINCT u.src AS node FROM e0 u
         |  JOIN l${i - 1} a ON u.src = a.node
         |  JOIN l${i - 1} b ON u.dst = b.node
         |  JOIN ph pa ON u.src = pa.node JOIN ph pb ON u.dst = pb.node
         |  WHERE pb.p > pa.p),
         |r$i AS MATERIALIZED (
         |  SELECT node FROM l${i - 1}
         |  WHERE node NOT IN (SELECT node FROM blk$i)),
         |nc$i AS (
         |  SELECT u.src AS node, list_sort(list(DISTINCT c.color)) AS arr
         |  FROM e0 u JOIN col${i - 1} c ON u.dst = c.node
         |  WHERE u.src IN (SELECT node FROM r$i) GROUP BY u.src),
         |col$i AS MATERIALIZED (
         |  SELECT node, color FROM col${i - 1}
         |  UNION ALL
         |  SELECT r.node, coalesce(
         |    list_min(list_filter(generate_series(0, len(n.arr)),
         |      x -> NOT list_contains(n.arr, x))), 0) AS color
         |  FROM r$i r LEFT JOIN nc$i n ON r.node = n.node),
         |l$i AS MATERIALIZED (
         |  SELECT node FROM l${i - 1}
         |  WHERE node NOT IN (SELECT node FROM r$i))""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node, CAST(color AS BIGINT) AS color
       |FROM col12""".stripMargin
  }

  /** Unrolled FM-register neighborhood function (graph_anf oracle): 6
    * elementwise-max merge rounds over the symmetrized ornamented tree,
    * ρ = length(bin(h & −h)) from the shared md5-prefix hash — DuckDB's
    * bin() matches Spark's exactly ('1000' for 8, '0' for 0). */
  private val AnfOracleSql: String = {
    val base =
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |mx AS (SELECT max(k) AS mx FROM c),
        |e AS (
        |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |  UNION ALL
        |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
        |e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM e WHERE src <> dst
        |   UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
        |sk0 AS MATERIALIZED (
        |  SELECT node, i,
        |    CAST(length(bin(h & -h)) AS BIGINT) AS r
        |  FROM (
        |    SELECT n.node, g.i,
        |      CAST(('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' ||
        |        CAST(n.node AS VARCHAR)), 1, 14)) AS BIGINT) AS h
        |    FROM (SELECT DISTINCT src AS node FROM e0) n
        |    CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g))""".stripMargin
    val rounds = (1 to 6).map { t =>
      s"""sk$t AS MATERIALIZED (
         |  SELECT node, i, max(r) AS r FROM (
         |    SELECT node, i, r FROM sk${t - 1}
         |    UNION ALL
         |    SELECT e.src AS node, s.i, s.r
         |    FROM e0 e JOIN sk${t - 1} s ON e.dst = s.node)
         |  GROUP BY node, i)""".stripMargin
    }.mkString(",\n")
    val picks = (0 to 6).map(t =>
      s"SELECT CAST($t AS BIGINT) AS t, CAST(sum(r) AS BIGINT) AS sum_registers FROM sk$t")
      .mkString("\n  UNION ALL ")
    s"""$base,
       |$rounds
       |$picks""".stripMargin
  }

  /** Unrolled hash-walk oracle (graph_random_walks): 4 steps, each one
    * adjacency-array index pick `nbrs[h(walk@'step') mod degree + 1]`
    * over the sorted-distinct neighbor lists. */
  private val RandomWalksOracleSql: String = {
    val base =
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |mx AS (SELECT max(k) AS mx FROM c),
        |e AS (
        |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |  UNION ALL
        |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
        |u0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM e WHERE src <> dst
        |   UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
        |adj AS MATERIALIZED (
        |  SELECT src, list_sort(list(DISTINCT dst)) AS nbrs
        |  FROM u0 GROUP BY src),
        |w0 AS MATERIALIZED (
        |  SELECT k AS walk_id, k AS node FROM c WHERE k % 100 = 0)""".stripMargin
    val steps = (1 to 4).map { s =>
      s"""w$s AS MATERIALIZED (
         |  SELECT w.walk_id,
         |    a.nbrs[CAST(CAST(('0x' || substr(md5(concat(
         |      CAST(w.walk_id AS VARCHAR), '@', '$s')), 1, 14))
         |      AS BIGINT) % len(a.nbrs) AS INT) + 1] AS node
         |  FROM w${s - 1} w JOIN adj a ON w.node = a.src)""".stripMargin
    }.mkString(",\n")
    val picks = (0 to 4).map(s =>
      s"SELECT walk_id, CAST($s AS BIGINT) AS step, CAST(node AS BIGINT) AS node FROM w$s")
      .mkString("\n  UNION ALL ")
    s"""$base,
       |$steps
       |$picks""".stripMargin
  }

  /** Coreness oracle (graph_coreness): cores are nested, so
    * coreness(v) = 1 + Σ_{k=2..5} [v survives the k-peel]; each peel is
    * 8 unrolled cascade rounds over the tree + K5 graph. Max coreness
    * is 5, NOT 4: a planted clique at node 8m together with its tree
    * parent m (also a clique anchor when m % 100 = 0) forms a K6 —
    * every multiple of 100 has 8m ≡ 0 (mod 800), so these K6s exist at
    * every scale factor. */
  private val CorenessOracleSql: String = {
    val offs = (for (i <- 0 to 4; j <- (i + 1) to 4) yield s"($i, $j)")
      .mkString(", ")
    val base =
      s"""WITH c AS (SELECT c_custkey AS k FROM customer),
         |mx AS (SELECT max(k) AS mx FROM c),
         |ed AS (
         |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
         |  UNION ALL
         |  SELECT c.k + o.i, c.k + o.j
         |  FROM c CROSS JOIN mx CROSS JOIN (VALUES $offs) o(i, j)
         |  WHERE c.k % 100 = 0 AND c.k + 4 <= mx.mx),
         |u0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM ed WHERE src <> dst
         |   UNION ALL SELECT dst, src FROM ed WHERE src <> dst))""".stripMargin
    val peels = (2 to 5).map { k =>
      val rounds = (1 to 8).map { r =>
        s"""s${k}_$r AS MATERIALIZED (SELECT src AS node FROM u${k}_${r - 1}
           |  GROUP BY src HAVING count(*) >= $k),
           |u${k}_$r AS MATERIALIZED (SELECT u.src, u.dst FROM u${k}_${r - 1} u
           |  JOIN s${k}_$r a ON u.src = a.node
           |  JOIN s${k}_$r b ON u.dst = b.node)""".stripMargin
      }.mkString(",\n")
      s"""u${k}_0 AS MATERIALIZED (SELECT src, dst FROM u0),
         |$rounds,
         |core$k AS MATERIALIZED (SELECT DISTINCT src AS node FROM u${k}_8)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$peels
       |SELECT CAST(n.node AS BIGINT) AS node,
       |  CAST(1 + (CASE WHEN c2.node IS NULL THEN 0 ELSE 1 END)
       |     + (CASE WHEN c3.node IS NULL THEN 0 ELSE 1 END)
       |     + (CASE WHEN c4.node IS NULL THEN 0 ELSE 1 END)
       |     + (CASE WHEN c5.node IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS coreness
       |FROM (SELECT DISTINCT src AS node FROM u0) n
       |LEFT JOIN core2 c2 ON n.node = c2.node
       |LEFT JOIN core3 c3 ON n.node = c3.node
       |LEFT JOIN core4 c4 ON n.node = c4.node
       |LEFT JOIN core5 c5 ON n.node = c5.node""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the streaming accumulation must equal the one-shot batch probe
    // regardless of micro-batch slicing — same oracle, verbatim
    "stream_incremental_dedup" -> LlmQueries.oracles("dedup_incremental_minhash"),
    "stream_incremental_dedup_persisted" ->
      LlmQueries.oracles("dedup_incremental_minhash"),
    // the partition-pruned fixed-index probe is structural pruning, not
    // an approximation — same oracle a third time
    "stream_incremental_dedup_bucketed" ->
      LlmQueries.oracles("dedup_incremental_minhash"),
    // the growing-index sink must reproduce the one-shot full-corpus LSH
    "stream_growing_dedup" -> LlmQueries.oracles("dedup_minhash_lsh"),
    // ... and its composed clustering the one-shot components pipeline
    "stream_growing_components" -> LlmQueries.oracles("dedup_components"),
    // ... and the two-session resume with auto-compaction between must
    // land on the very same labels — the capstone composition
    "stream_growing_resume_compact" -> LlmQueries.oracles("dedup_components"),
    "stream_incremental_components" ->
      LlmQueries.oracles("dedup_incremental_components"),
    "stream_pattern_match" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.user_id, p.purchase_id, c.click_id,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.t, c.click_id) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id
        |  WHERE c.t < p.t AND c.t >= p.t - 3600000000)
        |SELECT user_id, purchase_id, click_id FROM j WHERE rn = 1""".stripMargin,
    "graph_anf" -> AnfOracleSql,
    "graph_random_walks" -> RandomWalksOracleSql,
    "graph_coreness" -> CorenessOracleSql,
    "graph_coloring" -> ColoringOracleSql,
    "stream_sliding_window" ->
      """WITH off AS (SELECT CAST(k AS BIGINT) AS k
        |  FROM (VALUES (0), (1), (2)) t(k)),
        |w AS (
        |  SELECT make_timestamp((epoch_us(ts) // 1200000000) * 1200000000
        |           - k * 1200000000) AS window_start,
        |         event_type, value
        |  FROM events CROSS JOIN off
        |  WHERE (epoch_us(ts) // 1200000000) * 1200000000 - k * 1200000000
        |        + 3600000000 > epoch_us(ts))
        |SELECT window_start, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    "graph_mis" -> MisOracleSql,
    "graph_matching" -> MatchingOracleSql,
    "graph_wl_colors" -> WlOracleSql,
    "graph_mst_forest" -> MstOracleSql,
    "graph_densest" -> DensestOracleSql,
    "graph_path_counts" -> PathCountsOracleSql,
    "stream_hll_distinct" ->
      """WITH parts AS (
        |  SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14)) AS BIGINT) % 64 AS bucket,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14)) AS BIGINT) // 64 AS rem
        |  FROM events),
        |regs AS (
        |  SELECT event_type, bucket,
        |    max(51 - CASE WHEN rem = 0 THEN 0 ELSE length(bin(rem)) END) AS r
        |  FROM parts GROUP BY event_type, bucket),
        |grid AS (
        |  SELECT event_type, b.bucket
        |  FROM (SELECT DISTINCT event_type FROM events)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bucket) b),
        |filled AS (
        |  SELECT g.event_type, coalesce(regs.r, 0) AS r
        |  FROM grid g LEFT JOIN regs
        |    ON g.event_type = regs.event_type AND g.bucket = regs.bucket),
        |sums AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(1 AS BIGINT) << (51 - r)) AS BIGINT) AS hs
        |  FROM filled GROUP BY event_type)
        |SELECT event_type,
        |  CAST(floor(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
        |             * CAST(2251799813685248 AS DOUBLE) / hs) AS BIGINT)
        |    AS est_distinct
        |FROM sums ORDER BY event_type""".stripMargin,
    "stream_upsert_sink" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |c AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
        |SELECT c.user_id, c.n_events, r.ts AS last_ts, r.event_type AS last_type
        |FROM c JOIN r ON c.user_id = r.user_id AND r.rn = 1""".stripMargin,
    "graph_scan_clusters" -> ScanOracleSql,
    "graph_rectangles" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |mx AS (SELECT max(k) AS mx FROM c),
        |e AS (
        |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |  UNION ALL
        |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
        |u0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM e WHERE src <> dst
        |   UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
        |w AS (
        |  SELECT x.dst AS u, y.dst AS v, count(*) AS cn
        |  FROM u0 x JOIN u0 y ON x.src = y.src AND x.dst < y.dst
        |  GROUP BY x.dst, y.dst)
        |SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
        |  CAST(cn AS BIGINT) AS common_neighbors,
        |  CAST(cn * (cn - 1) // 2 AS BIGINT) AS rectangles
        |FROM w WHERE cn >= 2""".stripMargin,
    "graph_diameter_sweep" -> DiameterOracleSql,
    "graph_condensation" ->
      """WITH RECURSIVE n AS (SELECT c_custkey - 1 AS k FROM customer),
        |mx AS (SELECT (max(k) // 4) * 4 AS fuse_dst FROM n),
        |cand AS (
        |  SELECT k AS src,
        |    CASE WHEN (k // 4) % 2 = 0 THEN (k // 4) * 4 + ((k % 4 + 1) % 4)
        |         ELSE k + 1 END AS dst
        |  FROM n WHERE (k // 4) % 2 = 0 OR k % 4 < 3
        |  UNION ALL
        |  SELECT k, (k // 256) * 4 FROM n WHERE k % 4 = 0 AND k > 0
        |  UNION ALL
        |  SELECT 0, fuse_dst FROM mx),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT c.src, c.dst FROM cand c JOIN n ON c.dst = n.k),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |mutual AS MATERIALIZED (
        |  SELECT a.src AS u, a.dst AS v
        |  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src),
        |vx AS (SELECT src AS u FROM e UNION SELECT dst FROM e),
        |comp AS MATERIALIZED (
        |  SELECT v.u AS node,
        |    greatest(v.u, coalesce(max(m.v), v.u)) AS component
        |  FROM vx v LEFT JOIN mutual m ON v.u = m.u GROUP BY v.u)
        |SELECT DISTINCT CAST(a.component AS BIGINT) AS comp_src,
        |  CAST(b.component AS BIGINT) AS comp_dst
        |FROM e JOIN comp a ON e.src = a.node JOIN comp b ON e.dst = b.node
        |WHERE a.component <> b.component""".stripMargin,
    "graph_scc" ->
      """WITH RECURSIVE n AS (SELECT c_custkey - 1 AS k FROM customer),
        |mx AS (SELECT (max(k) // 4) * 4 AS fuse_dst FROM n),
        |cand AS (
        |  SELECT k AS src,
        |    CASE WHEN (k // 4) % 2 = 0 THEN (k // 4) * 4 + ((k % 4 + 1) % 4)
        |         ELSE k + 1 END AS dst
        |  FROM n WHERE (k // 4) % 2 = 0 OR k % 4 < 3
        |  UNION ALL
        |  SELECT k, (k // 256) * 4 FROM n WHERE k % 4 = 0 AND k > 0
        |  UNION ALL
        |  SELECT 0, fuse_dst FROM mx),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT c.src, c.dst FROM cand c JOIN n ON c.dst = n.k),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |mutual AS MATERIALIZED (
        |  SELECT a.src AS u, a.dst AS v
        |  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src),
        |vx AS (SELECT src AS u FROM e UNION SELECT dst FROM e)
        |SELECT CAST(v.u AS BIGINT) AS node,
        |  CAST(greatest(v.u, coalesce(max(m.v), v.u)) AS BIGINT) AS component
        |FROM vx v LEFT JOIN mutual m ON v.u = m.u
        |GROUP BY v.u""".stripMargin,
    "graph_kcore" -> KcoreOracleSql,
    "graph_nearest_seed" -> NearestSeedOracleSql,
    "graph_neighbor_agg" ->
      """WITH c AS (SELECT c_custkey AS k,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS f
        |  FROM customer),
        |t AS (SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |      AND k // 8 <> k),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM
        |    (SELECT src, dst FROM t UNION ALL SELECT dst, src FROM t)),
        |l1 AS MATERIALIZED (
        |  SELECT u.src AS node, count(*) AS n_nbrs, sum(c.f) AS sum_f,
        |    sum(c.f) // count(*) AS mean_f
        |  FROM und u JOIN c ON u.dst = c.k GROUP BY u.src),
        |l2 AS (
        |  SELECT u.src AS node, sum(l.mean_f) // count(*) AS mean2_f
        |  FROM und u JOIN l1 l ON u.dst = l.node GROUP BY u.src)
        |SELECT CAST(l1.node AS BIGINT) AS node,
        |  CAST(l1.n_nbrs AS BIGINT) AS n_nbrs,
        |  CAST(l1.mean_f AS BIGINT) AS mean_f,
        |  CAST(l2.mean2_f AS BIGINT) AS mean2_f
        |FROM l1 JOIN l2 ON l1.node = l2.node""".stripMargin,
    "graph_hits" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
        |e AS MATERIALIZED (
        |  SELECT k // 2 AS src, k AS dst FROM c WHERE k >= 2
        |  UNION ALL
        |  SELECT k // 4 AS src, k AS dst FROM c WHERE k >= 4),
        |n AS MATERIALIZED (
        |  SELECT DISTINCT node FROM
        |    (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |a1 AS MATERIALIZED (
        |  SELECT n.node, coalesce(t.s, 0) AS auth FROM n LEFT JOIN
        |    (SELECT dst AS node, count(*) AS s FROM e GROUP BY dst) t
        |    USING (node)),
        |h1 AS MATERIALIZED (
        |  SELECT n.node, coalesce(t.s, 0) AS hub FROM n LEFT JOIN
        |    (SELECT e.src AS node, sum(a1.auth) AS s FROM e
        |     JOIN a1 ON e.dst = a1.node GROUP BY e.src) t USING (node)),
        |a2 AS MATERIALIZED (
        |  SELECT n.node, coalesce(t.s, 0) AS auth FROM n LEFT JOIN
        |    (SELECT e.dst AS node, sum(h1.hub) AS s FROM e
        |     JOIN h1 ON e.src = h1.node GROUP BY e.dst) t USING (node)),
        |h2 AS MATERIALIZED (
        |  SELECT n.node, coalesce(t.s, 0) AS hub FROM n LEFT JOIN
        |    (SELECT e.src AS node, sum(a2.auth) AS s FROM e
        |     JOIN a2 ON e.dst = a2.node GROUP BY e.src) t USING (node)),
        |a3 AS MATERIALIZED (
        |  SELECT n.node, coalesce(t.s, 0) AS auth FROM n LEFT JOIN
        |    (SELECT e.dst AS node, sum(h2.hub) AS s FROM e
        |     JOIN h2 ON e.src = h2.node GROUP BY e.dst) t USING (node)),
        |h3 AS MATERIALIZED (
        |  SELECT n.node, coalesce(t.s, 0) AS hub FROM n LEFT JOIN
        |    (SELECT e.src AS node, sum(a3.auth) AS s FROM e
        |     JOIN a3 ON e.dst = a3.node GROUP BY e.src) t USING (node))
        |SELECT h3.node, CAST(h3.hub AS BIGINT) AS hub,
        |  CAST(a3.auth AS BIGINT) AS auth
        |FROM h3 JOIN a3 USING (node)""".stripMargin,
    "graph_label_prop" ->
      s"""WITH $LabelPropCtes
         |SELECT CAST(node AS BIGINT) AS node, CAST(lab AS BIGINT) AS label
         |FROM l4""".stripMargin,
    "graph_community_quality" ->
      s"""WITH $LabelPropCtes,
         |undm AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e WHERE src <> dst),
         |lab2 AS (SELECT u.a, u.b, coalesce(x.lab, u.a) AS ca,
         |    coalesce(y.lab, u.b) AS cb
         |  FROM undm u LEFT JOIN l4 x ON u.a = x.node
         |              LEFT JOIN l4 y ON u.b = y.node),
         |mm AS (SELECT count(*) AS m FROM undm),
         |intra AS (SELECT ca AS c, count(*) AS e_c FROM lab2
         |  WHERE ca = cb GROUP BY 1),
         |deg AS (SELECT c, count(*) AS d_c FROM (
         |  SELECT ca AS c FROM lab2 UNION ALL SELECT cb AS c FROM lab2)
         |  GROUP BY 1),
         |agg AS (SELECT count(*) AS n_communities,
         |  sum(coalesce(e_c, 0)) AS se, sum(d_c * d_c) AS sd2
         |  FROM deg LEFT JOIN intra USING (c)),
         |q AS (SELECT n_communities,
         |  1000000 * (4 * mm.m * se - sd2) AS num, 4 * mm.m * mm.m AS den,
         |  mm.m AS m_edges FROM agg, mm)
         |SELECT CAST(n_communities AS BIGINT) AS n_communities,
         |  CAST(m_edges AS BIGINT) AS m_edges,
         |  CAST(CASE WHEN num < 0 THEN -((-num) // den)
         |            ELSE num // den END AS BIGINT) AS q_ppm
         |FROM q""".stripMargin,
    "graph_link_pred" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |mx AS (SELECT max(k) AS mx FROM c),
        |e AS (
        |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |  UNION ALL
        |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
        |ed AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e WHERE src <> dst),
        |adj AS MATERIALIZED (
        |  SELECT a AS node, b AS nbr FROM ed
        |  UNION ALL SELECT b, a FROM ed),
        |deg AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM adj GROUP BY node),
        |pairs AS (
        |  SELECT x.nbr AS u, y.nbr AS v, d.deg AS wdeg
        |  FROM adj x JOIN adj y ON x.node = y.node AND x.nbr < y.nbr
        |  JOIN deg d ON d.node = x.node),
        |sc AS MATERIALIZED (
        |  SELECT u, v, count(*) AS cn, sum(1000000000000 // wdeg) AS ra
        |  FROM pairs GROUP BY u, v),
        |cand AS (
        |  SELECT sc.* FROM sc LEFT JOIN ed ON sc.u = ed.a AND sc.v = ed.b
        |  WHERE ed.a IS NULL)
        |SELECT CAST(cand.u AS BIGINT) AS u, CAST(cand.v AS BIGINT) AS v,
        |  CAST(cn AS BIGINT) AS common_neighbors,
        |  CAST(ra AS BIGINT) AS ra_x1e12,
        |  CAST(cn * 1000000 // (du.deg + dv.deg - cn) AS BIGINT) AS jaccard_x1e6
        |FROM cand JOIN deg du ON du.node = cand.u
        |JOIN deg dv ON dv.node = cand.v
        |ORDER BY common_neighbors DESC, ra_x1e12 DESC, u, v LIMIT 200""".stripMargin,
    "graph_clustering" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |mx AS (SELECT max(k) AS mx FROM c),
        |e AS (
        |  SELECT k // 8 AS src, k AS dst FROM c WHERE k >= 8
        |  UNION ALL
        |  SELECT k, k + 1 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k + 1, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx
        |  UNION ALL
        |  SELECT k, k + 2 FROM c, mx WHERE k % 50 = 0 AND k + 2 <= mx),
        |ed AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e WHERE src <> dst),
        |deg AS MATERIALIZED (
        |  SELECT node, count(*) AS degree FROM
        |    (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed)
        |  GROUP BY node),
        |tr AS MATERIALIZED (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM ed e1
        |  JOIN ed e2 ON e2.a = e1.b
        |  JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT node, count(*) AS n FROM
        |    (SELECT unnest([x, y, z]) AS node FROM tr)
        |  GROUP BY node)
        |SELECT CAST(d.node AS BIGINT) AS node, CAST(d.degree AS BIGINT) AS degree,
        |  CAST(coalesce(cn.n, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN d.degree < 2 THEN 0
        |       ELSE floor(2000000.0 * coalesce(cn.n, 0)
        |                  / (d.degree * (d.degree - 1))) END AS BIGINT)
        |    AS clustering_x1e6
        |FROM deg d LEFT JOIN corners cn ON d.node = cn.node""".stripMargin,
    "stream_static_join" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,
    "stream_static_left_join" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
        |FROM events e LEFT JOIN customer c
        |  ON e.user_id = c.c_custkey AND c.c_mktsegment = 'BUILDING'""".stripMargin,
    "session_window_agg" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL 30 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS is_start
        |  FROM events),
        |islands AS (
        |  SELECT user_id, ts, value,
        |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM islands GROUP BY user_id, session_id""".stripMargin,
    "graph_bfs_distances" ->
      """WITH RECURSIVE e AS (
        |  SELECT CAST(c_custkey // 2 AS BIGINT) AS src,
        |         CAST(c_custkey AS BIGINT) AS dst
        |  FROM customer WHERE c_custkey >= 2),
        |bfs AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
        |  FROM customer WHERE c_custkey = 1
        |  UNION
        |  SELECT e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.node
        |  WHERE bfs.dist < 8)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM bfs GROUP BY node""".stripMargin,
    "graph_sssp" ->
      """WITH RECURSIVE e AS (
        |  SELECT CAST(c_custkey // 2 AS BIGINT) AS src,
        |         CAST(c_custkey AS BIGINT) AS dst,
        |         CAST(c_custkey % 7 + 1 AS BIGINT) AS w
        |  FROM customer WHERE c_custkey >= 2
        |  UNION ALL
        |  SELECT CAST(c_custkey // 4 AS BIGINT), CAST(c_custkey AS BIGINT),
        |         CAST(c_custkey % 11 + 3 AS BIGINT)
        |  FROM customer WHERE c_custkey >= 4),
        |sp AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
        |  FROM customer WHERE c_custkey = 1
        |  UNION
        |  SELECT e.dst, sp.dist + e.w FROM sp JOIN e ON e.src = sp.node)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM sp GROUP BY node""".stripMargin,
    "fixpoint_ancestors" ->
      """WITH RECURSIVE anc AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node,
        |         CAST(c_custkey // 2 AS BIGINT) AS ancestor
        |  FROM customer WHERE c_custkey >= 1
        |  UNION
        |  SELECT node, ancestor // 2 FROM anc WHERE ancestor >= 1)
        |SELECT node, ancestor FROM anc""".stripMargin,
    "centrality_pagerank" ->
      """WITH e AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS src,
        |         CAST(1000000 + c_nationkey AS BIGINT) AS dst FROM customer
        |  UNION
        |  SELECT CAST(1000000 + n_nationkey AS BIGINT),
        |         CAST(2000000 + n_regionkey AS BIGINT) FROM nation),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS node, CAST(SUM(r0.r // d.deg) AS BIGINT) AS m
        |       FROM e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c1.m, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c1 ON n.node = c1.node),
        |c2 AS (SELECT e.dst AS node, CAST(SUM(r1.r // d.deg) AS BIGINT) AS m
        |       FROM e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c2.m, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c2 ON n.node = c2.node),
        |c3 AS (SELECT e.dst AS node, CAST(SUM(r2.r // d.deg) AS BIGINT) AS m
        |       FROM e JOIN r2 ON e.src = r2.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c3.m, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c3 ON n.node = c3.node)
        |SELECT node, r AS rank_x1e6 FROM r3""".stripMargin,
    "graph_harmonic" ->
      """WITH RECURSIVE c AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
        |t AS (SELECT k // 2 AS src, k AS dst FROM c WHERE k >= 2),
        |und AS MATERIALIZED (
        |  SELECT src, dst FROM t UNION SELECT dst, src FROM t),
        |seeds AS (SELECT k AS seed FROM c WHERE k % 250 = 0),
        |walk(seed, node, dist) AS (
        |  SELECT seed, seed, 0 FROM seeds
        |  UNION
        |  SELECT w.seed, u.dst, w.dist + 1
        |  FROM walk w JOIN und u ON w.node = u.src WHERE w.dist < 5),
        |md AS (SELECT seed, node, min(dist) AS d FROM walk
        |       GROUP BY seed, node)
        |SELECT CAST(node AS BIGINT) AS node,
        |  CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_x1e6
        |FROM md WHERE d > 0 GROUP BY node""".stripMargin,
    "centrality_pagerank_weighted" ->
      """WITH e0 AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS src,
        |         CAST(1000000 + c_nationkey AS BIGINT) AS dst,
        |         CAST(c_custkey % 7 + 1 AS BIGINT) AS w FROM customer
        |  UNION ALL
        |  SELECT CAST(1000000 + n_nationkey AS BIGINT),
        |         CAST(2000000 + n_regionkey AS BIGINT),
        |         CAST(n_nationkey % 3 + 1 AS BIGINT) FROM nation),
        |e AS (SELECT src, dst, SUM(w) AS w FROM e0 GROUP BY src, dst),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS node, CAST(SUM((r0.r * e.w) // o.ow) AS BIGINT) AS m
        |       FROM e JOIN r0 ON e.src = r0.node JOIN ow o ON e.src = o.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c1.m, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c1 ON n.node = c1.node),
        |c2 AS (SELECT e.dst AS node, CAST(SUM((r1.r * e.w) // o.ow) AS BIGINT) AS m
        |       FROM e JOIN r1 ON e.src = r1.node JOIN ow o ON e.src = o.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c2.m, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c2 ON n.node = c2.node),
        |c3 AS (SELECT e.dst AS node, CAST(SUM((r2.r * e.w) // o.ow) AS BIGINT) AS m
        |       FROM e JOIN r2 ON e.src = r2.node JOIN ow o ON e.src = o.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c3.m, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c3 ON n.node = c3.node)
        |SELECT node, r AS rank_x1e6 FROM r3""".stripMargin,
    "centrality_pagerank_dangling" ->
      """WITH e AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS src,
        |         CAST(1000000 + c_nationkey AS BIGINT) AS dst FROM customer
        |  UNION
        |  SELECT CAST(1000000 + n_nationkey AS BIGINT),
        |         CAST(2000000 + n_regionkey AS BIGINT) FROM nation),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |dang AS (SELECT node FROM nodes
        |         WHERE node NOT IN (SELECT src FROM e)),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |s1 AS (SELECT COALESCE(SUM(r0.r), 0) // nn.n AS sh
        |       FROM r0 JOIN dang ON r0.node = dang.node CROSS JOIN nn GROUP BY nn.n),
        |c1 AS (SELECT e.dst AS node, CAST(SUM(r0.r // d.deg) AS BIGINT) AS m
        |       FROM e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n.node,
        |         CAST(150000 + (85 * (COALESCE(c1.m, 0) + s1.sh)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c1 ON n.node = c1.node CROSS JOIN s1),
        |s2 AS (SELECT COALESCE(SUM(r1.r), 0) // nn.n AS sh
        |       FROM r1 JOIN dang ON r1.node = dang.node CROSS JOIN nn GROUP BY nn.n),
        |c2 AS (SELECT e.dst AS node, CAST(SUM(r1.r // d.deg) AS BIGINT) AS m
        |       FROM e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n.node,
        |         CAST(150000 + (85 * (COALESCE(c2.m, 0) + s2.sh)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c2 ON n.node = c2.node CROSS JOIN s2),
        |s3 AS (SELECT COALESCE(SUM(r2.r), 0) // nn.n AS sh
        |       FROM r2 JOIN dang ON r2.node = dang.node CROSS JOIN nn GROUP BY nn.n),
        |c3 AS (SELECT e.dst AS node, CAST(SUM(r2.r // d.deg) AS BIGINT) AS m
        |       FROM e JOIN r2 ON e.src = r2.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n.node,
        |         CAST(150000 + (85 * (COALESCE(c3.m, 0) + s3.sh)) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c3 ON n.node = c3.node CROSS JOIN s3)
        |SELECT node, r AS rank_x1e6 FROM r3""".stripMargin,
    "centrality_ppr" ->
      """WITH e AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS src,
        |         CAST(1000000 + c_nationkey AS BIGINT) AS dst FROM customer
        |  UNION
        |  SELECT CAST(1000000 + n_nationkey AS BIGINT),
        |         CAST(2000000 + n_regionkey AS BIGINT) FROM nation),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e
        |          UNION SELECT CAST(c_custkey AS BIGINT) FROM customer
        |          WHERE c_custkey % 50 = 0),
        |sd AS (SELECT n.node,
        |         CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
        |       FROM nodes n LEFT JOIN (
        |         SELECT CAST(c_custkey AS BIGINT) AS node FROM customer
        |         WHERE c_custkey % 50 = 0) s ON n.node = s.node),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(is_seed * 1000000 AS BIGINT) AS r FROM sd),
        |c1 AS (SELECT e.dst AS node, CAST(SUM(r0.r // d.deg) AS BIGINT) AS m
        |       FROM e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n.node, CAST(n.is_seed * 150000 +
        |         (85 * COALESCE(c1.m, 0)) // 100 AS BIGINT) AS r
        |       FROM sd n LEFT JOIN c1 ON n.node = c1.node),
        |c2 AS (SELECT e.dst AS node, CAST(SUM(r1.r // d.deg) AS BIGINT) AS m
        |       FROM e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n.node, CAST(n.is_seed * 150000 +
        |         (85 * COALESCE(c2.m, 0)) // 100 AS BIGINT) AS r
        |       FROM sd n LEFT JOIN c2 ON n.node = c2.node),
        |c3 AS (SELECT e.dst AS node, CAST(SUM(r2.r // d.deg) AS BIGINT) AS m
        |       FROM e JOIN r2 ON e.src = r2.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n.node, CAST(n.is_seed * 150000 +
        |         (85 * COALESCE(c3.m, 0)) // 100 AS BIGINT) AS r
        |       FROM sd n LEFT JOIN c3 ON n.node = c3.node)
        |SELECT node, r AS rank_x1e6 FROM r3""".stripMargin,
    "graph_edge_support" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem WHERE l_partkey % 2 = 0),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
        |adj AS (SELECT a AS n, b AS m FROM e UNION ALL SELECT b, a FROM e),
        |s AS (
        |  SELECT e.a, e.b, count(*) AS c
        |  FROM e JOIN adj n1 ON n1.n = e.a
        |         JOIN adj n2 ON n2.n = e.b AND n2.m = n1.m
        |  GROUP BY e.a, e.b)
        |SELECT CAST(e.a AS BIGINT) AS a, CAST(e.b AS BIGINT) AS b,
        |  CAST(COALESCE(s.c, 0) AS BIGINT) AS support
        |FROM e LEFT JOIN s ON e.a = s.a AND e.b = s.b""".stripMargin,
    "graph_ktruss" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem WHERE l_partkey % 3 = 0),
        |e0 AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
        |adj0 AS (SELECT a AS n, b AS m FROM e0 UNION ALL SELECT b, a FROM e0),
        |s1 AS (
        |  SELECT e.a, e.b, count(*) AS c
        |  FROM e0 e JOIN adj0 n1 ON n1.n = e.a
        |            JOIN adj0 n2 ON n2.n = e.b AND n2.m = n1.m
        |  GROUP BY e.a, e.b),
        |e1 AS (SELECT a, b FROM s1 WHERE c >= 2),
        |adj1 AS (SELECT a AS n, b AS m FROM e1 UNION ALL SELECT b, a FROM e1),
        |s2 AS (
        |  SELECT e.a, e.b, count(*) AS c
        |  FROM e1 e JOIN adj1 n1 ON n1.n = e.a
        |            JOIN adj1 n2 ON n2.n = e.b AND n2.m = n1.m
        |  GROUP BY e.a, e.b)
        |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |  CAST(c AS BIGINT) AS support
        |FROM s2 WHERE c >= 2""".stripMargin,
    "graph_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
        |t AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT a AS node FROM e UNION SELECT b FROM e),
        |c AS (
        |  SELECT node, count(*) AS n FROM (
        |    SELECT x AS node FROM t UNION ALL
        |    SELECT y FROM t UNION ALL
        |    SELECT z FROM t) u
        |  GROUP BY node)
        |SELECT CAST(n.node AS BIGINT) AS node,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_triangles
        |FROM n LEFT JOIN c USING (node)""".stripMargin,
    "fixpoint_reach2" ->
      """WITH e AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS s, CAST(c_custkey // 2 AS BIGINT) AS d
        |  FROM customer WHERE c_custkey >= 1)
        |SELECT s AS node, d AS ancestor FROM e
        |UNION
        |SELECT a.s, b.d FROM e a JOIN e b ON a.d = b.s""".stripMargin,
    "stream_windowed_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_windowed_topk" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS window_start,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT window_start, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY window_start
        |      ORDER BY n DESC, event_type) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT window_start, event_type, CAST(n AS BIGINT) AS n, rnk
        |FROM r WHERE rnk <= 3""".stripMargin,
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type, ts FROM events""",
    "stream_stream_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
        |  c.event_id AS click_id, c.ts AS c_ts
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts <= p.ts""".stripMargin,
    "stream_stream_left_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click' AND user_id % 3 <> 0),
        |wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
        |         - INTERVAL 2 HOUR AS w)
        |SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
        |  c.event_id AS click_id, c.ts AS c_ts
        |FROM p JOIN c ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts <= p.ts
        |UNION ALL
        |SELECT p.event_id, p.user_id, p.ts,
        |  CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
        |FROM p, wm
        |WHERE p.ts < wm.w AND NOT EXISTS (
        |  SELECT 1 FROM c WHERE c.user_id = p.user_id
        |    AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts <= p.ts)""".stripMargin,
    "stream_incremental_feed" ->
      """WITH cp AS (SELECT max(ts) AS checkpoint FROM events
        |            WHERE ts < TIMESTAMP '2024-01-16')
        |SELECT event_type, count(*) AS n_new, max(ts) AS new_checkpoint
        |FROM events, cp WHERE ts > cp.checkpoint
        |GROUP BY event_type""".stripMargin,
    "source_json_events" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
  )
}
