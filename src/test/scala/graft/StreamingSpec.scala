package graft

import java.sql.Timestamp

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{GrowingDedupState, Streaming}
import graft.streaming.Streaming.{FirstSeen, KeyedEvent}

/** Structured Streaming behavior tests via MemoryStream (the synchronous
  * local-smoke pattern: feed batches, processAllAvailable, assert sink). */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("windowed event counts aggregate a replayed stream like a batch") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String, Double)]
    val df = source.toDF().toDF("ts", "event_type", "value")
    val agg = Streaming.windowedEventCounts(df, "ts", "1 hour", "2 hours")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_test").start()
    try {
      source.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.5),
        (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.5),
        (Timestamp.valueOf("2024-01-01 11:05:00"), "click", 4.0))
      q.processAllAvailable()
      val got = spark.table("win_test")
        .select($"window_start".cast("string"), $"event_type", $"n", $"sum_value")
        .as[(String, String, Long, Double)].collect().toSet
      assert(got == Set(
        ("2024-01-01 10:00:00", "click", 2L, 4.0),
        ("2024-01-01 11:00:00", "click", 1L, 4.0)))
    } finally q.stop()
  }

  test("stateful first-seen with event-time TTL emits once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val source = MemoryStream[KeyedEvent]
    // TTL = 5 min of event time after a key's last event
    val out = Streaming.firstSeenWithTtl(source.toDS(), ttlMs = 5 * 60 * 1000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ttl_test").start()
    try {
      source.addData(
        KeyedEvent(1L, "a", ts("2024-01-01 10:00:00")),
        KeyedEvent(1L, "a", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      assert(spark.table("ttl_test").count() == 0) // state alive, nothing emitted
      // advance the watermark past key 1's 10:06 timeout
      source.addData(KeyedEvent(2L, "b", ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      source.addData(KeyedEvent(3L, "c", ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      val emitted = spark.table("ttl_test").as[FirstSeen].collect()
        .map(f => f.key -> (f.firstTsMillis, f.nSeen)).toMap
      assert(emitted.get(1L).contains(
        (ts("2024-01-01 10:00:00").getTime, 2L)))
      assert(!emitted.contains(3L)) // newest key's state still alive
    } finally q.stop()
  }

  test("windowedTopK emits exact per-window top-k on close, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    def win(s: String) = ts(s).getTime / 3600000L * 3600000L
    val source = MemoryStream[Streaming.WinItem]
    val out = Streaming.windowedTopK(source.toDS(), windowMillis = 3600000L,
      k = 2, capacity = 16)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("topk_test").start()
    try {
      source.addData(
        Streaming.WinItem(win("2024-01-01 10:00:00"), "a", ts("2024-01-01 10:01:00")),
        Streaming.WinItem(win("2024-01-01 10:00:00"), "a", ts("2024-01-01 10:02:00")),
        Streaming.WinItem(win("2024-01-01 10:00:00"), "b", ts("2024-01-01 10:03:00")),
        Streaming.WinItem(win("2024-01-01 10:00:00"), "b", ts("2024-01-01 10:04:00")),
        Streaming.WinItem(win("2024-01-01 10:00:00"), "c", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      assert(spark.table("topk_test").count() == 0) // window still open
      // watermark past 11:00 closes the 10:00 window
      source.addData(Streaming.WinItem(
        win("2024-01-01 12:00:00"), "z", ts("2024-01-01 12:30:00")))
      q.processAllAvailable()
      val got = spark.table("topk_test").as[Streaming.WinTopK].collect()
        .map(t => (t.item, t.n, t.rnk)).toSet
      // k=2 of {a:2, b:2, c:1}: count ties break on item asc
      assert(got == Set(("a", 2L, 1L), ("b", 2L, 2L)))
    } finally q.stop()
  }

  test("windowedTopK over capacity degrades to Misra-Gries, still finds the heavy item") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    def win(s: String) = ts(s).getTime / 3600000L * 3600000L
    val source = MemoryStream[Streaming.WinItem]
    // capacity 2 over 5 distinct items, one majority item: the summary
    // must keep the majority item (frequency > n/capacity guarantee)
    val out = Streaming.windowedTopK(source.toDS(), windowMillis = 3600000L,
      k = 1, capacity = 2)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("topk_mg_test").start()
    try {
      val w = win("2024-01-01 10:00:00")
      val items = Seq.fill(12)("hot") ++ Seq("x", "y", "z", "u")
      source.addData(items.zipWithIndex.map { case (it, i) =>
        Streaming.WinItem(w, it, new Timestamp(w + 60000L * (i + 1))) }: _*)
      q.processAllAvailable()
      source.addData(Streaming.WinItem(
        win("2024-01-01 12:00:00"), "zz", ts("2024-01-01 12:30:00")))
      q.processAllAvailable()
      val got = spark.table("topk_mg_test").as[Streaming.WinTopK].collect()
      assert(got.length == 1 && got.head.item == "hot" && got.head.rnk == 1L)
    } finally q.stop()
  }

  test("patternDetect matches purchases to the earliest in-window click across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{PatternEvent, PatternMatch}
    def ev(id: Long, typ: String, s: String): PatternEvent = {
      val t = Timestamp.valueOf(s)
      PatternEvent(1L, id, typ, t, t.getTime * 1000L)
    }
    val source = MemoryStream[PatternEvent]
    val out = Streaming.patternDetect(source.toDS(), 3600L * 1000000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("pattern_test").start()
    try {
      // batch 1: two clicks then a purchase → earliest in-window click wins
      source.addData(
        ev(10L, "click", "2024-01-01 10:00:00"),
        ev(11L, "click", "2024-01-01 10:20:00"),
        ev(20L, "purchase", "2024-01-01 10:30:00"))
      q.processAllAvailable()
      // batch 2 (later event time): click 10 has aged out of the hour by
      // 11:10, click 11 is still in window — STATE carried it over
      source.addData(ev(21L, "purchase", "2024-01-01 11:10:00"))
      q.processAllAvailable()
      // batch 3: purchase with no click in its window emits nothing
      source.addData(ev(22L, "purchase", "2024-01-01 13:00:00"))
      q.processAllAvailable()
      val got = spark.table("pattern_test").as[PatternMatch].collect()
        .map(m => m.purchaseId -> m.clickId).toMap
      assert(got == Map(20L -> 10L, 21L -> 11L))
    } finally q.stop()
  }

  test("graphUpsertSink merges each micro-batch with full merge semantics") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val table = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame](null)
    val q = Streaming.graphUpsertSink(
      source.toDF().toDF("id", "name"), table, Seq("id"), tagOf = 100L + _).start()
    try {
      source.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      source.addData((2L, "b2"), (3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val out = table.get().select("id", "firstseen", "lastupdated", "name")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == Set(
      (1L, 100L, 100L, "a"),   // untouched by batch 1
      (2L, 100L, 101L, "b2"),  // updated: firstseen kept, lastupdated bumped
      (3L, 101L, 101L, "c")))  // created in batch 1
  }

  test("argmaxUpsertSink is independent of micro-batch slicing and order") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, struct}
    def run(batches: Seq[Seq[(Long, Long, String)]]): Set[(Long, Long, Long, String)] = {
      val source = MemoryStream[(Long, Long, String)]
      val table = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame](null)
      val q = Streaming.argmaxUpsertSink(
        source.toDF().toDF("user", "seq", "v"), table, Seq("user"),
        struct(col("seq"), col("v"))).start()
      try batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      table.get().select("user", "n_rows", "last.seq", "last.v")
        .as[(Long, Long, Long, String)].collect().toSet
    }
    val rows = Seq((1L, 1L, "a"), (1L, 3L, "c"), (1L, 2L, "b"), (2L, 1L, "x"))
    val sliced = run(Seq(rows.take(2), rows.drop(2)))
    val reversed = run(Seq(rows.drop(2), rows.take(2)))
    val oneShot = run(Seq(rows))
    val expect = Set((1L, 3L, 3L, "c"), (2L, 1L, 1L, "x"))
    assert(sliced == expect && reversed == expect && oneShot == expect)
  }

  test("stream-static enrichment joins each micro-batch against the dim table") {
    // the streaming form of the config-file broadcast source: a static
    // dimension joined into a live stream per micro-batch
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val source = MemoryStream[(Long, Double)]
    val enriched = source.toDF().toDF("user_id", "value")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_test").start()
    try {
      source.addData((1L, 5.0), (3L, 7.0))
      q.processAllAvailable()
      source.addData((2L, 9.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("enrich_test")
      .select("user_id", "tier").as[(Long, Option[String])].collect().toSet
    assert(out == Set((1L, Some("gold")), (3L, None), (2L, Some("basic"))))
  }

  test("stream-stream lookback join emits exactly the in-window matches") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val left = MemoryStream[(Long, Timestamp)]
    val right = MemoryStream[(Long, Timestamp, String)]
    val l = left.toDF().toDF("k", "lt").withWatermark("lt", "1 hour")
    val r = right.toDF().toDF("rk", "rt", "tag").withWatermark("rt", "1 hour")
    val joined = Streaming.eventTimeLookbackJoin(l, r, "k", "rk", "lt", "rt", "30 minutes")
      .select("k", "tag")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("lookback_test").start()
    try {
      right.addData((1L, ts("2024-01-01 10:00:00"), "in_window"),
        (1L, ts("2024-01-01 08:00:00"), "too_old"),
        (2L, ts("2024-01-01 10:10:00"), "wrong_key"))
      left.addData((1L, ts("2024-01-01 10:15:00")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("lookback_test").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "in_window"))) // 8:00 outside 30min, key 2 never joins
  }

  test("changelogSink folds each micro-batch into the snapshot, versions win across batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, String, Long)]
    val table = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame](null)
    val q = Streaming.changelogSink(
      source.toDF().toDF("k", "ver", "op", "v1"),
      table, Seq("k"), "ver", "op", Seq("v1")).start()
    try {
      source.addData((1L, 5L, "U", 10L), (2L, 6L, "U", 20L), (3L, 7L, "U", 30L))
      q.processAllAvailable()
      // batch 2: stale update for 1 loses to the stored version 5; delete
      // removes 2; 3 updates forward; 4 inserts
      source.addData((1L, 3L, "U", 99L), (2L, 8L, "D", 0L),
        (3L, 9L, "U", 31L), (4L, 10L, "U", 40L))
      q.processAllAvailable()
    } finally q.stop()
    val out = table.get().select("k", "ver", "v1")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 5L, 10L), (3L, 9L, 31L), (4L, 10L, 40L)))
  }

  test("stream-stream LEFT join: null row only after the watermark passes the left time") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val left = MemoryStream[(Long, Timestamp)]
    val right = MemoryStream[(Long, Timestamp, String)]
    val l = left.toDF().toDF("k", "lt").withWatermark("lt", "1 hour")
    val r = right.toDF().toDF("rk", "rt", "tag").withWatermark("rt", "1 hour")
    val joined = Streaming.eventTimeLookbackLeftJoin(
        l, r, "k", "rk", "lt", "rt", "30 minutes")
      .select(col("k"), col("lt"), col("tag"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("left_lookback_test").start()
    try {
      right.addData((1L, ts("2024-01-01 10:00:00"), "match"))
      left.addData((1L, ts("2024-01-01 10:15:00")),   // matched
        (2L, ts("2024-01-01 10:15:00")))              // unmatched, old
      q.processAllAvailable()
      // nothing beyond the match yet: watermark still at 09:15
      val early = spark.table("left_lookback_test").as[(Long, Timestamp, String)]
        .collect().toSet
      assert(early == Set((1L, ts("2024-01-01 10:15:00"), "match")))
      // advance both watermarks past 10:15 -> key 2's null row must emit;
      // the 23:00 unmatched row itself stays younger than the watermark
      left.addData((3L, ts("2024-01-01 23:00:00")))
      right.addData((99L, ts("2024-01-01 23:00:00"), "wm_push"))
      q.processAllAvailable()
      val late = spark.table("left_lookback_test").as[(Long, Timestamp, String)]
        .collect().toSet
      assert(late == Set(
        (1L, ts("2024-01-01 10:15:00"), "match"),
        (2L, ts("2024-01-01 10:15:00"), null)))
    } finally q.stop()
  }

  test("incrementalDedupSink equals the batch probe and absorbs duplicate replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.Dedup
    val hist = Dedup.shingleTable(Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different text about spark catalyst optimizer rules"),
      (3L, "another unrelated document mentioning shuffles joins and scans"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_sid").toString + "/idx"
    val index = Dedup.lshIndexArtifact(spark, hist, idxDir)
    val nearDup =
      "the quick brown fox jumps over the lazy dog again and again extra"
    val source = MemoryStream[(Long, String)]
    val df = source.toDF().toDF("doc_id", "text")
    val ref = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.DataFrame](null)
    val q = Streaming.incrementalDedupSink(df, index, 500000L, ref).start()
    try {
      source.addData((1L, nearDup))
      q.processAllAvailable()
      source.addData((4L, "fourth doc with nothing in common whatsoever here"))
      q.processAllAvailable()
      // two micro-batches accumulate exactly the batch probe's answer:
      // doc 1 matched its planted history near-dup, doc 4 matched nothing
      val got = ref.get().select("new_id", "old_id")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 0L)))
      // at-least-once replay: re-deliver batch 1 through the same merge —
      // the pair-key set union absorbs the duplicate rows entirely
      val replayHits = Dedup.incrementalMinhashIndexed(index,
        Dedup.shingleTable(Seq((1L, nearDup)).toDF("doc_id", "text"),
          "doc_id", "text"), 500000L)
      val after = Streaming.mergeDedupMatches(ref.get(), replayHits)
      assert(after.select("new_id", "old_id")
        .as[(Long, Long)].collect().toSet == Set((1L, 0L)))
      assert(after.count() == 1)
    } finally q.stop()
  }

  test("growingDedupSink accumulates the full-corpus LSH and replays idempotently") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.Dedup
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val pipe = "training data pipelines need deduplication at scale every day"
    val corpus = Seq(
      (0L, fox), (1L, fox + " extra"),          // near-dups, SPLIT across batches
      (2L, "completely different text about spark catalyst optimizer rules"),
      (5L, pipe), (6L, pipe + " more"),          // near-dups, SAME batch
      (7L, "another unrelated document mentioning shuffles joins and scans"))
    val source = MemoryStream[(Long, String)]
    val df = source.toDF().toDF("doc_id", "text")
    val state = GrowingDedupState(java.nio.file.Files
      .createTempDirectory("grow-dedup-state").toString)
    val q = Streaming.growingDedupSink(df, state, 500000L).start()
    try {
      // batch 1: docs 0, 2 — no pairs yet (empty-index self-LSH leg)
      source.addData(corpus.filter(d => Set(0L, 2L)(d._1)): _*)
      q.processAllAvailable()
      assert(state.matches(spark).count() == 0)
      // batch 2: doc 1 (cross-batch dup of 0) + same-batch dup pair 5/6
      source.addData(corpus.filter(d => Set(1L, 5L, 6L)(d._1)): _*)
      q.processAllAvailable()
      // batch 3: unrelated doc
      source.addData(corpus.filter(d => d._1 == 7L): _*)
      q.processAllAvailable()
      val got = state.matches(spark).select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
      // == the one-shot full-corpus LSH, found across batch boundaries
      // (0,1) and inside one batch (5,6)
      val oneShot = Dedup.minhashLsh(
        Dedup.shingleTable(corpus.toDF("doc_id", "text"), "doc_id", "text"),
        500000L).select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got == oneShot && got == Set((0L, 1L), (5L, 6L)))
      // index holds one signature row per doc, no raw text column
      assert(state.index(spark).count() == 6 &&
        !state.index(spark).columns.contains("text"))
      // at-least-once replay of batch 2's DATA after its docs joined the
      // index (a NEW batch id — harsher than a checkpoint replay, which
      // would overwrite in place): no self-pairs, no duplicate pairs,
      // the deduped index is unchanged
      source.addData(corpus.filter(d => Set(1L, 5L, 6L)(d._1)): _*)
      q.processAllAvailable()
      val replayed = state.matches(spark).select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
      assert(replayed == got && state.matches(spark).count() == 2)
      assert(state.index(spark).count() == 6)
    } finally q.stop()
  }

  test("persisted incremental dedup sink equals the in-memory variant and survives replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.Dedup
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val hist = Dedup.signatures(Dedup.shingleTable(
      Seq((0L, fox), (2L, "completely different text about catalyst rules"))
        .toDF("doc_id", "text"), "doc_id", "text"))
    val pairsDir = java.nio.file.Files
      .createTempDirectory("incdedup-pairs").toString
    val source = MemoryStream[(Long, String)]
    val df = source.toDF().toDF("doc_id", "text")
    val q = Streaming.incrementalDedupSinkPersisted(df, hist, 500000L,
      pairsDir).start()
    try {
      source.addData((1L, fox + " extra"))
      q.processAllAvailable()
      source.addData((3L, "unrelated doc about shuffles joins and scans"))
      q.processAllAvailable()
      val got = Streaming.readIncrementalMatches(spark, pairsDir)
        .select("new_id", "old_id").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 0L)))
      // replay batch 1's data as a NEW batch id (harsher than a
      // checkpoint replay, which overwrites in place): dedup at read
      source.addData((1L, fox + " extra"))
      q.processAllAvailable()
      assert(Streaming.readIncrementalMatches(spark, pairsDir).count() == 1)
    } finally q.stop()
  }

  test("growingComponentsSink with snapshotEvery amortizes snapshots, resumes exactly") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.Dedup
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val pipe = "training data pipelines need deduplication at scale every day"
    val corpus = Seq(
      (0L, fox), (1L, fox + " extra"),
      (2L, "completely different text about spark catalyst optimizer rules"),
      (5L, pipe), (6L, pipe + " more"),
      (7L, "another unrelated document mentioning shuffles joins and scans"))
    val root = java.nio.file.Files
      .createTempDirectory("grow-snapev-state").toString
    // session 1, snapshotEvery=2: batch 0 snapshots (zero pairs yet —
    // an EMPTY labeling), batch 1 folds pair (0,1) but does NOT
    // snapshot — that labeling only ever lives in the in-session cache,
    // which dies with the session
    val s1 = MemoryStream[(Long, String)]
    val q1 = Streaming.growingComponentsSink(
      s1.toDF().toDF("doc_id", "text"), GrowingDedupState(root, epoch = "0"),
      500000L, snapshotEvery = 2).start()
    try {
      s1.addData(corpus.filter(d => Set(0L, 2L)(d._1)): _*)
      q1.processAllAvailable()
      s1.addData(corpus.filter(d => Set(1L, 5L)(d._1)): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // session 2 streams the rest; its first fold must reconstruct the
    // exact state (latest snapshot ⊕ pair-store WAL) — pair (0,1)
    // exists ONLY in the WAL, never in any snapshot
    val s2 = MemoryStream[(Long, String)]
    val state2 = GrowingDedupState(root, epoch = "1")
    val q2 = Streaming.growingComponentsSink(
      s2.toDF().toDF("doc_id", "text"), state2, 500000L,
      snapshotEvery = 2).start()
    try {
      s2.addData(corpus.filter(d => Set(6L, 7L)(d._1)): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val sh = Dedup.shingleTable(corpus.toDF("doc_id", "text"), "doc_id", "text")
    val oneShotLabels = graft.graph.Fixpoint.connectedComponents(
      Dedup.minhashLsh(sh, 500000L)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .as[(Long, Long)].collect().toSet
    val got = state2.labels(spark).get.as[(Long, Long)].collect().toSet
    assert(got == oneShotLabels && got.nonEmpty,
      s"snapshotEvery resume diverged: $got vs $oneShotLabels")
  }

  test("components recovery survives an in-place replay overwrite of its own batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.Dedup
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val b0 = Seq((0L, fox), (1L, fox + " extra")) // near-dup pair INSIDE batch 0
    val b1 = Seq((2L, "completely different text about spark catalyst rules"))
    val root = java.nio.file.Files
      .createTempDirectory("grow-replay-overwrite").toString
    val s1 = MemoryStream[(Long, String)]
    val q1 = Streaming.growingComponentsSink(
      s1.toDF().toDF("doc_id", "text"), GrowingDedupState(root, epoch = "0"),
      500000L).start()
    try {
      s1.addData(b0: _*); q1.processAllAvailable()
      s1.addData(b1: _*); q1.processAllAvailable()
    } finally q1.stop()
    // the checkpoint-replay shape: a restarted query under the SAME
    // epoch re-delivers batch 0's data with batchId 0 — growDedupStep
    // OVERWRITES epoch=0/batch=0 (pairs incl. (0,1)) in place while the
    // recovered labeling (snapshot ⊕ pair-store WAL) is alive. The
    // recovery must therefore be eagerly materialized BEFORE the
    // overwrite — a lazy reference to the pre-append file listing would
    // FileNotFound at the snapshot publish and crash-loop every restart.
    val s2 = MemoryStream[(Long, String)]
    val state2 = GrowingDedupState(root, epoch = "0")
    val q2 = Streaming.growingComponentsSink(
      s2.toDF().toDF("doc_id", "text"), state2, 500000L).start()
    try {
      s2.addData(b0: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val corpus = b0 ++ b1
    val oneShotLabels = graft.graph.Fixpoint.connectedComponents(
      Dedup.minhashLsh(
        Dedup.shingleTable(corpus.toDF("doc_id", "text"), "doc_id", "text"),
        500000L).select(col("doc_a").as("a"), col("doc_b").as("b")))
      .as[(Long, Long)].collect().toSet
    assert(state2.labels(spark).get.as[(Long, Long)].collect().toSet
      == oneShotLabels)
    assert(state2.matches(spark).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet == Set((0L, 1L)))
  }

  test("store probe prunes band and payload partitions, equal to the full-scan probe") {
    import graft.dedup.Dedup
    import graft.streaming.BatchStore
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    // enough history docs to populate every one of the 8 band buckets
    val hist = (0L until 40L).map(i =>
      (i, s"history document number $i about topic ${i % 7} with words " +
        s"alpha beta gamma delta ${i} epsilon zeta eta theta iota kappa")) :+
      (99L, fox)
    val st = GrowingDedupState(java.nio.file.Files
      .createTempDirectory("probe-prune").toString,
      epoch = "0", bandBuckets = 8, payloadBuckets = 8)
    st.appendSignatures(Dedup.signatures(Dedup.shingleTable(
      hist.toDF("doc_id", "text"), "doc_id", "text")), 0L)
    val batchSh = Dedup.shingleTable(
      Seq((100L, fox + " indeed")).toDF("doc_id", "text"), "doc_id", "text")
    val pruned = st.probeComplete(batchSh, 500000L)
      .select("doc_a", "doc_b", "jacc_x1e6")
      .as[(Long, Long, Long)].collect().toSet
    val full = Dedup.incrementalMinhashComplete(
      spark.read.parquet(st.sigDir).drop("epoch", "batch", "pb"),
      batchSh, 500000L)
      .select("doc_a", "doc_b", "jacc_x1e6")
      .as[(Long, Long, Long)].collect().toSet
    assert(pruned == full && pruned.map(p => (p._1, p._2)) == Set((99L, 100L)))
    // the probe-ONLY leg (fixed-index serving, no within-batch term)
    // equals the full-scan incrementalMinhashIndexed output exactly
    val prunedIdx = st.probeIndexed(batchSh, 500000L)
      .select("new_id", "old_id", "jacc_x1e6")
      .as[(Long, Long, Long)].collect().toSet
    val fullIdx = Dedup.incrementalMinhashIndexed(
      spark.read.parquet(st.sigDir).drop("epoch", "batch", "pb"),
      batchSh, 500000L)
      .select("new_id", "old_id", "jacc_x1e6")
      .as[(Long, Long, Long)].collect().toSet
    assert(prunedIdx == fullIdx && prunedIdx.map(_._1) == Set(100L))
    // files-read contract: the 1-doc batch touches ≤ 4 of the 8 band
    // buckets, so the pruned path set is a strict subset of the store
    val bks = Dedup.bandTable(Dedup.pinned(batchSh))
      .select(pmod(xxhash64(col("band"), col("h1"), col("h2")), lit(8L))
        .cast("int").as("bk"))
      .distinct().as[Int].collect().toSeq
    assert(bks.size <= 4)
    val prunedPaths = st.prunedPaths(spark, st.bandDir, "bk", bks)
    val allPaths = st.prunedPaths(spark, st.bandDir, "bk", 0 until 8)
    assert(allPaths.size == 8, s"history should fill all 8 buckets: $allPaths")
    assert(prunedPaths.nonEmpty && prunedPaths.size < allPaths.size,
      s"probe must read a strict subset: ${prunedPaths.size}/${allPaths.size}")
    // the signature payload store is only read at the candidates' pb
    // buckets — one candidate old id ⇒ exactly one payload bucket
    val pbs = Seq(pmod(xxhash64(lit(99L)), lit(8L)).cast("int"))
      .map(e => spark.range(1).select(e.as("pb")).as[Int].head())
    assert(st.prunedPaths(spark, st.sigDir, "pb", pbs).size == 1)
    assert(st.prunedPaths(spark, st.sigDir, "pb", 0 until 8).size == 8)
    // hot-bucket guard parity: a boilerplate flood in the store is
    // skipped by the pruned probe's occupancy cap exactly as by the
    // full-scan probe's (census over the pruned read ≡ global census
    // for every probed bucket — partitioning is on the bucket key)
    val flood = (200L until 240L).map(i => (i, fox)) :+ (99L, fox)
    val stHot = GrowingDedupState(java.nio.file.Files
      .createTempDirectory("probe-prune-hot").toString,
      epoch = "0", bandBuckets = 8, payloadBuckets = 8)
    stHot.appendSignatures(Dedup.signatures(Dedup.shingleTable(
      flood.toDF("doc_id", "text"), "doc_id", "text")), 0L)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jacc_x1e6")
        .as[(Long, Long, Long)].collect().toSet
    val cappedPruned = pairsOf(stHot.probeComplete(batchSh, 500000L,
      maxBucketOccupancy = 10L))
    val cappedFull = pairsOf(Dedup.incrementalMinhashComplete(
      spark.read.parquet(stHot.sigDir).drop("epoch", "batch", "pb"),
      batchSh, 500000L, maxBucketOccupancy = 10L))
    assert(cappedPruned == cappedFull,
      s"guard parity broke: $cappedPruned vs $cappedFull")
    // and the cap actually suppressed the flood (uncapped finds it)
    assert(pairsOf(stHot.probeComplete(batchSh, 500000L)).size >
      cappedPruned.size)
  }

  test("re-ingested ids resolve deterministically at read (max payload, never a race)") {
    import graft.dedup.Dedup
    import graft.streaming.BatchStore
    val st = GrowingDedupState(java.nio.file.Files
      .createTempDirectory("det-reads").toString, epoch = "0")
    def sigsOf(text: String) = Dedup.signatures(Dedup.shingleTable(
      Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text"))
    val vA = sigsOf("first version of the document body entirely")
    val vB = sigsOf("second rewritten body with different words now")
    st.appendSignatures(vA, 0L)
    st.withEpoch("1").appendSignatures(vB, 0L) // cross-epoch re-ingestion
    val expected = BatchStore.dedupByMaxStruct(
      vA.unionByName(vB), Seq("doc_id")).collect().toSeq
    val got1 = st.index(spark).collect().toSeq
    val got2 = st.index(spark).collect().toSeq
    assert(got1 == expected && got2 == expected,
      "index read must pick the deterministic max-struct survivor")
    // pair store: duplicate pair keys keep the MAX score, both in the
    // growing store and in the persisted incremental sink read-back
    BatchStore.append(Seq((1L, 2L, 500000L)).toDF("doc_a", "doc_b", "jacc_x1e6"),
      st.pairDir, "0", 0L)
    BatchStore.append(Seq((1L, 2L, 700000L)).toDF("doc_a", "doc_b", "jacc_x1e6"),
      st.pairDir, "1", 0L)
    assert(st.matches(spark).as[(Long, Long, Long)].collect().toSeq
      == Seq((1L, 2L, 700000L)))
  }

  test("auto-compaction at session start: results identical, batch dirs bounded") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.Dedup
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val pipe = "training data pipelines need deduplication at scale every day"
    val corpus = Seq(
      (0L, fox), (1L, fox + " extra"),   // split across sessions
      (2L, "completely different text about spark catalyst optimizer rules"),
      (5L, pipe), (6L, pipe + " more"),
      (7L, "another unrelated document mentioning shuffles joins and scans"))
    val root = java.nio.file.Files
      .createTempDirectory("grow-autocompact").toString
    def batchDirs(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists()) 0
      else d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("epoch="))
        .flatMap(_.listFiles()).count(f => f.isDirectory && f.getName.startsWith("batch="))
    }
    // session 1 accumulates 3 batch dirs per store
    val s1 = MemoryStream[(Long, String)]
    val q1 = Streaming.growingComponentsSink(
      s1.toDF().toDF("doc_id", "text"),
      GrowingDedupState(root, epoch = "0"), 500000L).start()
    try {
      s1.addData(corpus.filter(d => Set(0L, 2L)(d._1)): _*); q1.processAllAvailable()
      s1.addData(corpus.filter(d => d._1 == 1L): _*); q1.processAllAvailable()
      s1.addData(corpus.filter(d => d._1 == 5L): _*); q1.processAllAvailable()
    } finally q1.stop()
    assert(batchDirs(root + "/sigs") == 3)
    // session 2's threshold (2) trips at session start: the sinks
    // compact BEFORE the first batch, then keep appending
    val s2 = MemoryStream[(Long, String)]
    val state2 = GrowingDedupState(root, epoch = "1", autoCompactAfter = 2)
    val q2 = Streaming.growingComponentsSink(
      s2.toDF().toDF("doc_id", "text"), state2, 500000L).start()
    try {
      s2.addData(corpus.filter(d => Set(6L, 7L)(d._1)): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    // one compacted dir + session 2's single batch per store
    assert(batchDirs(root + "/sigs") == 2 && batchDirs(root + "/pairs") == 2 &&
      batchDirs(root + "/bands") == 2,
      s"expected compact+1 dirs, got sigs=${batchDirs(root + "/sigs")}")
    val sh = Dedup.shingleTable(corpus.toDF("doc_id", "text"), "doc_id", "text")
    val oneShot = Dedup.minhashLsh(sh, 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(state2.matches(spark).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet == oneShot)
    assert(oneShot == Set((0L, 1L), (5L, 6L)))
    val oneShotLabels = graft.graph.Fixpoint.connectedComponents(
      Dedup.minhashLsh(sh, 500000L)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .as[(Long, Long)].collect().toSet
    assert(state2.labels(spark).get.as[(Long, Long)].collect().toSet
      == oneShotLabels)
  }

  test("append sweeps crashed staging/aside leftovers for its batch") {
    import graft.streaming.BatchStore
    val dir = java.nio.file.Files
      .createTempDirectory("append-sweep").toString
    val parent = new java.io.File(s"$dir/epoch=0")
    parent.mkdirs()
    new java.io.File(parent, ".batch=0._staging_deadbeef").mkdirs()
    new java.io.File(parent, ".batch=0._replaced_deadbeef").mkdirs()
    BatchStore.append(Seq((1L, 2L)).toDF("a", "b"), dir, "0", 0L)
    val leftovers = parent.listFiles().map(_.getName)
      .filter(n => n.contains("._staging_") || n.contains("._replaced_"))
    assert(leftovers.isEmpty, s"stale dirs must be swept: ${leftovers.toSeq}")
    assert(BatchStore.read(spark, dir).get.count() == 1)
  }

  test("compaction crash window: duplicate partitions read consistently, re-compaction converges") {
    import graft.streaming.BatchStore
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("compact-crash").toString
    BatchStore.append(Seq((1L, 2L, 900000L), (3L, 4L, 850000L))
      .toDF("doc_a", "doc_b", "jacc_x1e6"), dir, "0", 0L)
    BatchStore.append(Seq((5L, 6L, 800000L))
      .toDF("doc_a", "doc_b", "jacc_x1e6"), dir, "0", 1L)
    val want = Set((1L, 2L), (3L, 4L), (5L, 6L))
    def readPairs() = BatchStore.read(spark, dir).get
      .dropDuplicates("doc_a" :: "doc_b" :: Nil)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(readPairs() == want)
    // simulate a compaction that PUBLISHED its deduped partition but
    // crashed before deleting the originals: every row exists twice
    BatchStore.append(BatchStore.read(spark, dir).get
      .dropDuplicates("doc_a" :: "doc_b" :: Nil), dir, "crashed-compact", 0L)
    assert(readPairs() == want, "duplicate window must read consistently")
    // a re-run compaction converges the store to one epoch, rows intact
    BatchStore.compact(spark, dir, Seq("doc_a", "doc_b"))
    val epochs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
    assert(epochs.length == 1)
    assert(readPairs() == want)
  }

  /** Runs `body`, then fails if the scheduler logged a lost SQL metric
    * meanwhile: a task reported an update for an accumulator the driver
    * had already garbage-collected ("attempted to access non-existent
    * accumulator"), so that metric never reached its plan. */
  private def noLostMetrics[A](body: => A): A = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lost = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("lost-metrics", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val text = String.valueOf(e.getMessage.getFormattedMessage) +
          Option(e.getThrown).map(t => " " + t.getMessage).getOrElse("")
        if (text.contains("non-existent accumulator")) lost.add(text)
      }
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.scheduler.DAGScheduler").asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      val result = body
      assert(lost.isEmpty, s"lost SQL metrics: ${lost.toArray.mkString("; ")}")
      result
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("growing sinks resume from on-disk state across streaming sessions") (noLostMetrics {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.Dedup
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val pipe = "training data pipelines need deduplication at scale every day"
    val corpus = Seq(
      (0L, fox), (1L, fox + " extra"),   // split ACROSS sessions
      (2L, "completely different text about spark catalyst optimizer rules"),
      (5L, pipe), (6L, pipe + " more"),  // same second-session batch
      (7L, "another unrelated document mentioning shuffles joins and scans"))
    val root = java.nio.file.Files
      .createTempDirectory("grow-resume-state").toString
    // SESSION 1: docs 0, 2 through the components sink, then the query
    // (and its in-memory everything) is gone — only the store survives
    val s1 = MemoryStream[(Long, String)]
    val state1 = GrowingDedupState(root, epoch = "0")
    val q1 = Streaming.growingComponentsSink(
      s1.toDF().toDF("doc_id", "text"), state1, 500000L).start()
    try {
      s1.addData(corpus.filter(d => Set(0L, 2L)(d._1)): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // SESSION 2: a NEW query whose batch ids restart at 0 — the fresh
    // epoch keys its store partitions apart from session 1's
    val s2 = MemoryStream[(Long, String)]
    val state2 = GrowingDedupState(root, epoch = "1")
    val q2 = Streaming.growingComponentsSink(
      s2.toDF().toDF("doc_id", "text"), state2, 500000L).start()
    try {
      s2.addData(corpus.filter(d => Set(1L, 5L, 6L)(d._1)): _*)
      q2.processAllAvailable()
      s2.addData(corpus.filter(d => d._1 == 7L): _*)
      q2.processAllAvailable()
      // cross-epoch replay of a session-2 batch: lands as a new batch id
      // under epoch 1 — its pairs and signatures duplicate in the store
      // and must be absorbed at read/probe time
      s2.addData(corpus.filter(d => Set(1L, 5L, 6L)(d._1)): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    // matches, index, and labels all equal the one-shot full-corpus run:
    // pair (0,1) spans the SESSION boundary, so it only exists if the
    // second session actually probed the first session's on-disk index
    val sh = Dedup.shingleTable(corpus.toDF("doc_id", "text"), "doc_id", "text")
    val oneShot = Dedup.minhashLsh(sh, 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(state2.matches(spark).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet == oneShot)
    assert(oneShot == Set((0L, 1L), (5L, 6L)))
    assert(state2.index(spark).count() == 6)
    val labels = state2.labels(spark).get
      .as[(Long, Long)].collect().toSet
    val oneShotLabels = graft.graph.Fixpoint.connectedComponents(
      Dedup.minhashLsh(sh, 500000L)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .as[(Long, Long)].collect().toSet
    assert(labels == oneShotLabels)
    // the snapshot store keeps only the latest two labelings
    val snapDirs = new java.io.File(state2.labelDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      .flatMap(_.listFiles()).filter(_.getName.startsWith("batch="))
    assert(snapDirs.length == 2, s"expected 2 kept snapshots, got ${snapDirs.length}")
    // COMPACTION: collapse the per-batch dirs (including the replay's
    // cross-epoch duplicates) into one deduped partition per store —
    // matches and index must read back identical, and a THIRD session
    // over the compacted store must still probe the full history.
    // Offline compaction runs from a handle whose epoch holds no dirs:
    // compact() always spares the handle's own (live) epoch so a
    // checkpoint replay keeps overwriting in place.
    state2.withEpoch("offline-compactor").compact(spark)
    def epochDirs(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("epoch=")).toSeq
    assert(epochDirs(state2.sigDir).size == 1 &&
      epochDirs(state2.pairDir).size == 1,
      "compaction must leave exactly one epoch per store")
    // the label manifest's covered listing survived the compaction: it
    // repointed at the compact partition, so recovery stays O(tail)
    // instead of refolding the whole rewritten WAL on the next session
    val coveredAfter = graft.streaming.BatchStore
      .snapshotCovered(spark, state2.labelDir)
    assert(coveredAfter.nonEmpty && coveredAfter.forall(rel =>
        new java.io.File(s"$root/pairs/$rel").exists()),
      s"covered listing must name live partitions after compaction: $coveredAfter")
    assert(state2.unfoldedPairs(spark).isEmpty,
      "everything covered: recovery must have no WAL tail to fold")
    assert(state2.matches(spark).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet == oneShot)
    assert(state2.index(spark).count() == 6)
    val s3 = MemoryStream[(Long, String)]
    val state3 = GrowingDedupState(root, epoch = "2")
    val q3 = Streaming.growingDedupSink(
      s3.toDF().toDF("doc_id", "text"), state3, 500000L).start()
    try {
      s3.addData((8L, fox + " again")) // near-dup of session-1's doc 0
      q3.processAllAvailable()
    } finally q3.stop()
    val withNew = state3.matches(spark).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val oneShotPlus = Dedup.minhashLsh(
      Dedup.shingleTable((corpus :+ (8L, fox + " again"))
        .toDF("doc_id", "text"), "doc_id", "text"), 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(withNew == oneShotPlus && (withNew -- oneShot).nonEmpty,
      s"post-compaction probe missed history: $withNew vs $oneShotPlus")
  })

  test("components recovery folds only the WAL tail the snapshot does not cover") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.Dedup
    import graft.streaming.BatchStore
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val pipe = "training data pipelines need deduplication at scale every day"
    val corpus = Seq(
      (0L, fox), (1L, fox + " extra"),
      (2L, "completely different text about spark catalyst optimizer rules"),
      (5L, pipe), (6L, pipe + " more"))
    val root = java.nio.file.Files.createTempDirectory("wal-tail").toString
    val s1 = MemoryStream[(Long, String)]
    val state1 = GrowingDedupState(root, epoch = "0")
    val q1 = Streaming.growingComponentsSink(
      s1.toDF().toDF("doc_id", "text"), state1, 500000L).start()
    try {
      s1.addData(corpus.filter(d => Set(0L, 1L, 2L)(d._1)): _*)
      q1.processAllAvailable()
      s1.addData(corpus.filter(d => d._1 == 5L): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // the manifest's covered listing names every pair partition that
    // existed at publish time
    val covered = BatchStore.snapshotCovered(spark, state1.labelDir)
    assert(covered.toSet == state1.pairPartitions(spark).toSet &&
      covered.nonEmpty)
    // PROOF recovery reads only the uncovered tail: corrupt every
    // covered pair partition — their pairs live on inside the snapshot,
    // and any attempt to re-read them would fail loudly on the footer
    covered.foreach { rel =>
      new java.io.File(s"$root/pairs/$rel").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(pf => java.nio.file.Files.write(
          pf.toPath, "not a parquet file".getBytes("UTF-8")))
    }
    val s2 = MemoryStream[(Long, String)]
    val state2 = GrowingDedupState(root, epoch = "1")
    val q2 = Streaming.growingComponentsSink(
      s2.toDF().toDF("doc_id", "text"), state2, 500000L).start()
    try {
      s2.addData(corpus.filter(d => d._1 == 6L): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    // labels equal the one-shot full-corpus run: cluster (0,1) can only
    // come from the SNAPSHOT (its WAL partition is corrupt), and (5,6)
    // spans the session boundary through the index probe
    val oneShotLabels = graft.graph.Fixpoint.connectedComponents(
      Dedup.minhashLsh(Dedup.shingleTable(
        corpus.toDF("doc_id", "text"), "doc_id", "text"), 500000L)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .as[(Long, Long)].collect().toSet
    assert(state2.labels(spark).get.as[(Long, Long)].collect().toSet
      == oneShotLabels)
    assert(oneShotLabels.map(_._1) == Set(0L, 1L, 5L, 6L))
  }

  test("compaction rebuilds bands from the surviving payloads (no chimera stores)") {
    import graft.dedup.Dedup
    val st = GrowingDedupState(java.nio.file.Files
      .createTempDirectory("compact-chimera").toString, epoch = "0")
    val textA = "first version of the shared document body with original words"
    val textB = "second rewritten version carrying mostly different vocabulary now"
    def sigsOf(rows: Seq[(Long, String)]) = Dedup.signatures(
      Dedup.shingleTable(rows.toDF("doc_id", "text"), "doc_id", "text"))
    st.appendSignatures(sigsOf(Seq(
      (1L, textA), (2L, "unrelated filler about sparks and shuffles today"))), 0L)
    st.withEpoch("1").appendSignatures(sigsOf(Seq((1L, textB))), 0L)
    st.withEpoch("offline").compact(spark)
    // the band store must be EXACTLY the bands of the surviving payloads:
    // deduping bands independently (per-band max(h1, h2)) can crown a
    // DIFFERENT re-ingested version than the payload's max-struct
    // survivor, so near-dups of the surviving text would probe into
    // deleted band rows and silently miss
    val survivors = st.index(spark)
    val got = spark.read.parquet(st.bandDir)
      .select("doc_id", "band", "h1", "h2")
      .as[(Long, Int, Long, Long)].collect().toSet
    val want = Dedup.bandsOf(survivors)
      .select("doc_id", "band", "h1", "h2")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got == want, "band store must mirror the surviving payloads")
    // and a near-dup of the SURVIVING version still finds doc 1
    val survShingles = survivors.filter(col("doc_id") === 1L)
      .select("shingles").as[Seq[Long]].head()
    val bShingles = sigsOf(Seq((1L, textB)))
      .select("shingles").as[Seq[Long]].head()
    val winner = if (survShingles == bShingles) textB else textA
    val pairs = st.probeComplete(Dedup.shingleTable(
        Seq((9L, winner + " indeed")).toDF("doc_id", "text"),
        "doc_id", "text"), 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 9L)),
      s"post-compaction probe must match the surviving version: $pairs")
  }

  test("legacy pre-bucketed store: probe fails loudly, session-start compaction migrates") {
    import graft.dedup.Dedup
    import graft.streaming.BatchStore
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val st = GrowingDedupState(java.nio.file.Files
      .createTempDirectory("legacy-migrate").toString, epoch = "fresh")
    // simulate the pre-bucketed layout: raw signature rows, no pb
    // column, no band store, no _BUCKETS pin
    BatchStore.append(Dedup.signatures(Dedup.shingleTable(Seq(
        (0L, fox), (2L, "unrelated document about catalyst rewrite rules"))
      .toDF("doc_id", "text"), "doc_id", "text")), st.sigDir, "0", 0L)
    val batch = Dedup.shingleTable(
      Seq((1L, fox + " extra")).toDF("doc_id", "text"), "doc_id", "text")
    // silently degrading to self-LSH would un-probe the whole history
    val err = intercept[IllegalStateException](st.probeComplete(batch, 500000L))
    assert(err.getMessage.contains("pre-bucketed"))
    // migration = the session-start compaction the sinks already run,
    // unconditionally for a legacy store (no _BUCKETS pin)
    assert(st.maybeAutoCompact(spark))
    val pairs = st.probeComplete(batch, 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)), s"migrated history must be probed: $pairs")
    // a crashed migration leaves flat originals NEXT TO the bucketed
    // compact partition; the retry must read the mixed layout (one
    // mixed-depth read fails partition discovery) and converge
    BatchStore.append(Dedup.signatures(Dedup.shingleTable(
        Seq((7L, fox)).toDF("doc_id", "text"), "doc_id", "text")),
      st.sigDir, "leftover", 0L)
    assert(st.maybeAutoCompact(spark), "mixed layout must re-trigger migration")
    val sigEpochs = new java.io.File(st.sigDir).listFiles()
      .filter(_.isDirectory).count(_.getName.startsWith("epoch="))
    assert(sigEpochs == 1, s"retry must converge to one epoch: $sigEpochs")
    val pairs2 = st.probeComplete(batch, 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs2 == Set((0L, 1L), (1L, 7L)),
      s"both flat and bucketed history must survive the retry: $pairs2")
    // the r16→r17 upgrade shape: a checkpoint restart REUSES the legacy
    // epoch — flat batches must migrate even in the LIVE epoch (sparing
    // them would wedge the store forever: the error's prescribed remedy
    // would be a no-op and the probe would keep throwing)
    val stLive = GrowingDedupState(java.nio.file.Files
      .createTempDirectory("legacy-live-epoch").toString, epoch = "0")
    BatchStore.append(Dedup.signatures(Dedup.shingleTable(
        Seq((0L, fox)).toDF("doc_id", "text"), "doc_id", "text")),
      stLive.sigDir, "0", 0L)
    assert(stLive.maybeAutoCompact(spark),
      "live-epoch legacy data must still trigger migration")
    val pairsLive = stLive.probeComplete(batch, 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairsLive == Set((0L, 1L)),
      s"live-epoch legacy history must be probeable after migration: $pairsLive")
    // a legacy store whose flat batches were all EMPTY (footer-only
    // part files): migration publishes zero survivors and must not
    // crash on the band rebuild — it just leaves a clean empty store
    val stEmpty = GrowingDedupState(java.nio.file.Files
      .createTempDirectory("legacy-empty").toString, epoch = "fresh")
    BatchStore.append(Dedup.signatures(Dedup.shingleTable(
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text")), stEmpty.sigDir, "0", 0L)
    assert(stEmpty.maybeAutoCompact(spark))
    assert(BatchStore.read(spark, stEmpty.sigDir).isEmpty)
    assert(stEmpty.probeComplete(batch, 500000L).count() == 0L)
  }

  test("zero-row batches publish nothing; partitioned stores stay readable") {
    import graft.dedup.Dedup
    import graft.streaming.BatchStore
    val st = GrowingDedupState(java.nio.file.Files
      .createTempDirectory("empty-batch").toString, epoch = "0")
    def sigsOf(rows: Seq[(Long, String)]) = Dedup.signatures(
      Dedup.shingleTable(rows.toDF("doc_id", "text"), "doc_id", "text"))
    // a partitioned write of zero rows emits NO part files: publishing
    // the skeleton would wedge every later read on schema inference
    st.appendSignatures(sigsOf(Seq.empty), 0L)
    assert(BatchStore.read(spark, st.sigDir).isEmpty &&
      BatchStore.read(spark, st.bandDir).isEmpty)
    assert(!st.maybeAutoCompact(spark)) // and compaction has nothing to do
    st.appendSignatures(sigsOf(Seq((1L, "some real document body here"))), 1L)
    assert(st.index(spark).count() == 1)
    // a replay of batch 1 that delivers zero rows overwrites to absent
    st.appendSignatures(sigsOf(Seq.empty), 1L)
    assert(BatchStore.read(spark, st.sigDir).isEmpty)
  }

  test("auto-compaction spares the live epoch so checkpoint replays overwrite in place") {
    import graft.dedup.Dedup
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val st = GrowingDedupState(java.nio.file.Files
      .createTempDirectory("compact-replay").toString,
      epoch = "0", autoCompactAfter = 1)
    def sigsOf(rows: Seq[(Long, String)]) = Dedup.signatures(
      Dedup.shingleTable(rows.toDF("doc_id", "text"), "doc_id", "text"))
    st.appendSignatures(sigsOf(Seq((0L, fox))), 0L)
    st.appendSignatures(sigsOf(Seq(
      (2L, "unrelated body about query planning and shuffles"))), 1L)
    st.withEpoch("prev").appendSignatures(sigsOf(Seq(
      (5L, "an older session document entirely about other things"))), 0L)
    st.withEpoch("prev").appendSignatures(sigsOf(Seq(
      (6L, "yet another archived document from that older session"))), 1L)
    // restart-from-checkpoint shape: session start auto-compacts (the
    // threshold counts COMPACTABLE dirs only — the spared live epoch's
    // dirs cannot trip a compaction that would not touch them), then
    // the stream re-delivers batch 1 under its ORIGINAL (epoch, batch)
    assert(st.maybeAutoCompact(spark))
    val sigEpochs = new java.io.File(st.sigDir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("epoch=")).toSet
    assert(sigEpochs.contains("epoch=0") && !sigEpochs.contains("epoch=prev"),
      s"must compact prev epochs and spare the live one: $sigEpochs")
    st.appendSignatures(sigsOf(Seq(
      (2L, "unrelated body about query planning and shuffles"))), 1L)
    // in-place overwrite, not a duplicate append: the hot-bucket
    // occupancy census counts rows, so a swallowed-then-replayed batch
    // would permanently double its docs' bucket occupancy
    val bandRows = spark.read.parquet(st.bandDir)
      .filter(col("doc_id") === 2L).count()
    assert(bandRows == 4L, s"replay must not duplicate band rows: $bandRows")
    // and the compacted prev-epoch history is still probed
    val pairs = st.probeComplete(Dedup.shingleTable(
        Seq((1L, fox + " extra")).toDF("doc_id", "text"),
        "doc_id", "text"), 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
    // NEXT session's replay frontier moves past batch 1 (both batches
    // committed): the live epoch's history below the frontier is now
    // final and MUST compact — the long-lived single-epoch query's
    // listing cost stays bounded, not just the fresh-epoch case
    assert(st.maybeAutoCompact(spark, liveEpochSafeBelow = 2L))
    val sigEpochs2 = new java.io.File(st.sigDir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("epoch=")).toSet
    assert(!sigEpochs2.contains("epoch=0") && sigEpochs2.size == 1,
      s"committed live-epoch batches must compact at the frontier: $sigEpochs2")
    val pairs2 = st.probeComplete(Dedup.shingleTable(
        Seq((1L, fox + " extra")).toDF("doc_id", "text"),
        "doc_id", "text"), 500000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs2 == Set((0L, 1L)))
  }

  test("a failed signature chain fails its batch, leaves nothing running, replays exactly") {
    import scala.jdk.CollectionConverters._
    import graft.dedup.Dedup
    import org.apache.spark.sql.streaming.StreamingQueryException
    implicit val sqlCtx = spark.sqlContext
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val pipe = "training data pipelines need deduplication at scale every day"
    val corpus = Seq(
      (0L, fox), (1L, fox + " extra"),   // split across sessions
      (2L, "completely different text about spark catalyst optimizer rules"),
      (5L, pipe), (6L, pipe + " more"),
      (7L, "another unrelated document mentioning shuffles joins and scans"))
    val root = java.nio.file.Files.createTempDirectory("grow-chain-crash").toString
    val ckpt = java.nio.file.Files.createTempDirectory("grow-chain-ckpt").toString
    val s1 = MemoryStream[(Long, String)]
    val q1 = Streaming.growingComponentsSink(s1.toDF().toDF("doc_id", "text"),
      GrowingDedupState(root, epoch = "0"), 500000L).start()
    try {
      s1.addData(corpus.filter(d => Set(0L, 2L)(d._1)): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // no test hook: a plain file where session 2's band partitions must
    // go, so only the second thread's band append can fail
    val blocker = new java.io.File(s"$root/bands/epoch=1")
    java.nio.file.Files.write(blocker.toPath, "not a dir".getBytes("UTF-8"))
    val s2 = MemoryStream[(Long, String)]
    val state2 = GrowingDedupState(root, epoch = "1")
    def start() = Streaming.growingComponentsSink(s2.toDF().toDF("doc_id", "text"),
      state2, 500000L).option("checkpointLocation", ckpt).start()
    val q2 = start()
    s2.addData(corpus.filter(d => Set(1L, 5L, 6L)(d._1)): _*)
    val err = intercept[StreamingQueryException](q2.processAllAvailable())
    q2.stop()
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(c => String.valueOf(c.getMessage)).toSeq
    assert(causes.exists(_.contains("bands/epoch=1")),
      s"the batch must fail with the band append's error: $causes")
    // joined before the batch returned: no chain thread, no running job
    def chainThreads() = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-signature-chain"))
    val deadline = System.nanoTime() + 10000000000L
    while (chainThreads().nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(chainThreads().isEmpty, s"chain thread still alive: ${chainThreads()}")
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    // payload before bands: the chain published its payload, then failed
    assert(new java.io.File(s"$root/sigs/epoch=1/batch=0").isDirectory)
    // restart from the checkpoint: batch 0 replays and overwrites in place
    blocker.delete()
    val q3 = start()
    try {
      q3.processAllAvailable()
      s2.addData(corpus.filter(d => d._1 == 7L): _*)
      q3.processAllAvailable()
    } finally q3.stop()
    val oneShotLabels = graft.graph.Fixpoint.connectedComponents(
      Dedup.minhashLsh(Dedup.shingleTable(
        corpus.toDF("doc_id", "text"), "doc_id", "text"), 500000L)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .as[(Long, Long)].collect().toSet
    assert(state2.labels(spark).get.as[(Long, Long)].collect().toSet == oneShotLabels)
    assert(oneShotLabels.map(_._1) == Set(0L, 1L, 5L, 6L))
    // every doc exactly once in the raw stores (the replay overwrote its
    // partitions), and in the index after compaction
    def perDoc(dir: String) = spark.read.parquet(dir).groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    val ids = corpus.map(_._1).toSet
    assert(perDoc(state2.sigDir) == ids.map(_ -> 1L).toMap)
    assert(perDoc(state2.bandDir) == ids.map(_ -> 4L).toMap)
    state2.withEpoch("offline").compact(spark)
    assert(state2.index(spark).groupBy("doc_id").count().as[(Long, Long)]
      .collect().toMap == ids.map(_ -> 1L).toMap)
  }

  /** One job of a growing-components micro-batch: a footer-inference job
    * is the one whose every RDD is the bare parallelize -> mapPartitions
    * pair; a broadcast job carries its exchange's job tag; the signature
    * chain's two appends run off the stream thread. */
  private case class BatchJob(id: Int, desc: String, footer: Boolean, broadcast: Boolean) {
    def chain: Boolean = Set("grow: payload append", "grow: band append")(desc)
  }

  /** The jobs of steady batches 1 and 2 of a three-batch components
    * stream, by batch id; measured once, read by both budget tests. */
  private lazy val steadyBatchJobs: Map[String, Seq[BatchJob]] = {
    implicit val sqlCtx = spark.sqlContext
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val pipe = "training data pipelines need deduplication at scale every day"
    val batches = Seq(
      Seq((0L, fox), (2L, "completely different text about spark catalyst optimizer rules"),
        (3L, pipe)),
      Seq((1L, fox + " extra"), (4L, "another unrelated document mentioning shuffles joins")),
      Seq((5L, pipe + " more"), (6L, fox + " extra again"),
        (7L, "a last unrelated document about broadcast hash joins")))
    // the streaming gates' session: one shuffle partition, no AQE
    val (_, starts) = withConf("spark.sql.shuffle.partitions" -> "1",
        "spark.sql.adaptive.enabled" -> "false") {
      val src = MemoryStream[(Long, String)]
      val q = Streaming.growingComponentsSink(src.toDF().toDF("doc_id", "text"),
        GrowingDedupState(java.nio.file.Files.createTempDirectory("grow-budget").toString),
        500000L).start()
      jobStarts {
        try batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
        finally q.stop()
      }
    }
    batchJobs(starts, "1", "2")
  }

  /** The jobs of micro-batches `ids` among `starts`, by batch id. */
  private def batchJobs(starts: Seq[SparkListenerJobStart], ids: String*): Map[String, Seq[BatchJob]] = {
    val byBatch = starts.flatMap { e =>
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      prop("streaming.sql.batchId").map { b =>
        val scopes = e.stageInfos.flatMap(_.rddInfos).map(_.scope.map(_.name).getOrElse(""))
        b -> BatchJob(e.jobId, prop("spark.job.description").getOrElse(""),
          scopes.forall(Set("parallelize", "mapPartitions")),
          prop("spark.job.tags").exists(_.contains("broadcast exchange")))
      }
    }.groupBy(_._1).map { case (b, js) => b -> js.map(_._2) }
    ids.map(b => b -> byBatch.getOrElse(b, Nil)).toMap
  }

  test("a steady growing-components batch runs at most 15 jobs, none a footer read") {
    steadyBatchJobs.foreach { case (b, js) =>
      assert(js.nonEmpty && js.size <= 15, s"batch $b ran ${js.size} jobs")
      assert(!js.exists(_.footer), s"batch $b ran footer-read jobs ${js.filter(_.footer).map(_.id)}")
    }
  }

  test("a steady growing-components batch runs at most 8 jobs, 1 broadcast, none a footer read") {
    steadyBatchJobs.toSeq.sortBy(_._1).foreach { case (b, js) =>
      info(s"batch $b: " + js.sortBy(_.id).map(j =>
        s"${j.id} ${j.desc}${if (j.broadcast) " [broadcast]" else ""}").mkString("; "))
      assert(js.nonEmpty && js.size <= 8, s"batch $b ran ${js.size} jobs")
      assert(js.count(!_.chain) <= 6, s"batch $b ran ${js.count(!_.chain)} stream-thread jobs")
      assert(js.count(_.broadcast) <= 1, s"batch $b ran ${js.count(_.broadcast)} broadcast jobs")
      assert(!js.exists(_.footer), s"batch $b ran footer-read jobs ${js.filter(_.footer).map(_.id)}")
    }
  }

  test("a file-sourced steady growing-components batch runs at most 11 jobs, 3 broadcasts, none a footer read") {
    implicit val sqlCtx = spark.sqlContext
    // three parquet files of 100 documents, drained one file per trigger:
    // with file statistics the probe's candidate join and the
    // verification broadcast, as in the benchmark's stream_ingest batches
    // (the MemoryStream batches above plan sort-merge joins instead)
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 400).map(i => s"w$i")
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    (0L until 300L).foreach { id =>
      // every third document a one-word edit of an earlier one
      val text = if (id % 3 == 2) {
        val words = docs(rnd.nextInt(docs.size))._2.split(" ")
        words.updated(rnd.nextInt(words.length), vocab(rnd.nextInt(vocab.size))).mkString(" ")
      } else Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      docs += id -> text
    }
    val srcDir = java.nio.file.Files.createTempDirectory("grow-files-src").toString
    docs.grouped(100).foreach { b =>
      b.toSeq.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
      Thread.sleep(20) // distinct file times keep the trigger order
    }
    val (_, starts) = withConf("spark.sql.shuffle.partitions" -> "1",
        "spark.sql.adaptive.enabled" -> "false") {
      jobStarts {
        val q = Streaming.growingComponentsSink(
          spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", "1").parquet(srcDir),
          GrowingDedupState(java.nio.file.Files.createTempDirectory("grow-files").toString),
          800000L).start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    batchJobs(starts, "1", "2").toSeq.sortBy(_._1).foreach { case (b, js) =>
      info(s"batch $b: " + js.sortBy(_.id).map(j =>
        s"${j.id} ${j.desc}${if (j.broadcast) " [broadcast]" else ""}").mkString("; "))
      assert(js.nonEmpty && js.size <= 11, s"batch $b ran ${js.size} jobs")
      assert(js.count(_.broadcast) <= 3, s"batch $b ran ${js.count(_.broadcast)} broadcast jobs")
      assert(!js.exists(_.footer), s"batch $b ran footer-read jobs ${js.filter(_.footer).map(_.id)}")
    }
  }

  test("a probe over many uncompacted batches reads its pruned paths without a listing job") {
    import graft.dedup.Dedup
    implicit val sqlCtx = spark.sqlContext
    // 24 topics, one doc per topic in each of 4 batches: each batch fills
    // all 16 band buckets, so the last probe reads 48 bk paths — past the
    // 32 at which spark.read lists them in a Spark job — and every doc
    // has a near-dup in every other batch
    val docs = (0L until 96L).map { i =>
      val t = i % 24
      (i, (Seq("a", "b", "c", "d", "e", "f", "g", "h").map(w => s"w$t$w") :+ s"tail$i").mkString(" "))
    }
    val st = GrowingDedupState(java.nio.file.Files.createTempDirectory("grow-listing").toString)
    val src = MemoryStream[(Long, String)]
    val q = Streaming.growingDedupSink(src.toDF().toDF("doc_id", "text"), st, 500000L).start()
    val (_, starts) = jobStarts {
      try docs.grouped(24).foreach { b => src.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    val listings = starts.flatMap(e => Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))))
      .filter(_.startsWith("Listing leaf files"))
    assert(st.prunedPaths(spark, st.bandDir, "bk", 0 until 16).size == 64)
    assert(listings.isEmpty, s"listing jobs ran: ${listings.mkString("; ")}")
    val oneShot = Dedup.minhashLsh(Dedup.shingleTable(docs.toDF("doc_id", "text"),
      "doc_id", "text"), 500000L).select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(oneShot.size > 100)
    assert(st.matches(spark).select("doc_a", "doc_b").as[(Long, Long)].collect().toSet == oneShot)
  }

  test("a second streaming query compiles almost no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    implicit val sqlCtx = spark.sqlContext
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val batches = Seq(
      Seq((0L, fox), (2L, "completely different text about spark catalyst optimizer rules")),
      Seq((1L, fox + " extra"), (4L, "another unrelated document mentioning shuffles joins")))
    // each query runs under its own clone of the session; generated
    // classes are cached per (classloader, source), so a per-session
    // classloader would recompile every class the first query compiled
    def drain(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val src = MemoryStream[(Long, String)]
      val q = Streaming.growingComponentsSink(src.toDF().toDF("doc_id", "text"),
        GrowingDedupState(java.nio.file.Files.createTempDirectory("grow-codegen").toString),
        500000L).start()
      try batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = drain()
    val second = drain()
    info(s"compiles: first query $first, second query $second")
    assert(second <= 3, s"the second query compiled $second classes (the first $first)")
  }
}
