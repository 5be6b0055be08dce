package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Lineage._

/** Streaming analogs of the reference's incremental-batch machinery
  * (SURVEY §2.10). The reference has no true streaming runtime — it
  * re-syncs with update tags and lookback windows; these operators are the
  * Structured Streaming expression of the same semantics, plus the
  * batch-incremental checkpoint feed it actually uses.
  */
object Streaming {

  /** Tumbling-window event aggregation with a watermark — the streaming
    * form of the CloudTrail lookback aggregation
    * (cloudtrail_management_events.py:63-117, 234-310: the reference
    * handles late data by re-reading the whole lookback window; the
    * watermark replaces that re-read). Works on a streaming DataFrame.
    * Designed for append output — the watermark actually evicts window
    * state, so state stays O(open windows) instead of growing with every
    * window ever seen. */
  def windowedEventCounts(events: DataFrame, eventTimeCol: String,
                          windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding (hopping) window event aggregation with a watermark: every
    * event lands in windowLen/slide overlapping windows, each emitted
    * once on close under append mode — the smoothed-rate / trailing-
    * window monitoring read that tumbling windows quantize away. Same
    * state-eviction contract as [[windowedEventCounts]]; state volume
    * scales by the overlap factor, which is why slide is a parameter
    * and not hardcoded fine-grained. */
  def slidingWindowCounts(events: DataFrame, eventTimeCol: String,
                          windowLen: String, slide: String,
                          watermark: String): DataFrame =
    events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Incremental checkpoint feed (CVE-feed analog,
    * cartography/intel/cve/feed.py:41-66,156-199): emit only rows newer
    * than the persisted checkpoint, plus the new checkpoint value. The
    * checkpoint rides as a broadcast scalar — no driver-side collect. */
  def incrementalFeed(table: DataFrame, tsCol: String,
                      checkpoint: DataFrame): DataFrame = {
    val cp = checkpoint.select(col("checkpoint"))
    table.crossJoin(broadcast(cp))
      .filter(col(tsCol) > col("checkpoint"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_new"), max(col(tsCol)).as("new_checkpoint"))
  }

  /** Stream-stream inner join with an event-time lookback bound: left
    * rows match right rows of the same key whose timestamp falls in
    * `[leftTime - lookback, leftTime]`. Works identically in batch and
    * streaming; in streaming BOTH inputs must carry a watermark — the
    * time-bound condition is what lets Spark evict join state (a right
    * row older than the watermark minus the lookback can never match
    * again), so state stays O(rows-per-lookback-window) instead of
    * unbounded. The attribution-join shape: purchases pick up the clicks
    * that preceded them. */
  def eventTimeLookbackJoin(left: DataFrame, right: DataFrame,
                            leftKey: String, rightKey: String,
                            leftTime: String, rightTime: String,
                            lookback: String): DataFrame =
    left.join(right,
      col(leftKey) === col(rightKey) &&
        col(rightTime) >= col(leftTime) - expr(s"INTERVAL $lookback") &&
        col(rightTime) <= col(leftTime))

  /** LEFT OUTER form of [[eventTimeLookbackJoin]] — the attribution join
    * that also KEEPS unattributed left rows (purchases with no prior
    * click). In streaming this is the join whose null side is gated by
    * the watermark: an unmatched left row may only emit once the global
    * watermark (min over both inputs' `max(eventTime) − delay`) passes
    * its timestamp, proving no matching right row can still arrive —
    * Spark emits those in the no-data batch that follows the watermark
    * advance, and left rows younger than the final watermark never
    * surface (they are still join state when the stream ends). Same
    * plan in batch = a plain left outer with the time bound. */
  def eventTimeLookbackLeftJoin(left: DataFrame, right: DataFrame,
                                leftKey: String, rightKey: String,
                                leftTime: String, rightTime: String,
                                lookback: String): DataFrame =
    left.join(right,
      col(leftKey) === col(rightKey) &&
        col(rightTime) >= col(leftTime) - expr(s"INTERVAL $lookback") &&
        col(rightTime) <= col(leftTime),
      "left_outer")

  /** Streaming dedup: drop repeated keys with bounded state — the
    * watermark expires dedup state for keys older than the delay, so state
    * stays O(keys-per-window) instead of O(all keys ever). The streaming
    * form of exact dedup for continuous ingest. */
  def dedupByKey(events: DataFrame, eventTimeCol: String, watermark: String,
                 keyCols: Seq[String]): DataFrame =
    events.withWatermark(eventTimeCol, watermark)
      .dropDuplicates(keyCols :+ eventTimeCol)

  /** Continuous graph ingestion: every micro-batch upserts into a node
    * table through the SAME merge the batch sync path uses — the
    * always-on form of the reference's scheduled re-syncs. Each batch id
    * maps to an update tag (`tagOf`), so firstseen/lastupdated/cleanup
    * semantics carry over unchanged and a stale-tag cleanup can run
    * against any completed tag. The table rides in an AtomicReference of
    * a localCheckpointed DataFrame here; on a real deployment the lambda
    * body is the identical `MERGE INTO` against a Delta/bucketed catalog
    * table — foreachBatch is the documented streaming-upsert idiom. */
  def graphUpsertSink(stream: DataFrame,
                      table: java.util.concurrent.atomic.AtomicReference[DataFrame],
                      keys: Seq[String],
                      tagOf: Long => Long): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      table.updateAndGet { cur =>
        val merged =
          if (cur == null) graft.graph.GraphStore.initialLoad(batch, keys, tagOf(batchId))
          else graft.graph.GraphStore.merge(cur, batch, keys, tagOf(batchId))
        merged.pinEager // materialize: batch input is transient
      }
      ()
    }

  /** Commutative micro-batch upsert sink: each batch reduces to per-key
    * (additive row count, lexicographic-MAX payload struct) and merges
    * into the table with the same two aggregates — an associative,
    * commutative merge, so the final table is INDEPENDENT of how the
    * source was sliced into micro-batches and of their arrival order.
    * That is the property a replayed or backfilled stream needs to
    * converge on the batch answer (raw last-writer-wins depends on
    * arrival order by construction, which is why [[graphUpsertSink]]'s
    * epoch semantics can't be oracle-gated under nondeterministic file
    * ordering, and this can). Put the event-time total order (ts,
    * unique id) first in the payload struct and "latest" is exact.
    * At scale the lambda body is the identical MERGE INTO against a
    * Delta/bucketed table; the AtomicReference-of-localCheckpoint is
    * the in-process stand-in. */
  def argmaxUpsertSink(stream: DataFrame,
                       table: java.util.concurrent.atomic.AtomicReference[DataFrame],
                       keyCols: Seq[String],
                       payload: org.apache.spark.sql.Column): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val b = batch.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n_rows"), max(payload).as("last"))
      table.updateAndGet { cur =>
        val merged =
          if (cur == null) b
          else cur.unionByName(b).groupBy(keyCols.map(col): _*)
            .agg(sum(col("n_rows")).as("n_rows"), max(col("last")).as("last"))
        merged.pinEager // materialize: batch input is transient
      }
      ()
    }

  /** Streaming CDC apply: every micro-batch of changelog records
    * (key + version + op + values) compacts into the evolving snapshot
    * through [[graft.operators.Changelog.apply]] — the streaming form of
    * incremental materialization (a Debezium topic folding into a serving
    * table). Within a batch the version column orders writes; across
    * batches the snapshot re-enters the argmax as upserts AT ITS STORED
    * VERSIONS, so a stale record arriving in a later batch still loses:
    * apply(apply(s, b1), b2) ≡ apply(s, b1 ∪ b2) for every key the
    * snapshot retains. The one asymmetry with the true union: delete
    * tombstones are NOT retained across batches (the key is gone from
    * the snapshot), so a cross-batch reordering of a delete and an OLDER
    * upsert resurrects the key — deliver per-key in order, or retain
    * tombstones for a retention window at scale, exactly the Kafka
    * compacted-topic contract. The snapshot rides in an AtomicReference
    * of a localCheckpointed DataFrame here; at scale the lambda body is
    * the identical MERGE against a Delta/bucketed catalog table. */
  def changelogSink(stream: DataFrame,
                    table: java.util.concurrent.atomic.AtomicReference[DataFrame],
                    keys: Seq[String], versionCol: String, opCol: String,
                    valueCols: Seq[String]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      table.updateAndGet { cur =>
        val cols = keys ++ Seq(versionCol, opCol) ++ valueCols
        val changes =
          if (cur == null) batch.select(cols.map(col): _*)
          else cur.withColumn(opCol, lit("U")).select(cols.map(col): _*)
            .unionByName(batch.select(cols.map(col): _*))
        val empty = changes.select((keys ++ valueCols).map(col): _*).limit(0)
        graft.operators.Changelog.apply(empty, changes, keys,
          versionCol, opCol, valueCols)
          .pinEager // materialize: batch input is transient
      }
      ()
    }

  final case class PatternEvent(userId: Long, eventId: Long, eventType: String,
                                eventTime: java.sql.Timestamp, tsMicros: Long)
  final case class PatternMatch(userId: Long, purchaseId: Long, clickId: Long)

  /** Per-key conversion→first-touch pattern detection as an arbitrary
    * state machine: for every `purchase` event emit the EARLIEST
    * `click` of the same key inside the preceding lookback window
    * (ties to the smaller click id) — the streaming sessionless
    * attribution join expressed with flatMapGroupsWithState rather
    * than a stream-stream join, because the state we need (the click
    * buffer, pruned to the lookback) is tiny and explicit where the
    * join's state store would buffer both sides.
    *
    * State per key: the (tsMicros, clickId) pairs still inside the
    * lookback of the newest event seen; event-time timeout drops idle
    * keys. Exact when each key's batches arrive in event-time order
    * (single-batch replay always is); out-of-order ACROSS micro-batches
    * can miss a late click the way any watermarked stream op can. */
  def patternDetect(events: Dataset[PatternEvent],
                    lookbackMicros: Long): Dataset[PatternMatch] = {
    import events.sparkSession.implicits._
    events.withWatermark("eventTime", "0 seconds")
      .groupByKey(_.userId)
      .flatMapGroupsWithState[Seq[(Long, Long)], PatternMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, it, state: GroupState[Seq[(Long, Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val evs = it.toSeq
            val clicks = state.getOption.getOrElse(Seq.empty) ++
              evs.filter(_.eventType == "click")
                .map(e => (e.tsMicros, e.eventId))
            val matches = evs.filter(_.eventType == "purchase").flatMap { p =>
              val cands = clicks.filter(c =>
                c._1 < p.tsMicros && c._1 >= p.tsMicros - lookbackMicros)
              if (cands.isEmpty) None
              else Some(PatternMatch(key, p.eventId, cands.min._2))
            }
            val maxTs = evs.map(_.tsMicros).max
            state.update(clicks.filter(_._1 > maxTs - lookbackMicros))
            state.setTimeoutTimestamp(maxTs / 1000 + lookbackMicros / 1000 + 1)
            matches.iterator
          }
      }
  }

  final case class WinItem(winStart: Long, item: String,
                           eventTime: java.sql.Timestamp)
  final case class WinTopK(winStart: Long, item: String, n: Long, rnk: Long)

  /** Streaming windowed top-k: for each tumbling event-time window, the
    * k most frequent items, emitted exactly once when the watermark
    * closes the window (the "most-used role over the lookback window"
    * read — cartography/intel/aws/cloudtrail_management_events.py:234-310
    * serves it as a batch query over the ingested lookback; here it is
    * a live stream with bounded state). Per-window state is a
    * Misra–Gries summary capped at `capacity` counters — O(capacity)
    * per open window regardless of stream volume, and EXACT whenever
    * the window's distinct-item count stays ≤ capacity (the gate's
    * event-type domain; at larger domains the summary degrades
    * gracefully to the classic ε=1/capacity heavy-hitters guarantee
    * instead of growing state). Rank breaks count ties on the item for
    * a deterministic emission. `winStart` must be the window's epoch
    * millis (floor(ts / window) * window, stamped upstream); the
    * event-time timeout fires at winStart + windowMillis, so emission
    * is watermark-driven, deterministic under replay slicing. */
  def windowedTopK(events: Dataset[WinItem], windowMillis: Long, k: Int,
                   capacity: Int): Dataset[WinTopK] = {
    import events.sparkSession.implicits._
    events.withWatermark("eventTime", "0 seconds")
      .groupByKey(_.winStart)
      .flatMapGroupsWithState[Map[String, Long], WinTopK](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (win, it, state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) {
            val counts = state.getOption.getOrElse(Map.empty[String, Long])
            state.remove()
            counts.toSeq.sortBy { case (item, n) => (-n, item) }.take(k)
              .zipWithIndex.map { case ((item, n), i) =>
                WinTopK(win, item, n, i + 1L) }.iterator
          } else {
            var m = state.getOption.getOrElse(Map.empty[String, Long])
            it.foreach { e =>
              if (m.contains(e.item) || m.size < capacity)
                m = m.updated(e.item, m.getOrElse(e.item, 0L) + 1L)
              else
                // Misra–Gries decrement: uncounted arrival pays one
                // credit from every counter; exhausted counters free
                m = m.map { case (i2, c2) => (i2, c2 - 1L) }
                  .filter(_._2 > 0L)
            }
            state.update(m)
            state.setTimeoutTimestamp(win + windowMillis)
            Iterator.empty
          }
      }
  }

  final case class KeyedEvent(key: Long, eventType: String, eventTime: java.sql.Timestamp)
  final case class FirstSeen(key: Long, firstTsMillis: Long, nSeen: Long)

  /** Stateful first-seen tracking with state TTL — the streaming analog of
    * the update-tag stale-entity expiry (cleanupbuilder.py): a key's state
    * expires `ttlMs` of *event time* after its last event, at which point
    * the accumulated first-seen record is emitted and the key is forgotten.
    * Event-time timeouts (watermark-driven) keep this deterministic —
    * processing-time timeouts would schedule wall-clock no-data batches.
    * flatMapGroupsWithState keeps per-key state on the executors
    * (RocksDB/HDFS state store at scale). */
  def firstSeenWithTtl(events: Dataset[KeyedEvent], ttlMs: Long): Dataset[FirstSeen] = {
    import events.sparkSession.implicits._
    events.withWatermark("eventTime", "0 seconds")
      .as[KeyedEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState[FirstSeen, FirstSeen](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, it, state: GroupState[FirstSeen]) =>
          if (state.hasTimedOut) {
            val out = state.getOption
            state.remove()
            out.iterator
          } else {
            val evs = it.toSeq
            val prev = state.getOption
            val first = prev.map(_.firstTsMillis)
              .getOrElse(evs.map(_.eventTime.getTime).min)
            val updated = FirstSeen(key, first,
              prev.map(_.nSeen).getOrElse(0L) + evs.size)
            state.update(updated)
            state.setTimeoutTimestamp(evs.map(_.eventTime.getTime).max + ttlMs)
            Iterator.empty
          }
      }
  }

  /** Mergeable-sketch state sink: each micro-batch reduces to its HLL
    * registers ([[graft.text.Sketches.hllRegisters]] — 64 small ints
    * per group, never values) and merges into the state registers by
    * element-wise max. Register max is associative, commutative and
    * idempotent, so the final state is independent of micro-batch
    * slicing AND of duplicate replay — strictly stronger than the
    * additive [[argmaxUpsertSink]] guarantee (which replay would
    * double-count). The streaming form of distributed count-distinct:
    * state is O(groups·64) forever, regardless of stream volume. Read
    * the estimate off with [[graft.text.Sketches.hllEstimateFromRegisters]]. */
  def sketchMergeSink(stream: DataFrame,
                      regs: java.util.concurrent.atomic.AtomicReference[DataFrame],
                      groupCol: String, valueCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val b = graft.text.Sketches.hllRegisters(batch, groupCol, valueCol)
      regs.updateAndGet { cur =>
        val merged = if (cur == null) b else graft.text.Sketches.hllMerge(cur, b)
        merged.pinEager // materialize: batch input is transient
      }
      ()
    }

  /** One micro-batch's near-dup matches merged into the accumulated
    * match table by SET union on the (new_id, old_id) pair key. The
    * matches are deterministic functions of (doc text, index), so a
    * replayed batch contributes exactly the rows it contributed before
    * and the union absorbs them — [[incrementalDedupSink]]'s replay
    * idempotence lives here, exposed for direct spec'ing. */
  def mergeDedupMatches(cur: DataFrame, hits: DataFrame): DataFrame = {
    val merged =
      if (cur == null) hits.dropDuplicates("new_id" :: "old_id" :: Nil)
      else cur.unionByName(hits).dropDuplicates("new_id" :: "old_id" :: Nil)
    merged.pinEager // materialize: batch input is transient
  }

  /** Streaming incremental near-dup dedup: every micro-batch of new docs
    * is shingled and probed against the PERSISTED corpus LSH index
    * ([[graft.dedup.Dedup.lshIndexArtifact]] read-back) through the
    * asymmetric band equi-join of
    * [[graft.dedup.Dedup.incrementalMinhashIndexed]] — the production
    * shape of a continuously-ingesting corpus: history is never
    * re-shingled and never self-joined, and the per-batch probe cost
    * tracks the BATCH, not the history. Matches accumulate through
    * [[mergeDedupMatches]] (set union on the pair key), so foreachBatch's
    * at-least-once delivery holds without a transactional sink: a
    * replayed micro-batch re-derives the same deterministic pairs and
    * the union absorbs them. `maxBucketOccupancy` passes through to the
    * hot-bucket guard — boilerplate floods in a live feed are the rule,
    * not the exception. */
  def incrementalDedupSink(newDocs: DataFrame, index: DataFrame,
                           minJaccX1e6: Long,
                           matches: java.util.concurrent.atomic.AtomicReference[DataFrame],
                           idCol: String = "doc_id", textCol: String = "text",
                           maxBucketOccupancy: Long = Long.MaxValue): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // the index is FIXED for the query's lifetime: build and pin its
    // band table once, so each micro-batch probe re-reads the pinned
    // blocks instead of re-scanning the index parquet and re-exploding
    // its bands per batch (lazy — materialized by the first batch)
    val histBands = graft.Lineage.pinned(
      graft.dedup.Dedup.bandsOf(index), eager = false)
    newDocs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val hits = graft.dedup.Dedup.incrementalMinhashPrebuilt(
        histBands, index, graft.dedup.Dedup.shingleTable(batch, idCol, textCol),
        minJaccX1e6, maxBucketOccupancy)
      matches.updateAndGet(cur => mergeDedupMatches(cur, hits))
      ()
    }
  }

  /** [[incrementalDedupSink]] with the match set persisted O(batch)
    * instead of accumulated in memory: each micro-batch appends ONLY its
    * own probe hits as its own store partition under `pairsDir`
    * ([[BatchStore.append]] — staged write, atomic rename, replay
    * overwrites in place), so a long-running feed never re-shuffles or
    * re-pins the accumulated match set per batch and the matches outlive
    * the query. Read the accumulated set back with
    * [[readIncrementalMatches]]; compact the per-batch dirs offline with
    * [[BatchStore.compact]] (keys new_id, old_id — spare the live
    * query's replayable partitions via `spareBatch` if it may restart
    * from checkpoint, so a replayed batch keeps overwriting in place
    * instead of re-appending rows the compact epoch already
    * swallowed). Same epoch contract
    * as [[GrowingDedupState]]: reuse the epoch on a checkpoint restart,
    * take a fresh one for a new query over accumulated state. */
  def incrementalDedupSinkPersisted(newDocs: DataFrame, index: DataFrame,
                                    minJaccX1e6: Long,
                                    pairsDir: String, epoch: String = "0",
                                    idCol: String = "doc_id", textCol: String = "text",
                                    maxBucketOccupancy: Long = Long.MaxValue): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // fixed index ⇒ band table built and pinned once (see
    // [[incrementalDedupSink]]); the shingle payload stays a per-batch
    // scan of the index parquet — pin-sized indexes can pre-pin it too,
    // and [[incrementalDedupSinkBucketed]] is the path when neither fits
    val histBands = graft.Lineage.pinned(
      graft.dedup.Dedup.bandsOf(index), eager = false)
    newDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val hits = graft.dedup.Dedup.incrementalMinhashPrebuilt(
        histBands, index, graft.dedup.Dedup.shingleTable(batch, idCol, textCol),
        minJaccX1e6, maxBucketOccupancy)
      BatchStore.append(hits, pairsDir, epoch, batchId)
      ()
    }
  }

  /** [[incrementalDedupSinkPersisted]] against a BUCKETED index — a
    * [[GrowingDedupState]] seeded once with the corpus signatures
    * ([[GrowingDedupState.appendSignatures]]) and never grown: each
    * micro-batch probes through the PARTITION-PRUNED
    * [[GrowingDedupState.probeIndexed]] (band store read at only the
    * batch's buckets, payload at only the candidates' buckets), so
    * per-batch bytes-read tracks the batch even when the index is far
    * too large to pin. Output and replay semantics identical to the
    * DataFrame-index form — [[readIncrementalMatches]] reads the
    * accumulated set back. */
  def incrementalDedupSinkBucketed(newDocs: DataFrame,
                                   index: GrowingDedupState,
                                   minJaccX1e6: Long,
                                   pairsDir: String, epoch: String = "0",
                                   idCol: String = "doc_id", textCol: String = "text",
                                   maxBucketOccupancy: Long = Long.MaxValue): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val hits = index.probeIndexed(
        graft.dedup.Dedup.shingleTable(batch, idCol, textCol),
        minJaccX1e6, maxBucketOccupancy)
      BatchStore.append(hits, pairsDir, epoch, batchId)
      ()
    }

  /** The accumulated match set of [[incrementalDedupSinkPersisted]],
    * pair-key deduped at read — deterministically (max jacc across
    * duplicates, [[BatchStore.dedupByMaxStruct]]); clean batches are
    * disjoint and duplicates only survive a cross-epoch resume replay. */
  def readIncrementalMatches(spark: SparkSession, pairsDir: String): DataFrame =
    BatchStore.read(spark, pairsDir)
      .map(BatchStore.dedupByMaxStruct(_, Seq("new_id", "old_id")))
      .getOrElse(throw new IllegalStateException(
        s"no matches published under $pairsDir yet"))

  /** Streaming near-dup dedup with a SELF-GROWING index — the full
    * production shape [[incrementalDedupSink]]'s fixed-epoch probe only
    * approximates: each micro-batch is (1) matched COMPLETELY
    * ([[graft.dedup.Dedup.incrementalMinhashComplete]]: index probe ∪
    * within-batch self-LSH — same-sync near-dups included), then (2)
    * FOLDED into the index (signature union, deduped by doc id), so
    * docs from earlier micro-batches are probe-able by later ones.
    * Streaming an entire corpus through this sink from an empty index
    * therefore accumulates EXACTLY the one-shot full-corpus
    * [[graft.dedup.Dedup.minhashLsh]] pair set, independent of how the
    * feed is sliced — every pair (a, b) is found either by the within
    * term (same batch) or by b's batch probing an index that already
    * holds a (cross batch); the `stream_growing_dedup` gate shares the
    * batch gate's oracle verbatim on that equality. Replay-idempotent:
    * a re-delivered batch re-derives the same deterministic pairs
    * (absorbed by the pair-key union) and its signatures dedup away on
    * the doc id — at-least-once delivery needs no transactional sink.
    * State is the PERSISTED-ARTIFACT shape ([[GrowingDedupState]]:
    * signatures only, never raw text) and every per-batch fold is
    * O(batch): the probe is band-bucketed against the index, the
    * self-join is batch-local, and the "fold" is appending the batch's
    * own signature and pair rows as their own store partitions — no
    * shuffle over the accumulated index or pair set, no fresh full-copy
    * pin per batch (the r15 in-memory fold paid both, linearly per
    * batch). Replay dedup is deferred to probe/read time, which the
    * probe's pair-key dedups already do for free. State outlives the
    * query: a later session resumes from the same root under a fresh
    * epoch (spec'd equal to the one-shot pipeline). */
  def growingDedupSink(newDocs: DataFrame,
                       state: GrowingDedupState,
                       minJaccX1e6: Long,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxBucketOccupancy: Long = Long.MaxValue): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val compacted = new java.util.concurrent.atomic.AtomicBoolean(false)
    newDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // the first delivered batch id IS the replay frontier: every
      // earlier batch is committed in the checkpoint log, so its store
      // partitions are final and safe to compact even in this epoch
      if (compacted.compareAndSet(false, true))
        state.maybeAutoCompact(batch.sparkSession,
          liveEpochSafeBelow = batchId)
      // nothing follows the pair append: the join comes right after it
      growDedupStep(batch, batchId, state, minJaccX1e6, idCol, textCol,
        maxBucketOccupancy)(_ => ())
    }
  }

  /** One micro-batch of the growing-index dedup, in two chains joined
    * before it returns. First, on the stream thread, the batch is
    * matched completely through the PARTITION-PRUNED store probe
    * ([[GrowingDedupState.probeComplete]] — an empty store degrades to
    * the guarded self-LSH, a boilerplate flood inside the first batch
    * still hits the occupancy cap, and the partitions a crashed earlier
    * attempt of this batch published are left out). Then the chains
    * fork ([[GrowingDedupState.appendSignaturesBeside]]): a second
    * thread appends the batch's signatures (payload, then bands) while
    * the stream thread appends its pairs and hands them to `andThen` AS
    * THE STORE READ-BACK (a parquet leaf read with the declared pair
    * schema — already materialized, lineage-free) so composing sinks
    * ([[growingComponentsSink]]) fold it without recompute. Nothing on
    * the stream thread reads this batch's signatures. `andThen`'s result
    * is returned once both chains are done; a failure in either fails
    * the batch.
    *
    * Per-batch cost in the executed plans (stream_ingest, a warm batch
    * of 100 documents, one shuffle partition, no adaptive execution):
    * the probe runs three jobs (bucket collect, the candidate join's
    * broadcast, the candidates' materialization with the payload
    * buckets), the pair append two (the one broadcast of the side-tagged
    * shingle frame both verification lookups share, then the write), and
    * the signature chain two (payload, bands). */
  private def growDedupStep[T](batch: DataFrame, batchId: Long,
      state: GrowingDedupState,
      minJaccX1e6: Long, idCol: String, textCol: String,
      maxBucketOccupancy: Long)(andThen: DataFrame => T): T = {
    import GrowingDedupState.{PairSchema, conform}
    val spark = batch.sparkSession
    val sh = graft.Lineage.pinned(
      graft.dedup.Dedup.shingleTable(batch, idCol, textCol), eager = false)
    val hits = state.probeComplete(sh, minJaccX1e6, maxBucketOccupancy,
      ownBatch = Some(batchId))
    state.appendSignaturesBeside(graft.dedup.Dedup.signatures(sh), batchId) {
      graft.Jobs.described(spark, "grow: pair append") {
        BatchStore.append(conform(hits, PairSchema), state.pairDir,
          state.epoch, batchId)
      }
      andThen(spark.read.schema(PairSchema)
        .parquet(BatchStore.batchDir(state.pairDir, state.epoch, batchId)))
    }
  }

  /** [[growingDedupSink]] composed with live cluster upkeep: each
    * micro-batch's complete match set additionally folds into an
    * evolving (node, component) labeling via
    * [[graft.graph.Fixpoint.incrementalComponents]] — raw docs in,
    * canonical near-dup clusters out, continuously. Streaming a whole
    * corpus from empty state must end with labels identical to the
    * one-shot [[graft.dedup.Dedup.minhashLsh]] → connectedComponents
    * pipeline (the `stream_growing_components` gate shares
    * `dedup_components`' oracle verbatim): the pair stream it folds IS
    * the one-shot pair set (growingDedupSink's gate), and the fold is
    * order- and slicing-insensitive. Replay-idempotent end to end — a
    * re-delivered batch re-derives pairs the labeling already
    * contracted (no self-pairs by [[graft.dedup.Dedup
    * .incrementalMinhashComplete]]'s cross-term guard), and the
    * quotient-graph fold is replay-insensitive by spec — so the pair
    * stream feeds the fold DIRECTLY, with no accumulated-pair-set dedup
    * in the path at all. Labels persist as snapshot state
    * ([[BatchStore.publishSnapshot]]): a full linear write per
    * `snapshotEvery` batches (the state-store snapshot + WAL shape —
    * scan + write, never a shuffle of accumulated state), latest two
    * kept, resumable across sessions. Between snapshots the live
    * labeling rides an in-session cache whose loss is ALWAYS
    * recoverable: the pair store is the write-ahead log, and because
    * the fold is idempotent on already-contracted pairs, session start
    * reconstructs the exact state as latest-snapshot ⊕ the WAL TAIL —
    * each snapshot's manifest lists the pair partitions it already
    * folds ([[BatchStore.publishSnapshot]]), so recovery reads
    * O(pairs since the last snapshot), not O(history), and a stale or
    * missing listing only widens the (idempotent) re-fold, never
    * corrupts it. No ordering assumptions; the listing is the only
    * frontier bookkeeping, and it lives inside the snapshot's own
    * atomic manifest repoint.
    * `snapshotEvery = 1` (default) keeps a snapshot per batch and holds
    * NO in-memory state at all (the cache is the just-published parquet
    * leaf); raise it on high-frequency feeds to amortize the
    * O(|labels|) snapshot write, trading read staleness (readers see
    * the last snapshot) for write cadence.
    *
    * Write order and crash safety: a batch runs two chains side by side
    * ([[growDedupStep]]) — pair append → pair read-back → fold → label
    * snapshot on the stream thread, payload → band append on a second
    * thread — and joins them after the snapshot, before the batch
    * returns; the cache moves only when both succeeded. None of the
    * stream-thread steps reads this batch's signatures. A crash can
    * publish any prefix of either chain: labels may name pairs whose
    * signatures never landed, or signatures may land without their
    * pairs. The replay overwrites both in place (its probe leaves the
    * batch's own partitions out, so it re-derives the same pairs), and
    * the fold's idempotence absorbs pairs a snapshot already holds.
    *
    * Per-batch cost in the executed plans (stream_ingest, a warm batch
    * of 100 documents): eleven jobs, nine of them on the stream thread
    * — [[growDedupStep]]'s five, the fold's broadcast of the stored
    * labeling plus one job per fixpoint round (two for a typical batch),
    * and the snapshot write — and two on the signature chain; three of
    * the eleven are broadcasts. */
  def growingComponentsSink(newDocs: DataFrame,
      state: GrowingDedupState,
      minJaccX1e6: Long,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucketOccupancy: Long = Long.MaxValue,
      snapshotEvery: Int = 1): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(snapshotEvery >= 1, "snapshotEvery must be >= 1")
    val cache = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val compacted = new java.util.concurrent.atomic.AtomicBoolean(false)
    newDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      // session-start compaction runs BEFORE the recovery read below —
      // the recovered labeling must never hold references into a layout
      // a compaction is about to rewrite
      if (compacted.compareAndSet(false, true))
        state.maybeAutoCompact(spark, liveEpochSafeBelow = batchId)
      // session start: exact state = latest snapshot ⊕ the pair-store
      // WAL TAIL the snapshot does not declare covered (the manifest
      // lists the partitions folded at publish time, so recovery cost
      // tracks the snapshot cadence, not the accumulated history),
      // read BEFORE this batch appends its own pairs (a fresh store
      // then costs nothing extra). A crashed-attempt replay may still
      // see its own pairs in the pre-batch store — folding them twice
      // is a no-op by the replay-insensitivity spec. The recovery is
      // EAGERLY materialized: a checkpoint replay of this very batch
      // id overwrites its (epoch, batch) pair partition in place
      // (BatchStore.append step-aside), so a labeling still holding a
      // lazy reference to the pre-append pair-store listing would hit
      // FileNotFound when the snapshot publish finally executes it —
      // and crash-loop on every restart.
      val prev = Option(cache.get()).orElse {
        graft.Jobs.described(spark, "components: recovery") {
          val stored = state.unfoldedPairs(spark)
            .map(_.select(col("doc_a").as("a"), col("doc_b").as("b")))
          val recovered = (state.labels(spark), stored) match {
            case (Some(lab), Some(p)) =>
              Some(graft.graph.Fixpoint.incrementalComponents(lab, p))
            case (None, Some(p)) =>
              Some(graft.graph.Fixpoint.connectedComponents(p))
            case (lab, None) => lab
          }
          recovered.map(graft.Lineage.pinned(_, eager = true))
        }
      }
      // the fold and the snapshot run on the stream thread beside the
      // signature chain; growDedupStep joins it after the snapshot, and
      // only a batch whose chains both succeeded replaces the cache
      cache.set(growDedupStep(batch, batchId, state, minJaccX1e6, idCol,
          textCol, maxBucketOccupancy) { hits =>
        val pairs = hits.select(col("doc_a").as("a"), col("doc_b").as("b"))
        val next = graft.Jobs.described(spark, "components: fold") {
          prev match {
            case None => graft.graph.Fixpoint.connectedComponents(pairs)
            case Some(cur) => graft.graph.Fixpoint.incrementalComponents(cur, pairs)
          }
        }
        val mat = GrowingDedupState.conform(next, GrowingDedupState.LabelSchema)
        if (batchId % snapshotEvery == 0) {
          // the snapshot declares every pair partition published so far
          // covered (this batch's own included — its pairs just folded):
          // the next session replays only the WAL tail after this point
          graft.Jobs.described(spark, "components: snapshot") {
            BatchStore.publishSnapshot(mat, state.labelDir, state.epoch, batchId,
              covered = state.pairPartitions(spark))
          }
          // the cache becomes the published parquet leaf: zero in-memory
          // state while snapshots are current
          state.labels(spark).orNull
        } else graft.Lineage.pinned(mat, eager = true)
      })
    }
  }

  /** Streaming cluster maintenance: each micro-batch of (a, b) pairs
    * folds into the evolving component labeling through
    * [[graft.graph.Fixpoint.incrementalComponents]] — each fold runs
    * on the quotient graph of the components the batch touches, so
    * per-batch cost tracks the BATCH's structure, never the accumulated
    * graph. Folding is order-insensitive AND replay-idempotent: old
    * components enter as super-nodes and labels are min node ids,
    * so labels(b1 ∘ b2) = labels(b1 ∪ b2) and a replayed batch re-adds
    * edges the labeling already contracted (spec'd both ways). The
    * production shape of live dedup-cluster upkeep: compose with
    * [[incrementalDedupSink]] by streaming its per-batch matches in. */
  def incrementalComponentsSink(pairs: DataFrame,
                                labels: java.util.concurrent.atomic.AtomicReference[DataFrame]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    pairs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val b = batch.select(col("a"), col("b"))
      labels.updateAndGet { cur =>
        val next =
          if (cur == null) graft.graph.Fixpoint.connectedComponents(b)
          else graft.graph.Fixpoint.incrementalComponents(cur, b)
        next.pinEager // materialize: batch input is transient
      }
      ()
    }
}
