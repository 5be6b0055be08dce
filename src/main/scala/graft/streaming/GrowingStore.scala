package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** On-disk, append-only per-micro-batch state for the self-growing
  * streaming dedup sinks — the persisted-artifact form of what r15 kept
  * as `pinEager`'d in-memory frames.
  *
  * Layout: `dir/epoch=<E>/batch=<N>/` parquet, one hive-style partition
  * per (query lifetime, micro-batch); stores that declare partition
  * columns nest them UNDER the batch dir (`batch=<N>/bk=<B>/`), so a
  * probe can read only the hash buckets a batch actually touches.
  * Three properties the in-memory fold lacked:
  *
  *  - '''O(batch) folds.''' A micro-batch WRITES only its own rows —
  *    no `unionByName + dropDuplicates` shuffle over the accumulated
  *    state, no fresh full-copy pin. Dedup of replay duplicates is
  *    deferred to probe/read time, where the probe's candidate and
  *    pair-key dedups (batch-proportional) already absorb them.
  *  - '''Replay idempotence by construction.''' A replayed batchId
  *    lands on the SAME partition dir and overwrites it byte-identically
  *    (staged write + step-aside + atomic rename), so at-least-once
  *    delivery needs no transactional sink. A growing sink's batch
  *    writes its stores in two chains that run side by side (pairs,
  *    then labels, on the stream thread; payload, then bands, on a
  *    second thread — [[GrowingDedupState.appendSignaturesBeside]]) and
  *    joins both before it returns, so a crash can leave any prefix of
  *    either chain published. Every such mix is safe: the replay's
  *    probe leaves the batch's own partitions out, so it sees the index
  *    the first attempt saw, re-derives the same pairs and overwrites
  *    every partition of the batch in place.
  *  - '''Cross-session resume.''' State outlives the streaming query: a
  *    new session points a state handle at the same root with a FRESH
  *    epoch (its batchIds restart at 0, so the epoch keys them apart)
  *    and continues growing the same index — spec'd equal to the
  *    one-shot full-corpus pipeline.
  *
  * Scale notes: the stores are append-only, so a long-running stream
  * accumulates one small dir per batch — compaction (manual
  * [[GrowingDedupState.compact]], or the automatic session-start policy
  * [[GrowingDedupState.maybeAutoCompact]]) rewrites `epoch=*` into one
  * coarse epoch to keep listing cost flat. Label snapshots are the
  * classic state-store snapshot shape (full write per batch, linear
  * scan + write, NO shuffle of accumulated state); only the latest two
  * are kept.
  *
  * Single-writer contract: at most one stream owns a store root at a
  * time, and EXTERNAL readers must not run concurrently with an
  * actively REPLAYING stream — a replay overwrite steps the old batch
  * partition aside before renaming the new one in, so a concurrent
  * reader could observe that batch absent for the two-rename window
  * (clean appends create brand-new dirs and are safe to read through).
  */
object BatchStore {

  def batchDir(dir: String, epoch: String, batchId: Long): String =
    s"$dir/epoch=$epoch/batch=$batchId"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Idempotent per-micro-batch append: stage, then atomically publish
    * as this (epoch, batch)'s own partition dir. A replayed batch
    * overwrites its prior (possibly partial) attempt: the old dir steps
    * ASIDE (hidden name) rather than being deleted in place — the
    * unavailability window is two O(1) renames, not a recursive delete,
    * and a crash between them leaves the prior data recoverable under
    * the aside name until the next attempt sweeps it. Crashed attempts'
    * staging/aside leftovers for THIS batch are swept on entry.
    * `partitionBy` nests hive partition dirs under the batch dir (the
    * band/payload hash buckets a pruned probe pushes filters into). */
  def append(df: DataFrame, dir: String, epoch: String, batchId: Long,
             partitionBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val target = new Path(batchDir(dir, epoch, batchId))
    val f = fs(spark, dir)
    Option(f.globStatus(new Path(target.getParent,
        s".${target.getName}._{staging,replaced}_*"))).toSeq.flatten
      .foreach(s => f.delete(s.getPath, true))
    val staging = new Path(target.getParent,
      s".${target.getName}._staging_${java.util.UUID.randomUUID()}")
    val w = df.write
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(staging.toString)
    val aside = new Path(target.getParent,
      s".${target.getName}._replaced_${java.util.UUID.randomUUID()}")
    if (partitionBy.nonEmpty && !hasDataFiles(f, staging)) {
      // a partitioned write of ZERO rows emits no part files at all
      // (plain writes emit one empty file with a schema footer):
      // publishing the fileless dir would make nonEmpty() true while
      // read()/compact() cannot infer a schema — a crash-loop once it
      // is the store's only batch. Publish NOTHING instead: an empty
      // batch is invisible by construction, and a replay-to-empty
      // removes the prior attempt's content like any other overwrite.
      f.delete(staging, true)
      if (f.exists(target)) {
        if (!f.rename(target, aside))
          throw new IllegalStateException(
            s"BatchStore.append: step-aside of $target failed")
        f.delete(aside, true)
      }
      return
    }
    if (f.exists(target) && !f.rename(target, aside))
      throw new IllegalStateException(
        s"BatchStore.append: step-aside of $target failed")
    if (!f.rename(staging, target))
      throw new IllegalStateException(
        s"BatchStore.append: publish to $target failed")
    f.delete(aside, true)
  }

  /** Any non-hidden file under `p`, reached through non-hidden dirs
    * only — i.e. the dir holds data a parquet read will actually see
    * (Spark skips `_`/`.`-prefixed entries at EVERY level, so a part
    * file inside a crashed `._staging_*` dir must not count). */
  private[streaming] def hasDataFiles(f: org.apache.hadoop.fs.FileSystem,
                                      p: Path): Boolean =
    f.exists(p) && f.listStatus(p).exists { s =>
      org.apache.spark.sql.graftbridge.ParquetBridge.visible(s.getPath.getName) &&
        (!s.isDirectory || hasDataFiles(f, s.getPath))
    }

  /** Delete the given batch partition dirs, then any epoch dir they
    * leave without a single published batch. */
  private[streaming] def deleteBatches(f: org.apache.hadoop.fs.FileSystem,
                                       batches: Seq[Path]): Unit = {
    batches.foreach(p => f.delete(p, true))
    batches.map(_.getParent).distinct.foreach { e =>
      if (Option(f.globStatus(new Path(e, "batch=*"))).forall(_.isEmpty))
        f.delete(e, true)
    }
  }

  /** The numeric id of a `batch=N` partition dir; unparseable names map
    * to MaxValue so exclusion predicates keyed on "id below the replay
    * frontier" conservatively spare them. */
  private[streaming] def batchIdOf(p: Path): Long =
    p.getName.stripPrefix("batch=").toLongOption.getOrElse(Long.MaxValue)

  /** True iff the store holds at least one published batch. Keyed on
    * the published partition DIRS, not `_SUCCESS` markers: the staged
    * write + atomic rename protocol means a visible (non-hidden) batch
    * dir is complete by construction, so the store stays readable even
    * where the committer's success markers are disabled
    * (mapreduce.fileoutputcommitter.marksuccessfuljobs=false — a silent
    * everything-is-empty failure mode otherwise). */
  def nonEmpty(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).globStatus(new Path(dir, "epoch=*/batch=*")) match {
      case null => false
      case arr  => arr.exists(_.isDirectory)
    }

  /** Every published batch's rows, epoch/batch partition columns
    * dropped (deeper store partition columns like `bk`/`pb` ride along
    * as data columns). Duplicate rows across epochs (a resumed session
    * replaying a crashed batch under a fresh epoch) are the CALLER's
    * contract to tolerate — the LSH probe and pair readers here all
    * dedup on their natural keys. None when the store is empty. A
    * declared `schema` (data columns only; partition columns are still
    * read off the paths) skips the parquet footer-inference job. */
  def read(spark: SparkSession, dir: String,
           schema: Option[StructType] = None): Option[DataFrame] =
    if (!nonEmpty(spark, dir)) None
    else {
      val r = schema.fold(spark.read)(spark.read.schema)
      Some(r.parquet(dir).drop("epoch", "batch"))
    }

  /** Deterministic key-dedup for store read-back: one survivor per key,
    * chosen as the MAX of the non-key payload struct (column order
    * as-read) — never an arbitrary dropDuplicates race winner, matching
    * [[graft.dedup.Dedup.incrementalMinhashComplete]]'s deterministic
    * max-across-versions contract when a doc id was re-ingested with
    * changed text across epochs. One hash aggregation, map-side
    * combinable. */
  def dedupByMaxStruct(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(keyCols.contains).toSeq
    if (others.isEmpty) df.dropDuplicates(keyCols)
    else df.groupBy(keyCols.map(col): _*)
      .agg(max(struct(others.map(col): _*)).as("_payload"))
      .select(keyCols.map(col) ++ others.map(c => col("_payload." + c).as(c)): _*)
  }

  /** Offline compaction of an append-only store: rewrite every published
    * batch partition into ONE partition under a fresh epoch, dedup rows
    * on `keyCols` while at it — deterministically, via
    * [[dedupByMaxStruct]], so replay/resume duplicates AND re-ingested
    * versions die here with the same survivor every run. Bucketed stores
    * pass `partitionBy` so the compacted partition keeps the hash-bucket
    * layout the pruned probe depends on. Single-writer contract: run
    * between streaming sessions or at session start BEFORE the first
    * batch — the same ownership the stream's own appends already assume.
    * Crash-ordered so the store is readable at every step: the compacted
    * partition PUBLISHES before any original is deleted, and the
    * transient duplicate window that creates is exactly the duplicate
    * shape every reader/probe here already tolerates.
    *
    * `spareBatch` (on batch partition dirs) leaves matching partitions
    * untouched — not read, not deleted. A stream restarting FROM
    * CHECKPOINT re-delivers its last uncommitted batches under their
    * ORIGINAL (epoch, batchId) keys, and a replay whose partition a
    * compaction just swallowed would re-append rows the compact epoch
    * already holds — permanent duplicates where the protocol promises
    * overwrite-idempotence (inflating the hot-bucket occupancy census,
    * which counts rows). The sinks spare their live epoch's partitions
    * at or above the replay frontier ([[GrowingDedupState.compact]]).
    *
    * A declared `schema` reads the batches without footer inference, as
    * in [[read]]. */
  def compact(spark: SparkSession, dir: String, keyCols: Seq[String],
              partitionBy: Seq[String] = Nil,
              epoch: String = s"compact-${java.util.UUID.randomUUID()}",
              spareBatch: Path => Boolean = _ => false,
              schema: Option[StructType] = None): Unit = {
    val f = fs(spark, dir)
    require(Option(f.globStatus(new Path(dir, s"epoch=$epoch/batch=*")))
        .forall(_.isEmpty),
      s"BatchStore.compact: epoch '$epoch' already exists in $dir")
    val batches = Option(f.globStatus(new Path(dir, "epoch=*/batch=*")))
      .toSeq.flatten.filter(_.isDirectory).map(_.getPath)
      .filterNot(spareBatch)
    if (batches.nonEmpty) {
      if (!batches.exists(hasDataFiles(f, _))) deleteBatches(f, batches)
      else {
        val df = schema.fold(spark.read)(spark.read.schema).option("basePath", dir)
          .parquet(batches.map(_.toString): _*).drop("epoch", "batch")
        val deduped =
          if (keyCols.isEmpty) df else dedupByMaxStruct(df, keyCols)
        val arranged =
          if (partitionBy.isEmpty) deduped
          else deduped.repartition(partitionBy.map(col): _*)
        append(arranged, dir, epoch, 0L, partitionBy)
        deleteBatches(f, batches)
      }
    }
    sweepEmptyEpochs(f, dir, keepEpoch = epoch)
  }

  /** Drop epoch dirs with no published batch left — crashed-append
    * skeletons (hidden staging leftovers under an abandoned epoch)
    * would otherwise accumulate forever, invisible to the per-batch
    * compaction globs. */
  private[streaming] def sweepEmptyEpochs(f: org.apache.hadoop.fs.FileSystem,
                                          dir: String, keepEpoch: String): Unit =
    Option(f.globStatus(new Path(dir, "epoch=*"))).toSeq.flatten
      .map(_.getPath).filterNot(_.getName == s"epoch=$keepEpoch")
      .filter(e => Option(f.globStatus(new Path(e, "batch=*"))).forall(_.isEmpty))
      .foreach(p => f.delete(p, true))

  private val ManifestName = "MANIFEST"

  /** Publish `df` as the store's CURRENT snapshot: write it as this
    * (epoch, batch)'s dir, repoint the manifest at it (staged rename —
    * readers always see a complete snapshot), then prune every snapshot
    * except the new and previous targets. The kept previous snapshot is
    * the crash margin: a manifest that never got repointed still names a
    * fully-written state, and a replayed batch folds idempotently on top
    * of it.
    *
    * `covered` (relative partition names, e.g. `epoch=0/batch=3`) names
    * the WAL partitions whose content this snapshot already folds —
    * recovery then replays only the tail written after it
    * ([[snapshotCovered]]). Safe to UNDER-state (extra folds of
    * already-contracted pairs are no-ops by the fold's idempotence
    * contract); a manifest without the listing simply makes recovery
    * fold the whole WAL, the pre-listing behavior. */
  def publishSnapshot(df: DataFrame, dir: String, epoch: String,
                      batchId: Long, covered: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, dir)
    val prev = manifestTarget(spark, dir)
    append(df, dir, epoch, batchId)
    val rel = s"epoch=$epoch/batch=$batchId"
    repointManifest(f, dir, (rel +: covered).mkString("\n"))
    // prune: keep the new target and the previous one, drop the rest
    val keep = Set(Some(rel), prev).flatten
    Option(f.globStatus(new Path(dir, "epoch=*/batch=*"))).toSeq.flatten
      .map(_.getPath)
      .filterNot(p => keep.exists(k => p.toString.endsWith(k)))
      .foreach(p => f.delete(p, true))
  }

  /** Atomically replace the manifest's covered listing while keeping
    * its snapshot target — used after a pair-store compaction rewrote
    * the partitions the listing names. No-op when no manifest exists. */
  def rewriteCovered(spark: SparkSession, dir: String,
                     covered: Seq[String]): Unit =
    manifestTarget(spark, dir).foreach { rel =>
      repointManifest(fs(spark, dir), dir, (rel +: covered).mkString("\n"))
    }

  /** The crash-safe manifest repoint: stage the new content, step the
    * old manifest ASIDE (to the fallback name readers also check)
    * before the new one renames in — the store is never manifest-less
    * at any crash point. */
  private def repointManifest(f: org.apache.hadoop.fs.FileSystem,
                              dir: String, content: String): Unit = {
    val manifest = new Path(dir, ManifestName)
    val fallback = new Path(dir, s"_$ManifestName.prev")
    val staging = new Path(dir, s"_$ManifestName._staging_${java.util.UUID.randomUUID()}")
    val out = f.create(staging, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (f.exists(fallback)) f.delete(fallback, false)
    if (f.exists(manifest) && !f.rename(manifest, fallback))
      throw new IllegalStateException(
        s"BatchStore: manifest step-aside in $dir failed")
    if (!f.rename(staging, manifest))
      throw new IllegalStateException(
        s"BatchStore: manifest update in $dir failed")
    f.delete(fallback, false)
  }

  private def manifestLines(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    def readFile(p: Path): Seq[String] = {
      val in = f.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        bytes.toString("UTF-8").linesIterator.map(_.trim)
          .filter(_.nonEmpty).toSeq
      } finally in.close()
    }
    val manifest = new Path(dir, ManifestName)
    val fallback = new Path(dir, s"_$ManifestName.prev")
    // the fallback covers the one crash window where the old manifest
    // has stepped aside but the new one has not renamed in yet
    if (f.exists(manifest)) readFile(manifest)
    else if (f.exists(fallback)) readFile(fallback)
    else Seq.empty
  }

  private def manifestTarget(spark: SparkSession, dir: String): Option[String] =
    manifestLines(spark, dir).headOption

  /** The manifest's current snapshot read with the store's declared
    * `schema` (no footer-inference job), or None before the first
    * publish. */
  def readSnapshot(spark: SparkSession, dir: String,
                   schema: StructType): Option[DataFrame] =
    manifestTarget(spark, dir)
      .map(rel => spark.read.schema(schema).parquet(s"$dir/$rel"))

  /** The WAL partitions the current snapshot declares itself to cover
    * (see [[publishSnapshot]]); empty before the first publish or for
    * manifests written without the listing. */
  def snapshotCovered(spark: SparkSession, dir: String): Seq[String] =
    manifestLines(spark, dir).drop(1)
}

/** IO selection of one [[GrowingDedupState.probeComplete]] call:
  * files/bytes the pruned band and payload reads SELECTED vs each
  * store's totals — the probe's sublinearity contract, measured from
  * the store layout itself (independent of task-metrics accounting).
  * Recorded only when `graft.growing.probeIoDiagnostics=true` (the
  * content summaries walk the store — diagnostics, not a hot-path
  * cost). */
final case class ProbeIo(bandFiles: Long, bandBytes: Long,
                         bandStoreFiles: Long, bandStoreBytes: Long,
                         payFiles: Long, payBytes: Long,
                         payStoreFiles: Long, payStoreBytes: Long)

/** Handle on the growing dedup sinks' persisted state: a hash-bucketed
  * BAND store (one row per doc per band, hive-partitioned by
  * `bk = hash(band, h1, h2) % bandBuckets` — the probe side), a
  * hash-bucketed signature PAYLOAD store (one row per doc, carrying the
  * shingle set, partitioned by `pb = hash(doc_id) % payloadBuckets` —
  * the verification side), the accumulated near-dup pair store, and the
  * component-labeling snapshot store — all under one root.
  *
  * The split + bucketing is the 100 TB probe contract: a micro-batch
  * collects the ≤ 4·|batch| band buckets it hashes into (driver-bounded
  * by `bandBuckets`) and reads ONLY those partitions of the band store;
  * verification then reads only the payload buckets its CANDIDATES'
  * old ids hash into. Bytes-read per batch is O(batch · occupancy ·
  * history/buckets), not O(history) — size `bandBuckets` to the target
  * partition size exactly like any hash-partitioned table (the r16
  * design scanned the whole signature store per batch). Bucket counts
  * are pinned at store creation in `root/_BUCKETS`; later sessions read
  * the pinned counts, so constructor values only matter for the first
  * write.
  *
  * Create with a fresh `epoch` per streaming-query lifetime (a restart
  * FROM CHECKPOINT reuses the epoch — replayed batchIds overwrite in
  * place; a NEW query over accumulated state, with batchIds restarting
  * at 0, takes a new epoch so nothing clobbers). `autoCompactAfter` > 0
  * lets the sinks compact automatically at session start once any store
  * holds more than that many batch dirs (bounds the per-batch listing
  * cost of a long-lived feed); 0 disables.
  *
  * Write order inside one micro-batch of the growing sinks: the stream
  * thread appends the pair partition (and, for the components sink,
  * folds it and publishes the label snapshot) while a second driver
  * thread appends the payload, then the band partition
  * ([[appendSignaturesBeside]]); the batch joins both chains before it
  * returns. No order holds BETWEEN the chains — pairs may publish
  * before or after signatures — and none is needed (see
  * [[BatchStore]]'s replay-idempotence note). Each store is read with
  * its declared schema ([[GrowingDedupState.PayloadSchema]] and
  * siblings), never by footer inference, except the legacy-layout
  * reads in [[compact]]. */
final case class GrowingDedupState(root: String, epoch: String = "0",
                                   bandBuckets: Int = 16,
                                   payloadBuckets: Int = 16,
                                   autoCompactAfter: Int = 64) {
  require(bandBuckets >= 1 && payloadBuckets >= 1,
    "GrowingDedupState: bucket counts must be >= 1")
  val sigDir: String = s"$root/sigs"
  val bandDir: String = s"$root/bands"
  val pairDir: String = s"$root/pairs"
  val labelDir: String = s"$root/labels"

  def withEpoch(e: String): GrowingDedupState = copy(epoch = e)

  private def fs(spark: SparkSession) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  @transient private var bucketMemo: Option[(Int, Int)] = None
  @transient private var probeIoMemo: Option[ProbeIo] = None

  /** Diagnostics of the last [[probeComplete]] on this handle (see
    * [[ProbeIo]]); None unless `graft.growing.probeIoDiagnostics=true`
    * was set on the session. */
  def lastProbeIo: Option[ProbeIo] = probeIoMemo

  /** The store's pinned (bandBuckets, payloadBuckets) — read from
    * `root/_BUCKETS` when it exists, else pinned from this handle's
    * constructor values on first use. Pinning matters: bucket membership
    * is baked into the on-disk partition values, so every later session
    * MUST hash with the same counts or the pruned probe would read the
    * wrong partitions. */
  private def effectiveBuckets(spark: SparkSession): (Int, Int) =
    bucketMemo.getOrElse {
      val f = fs(spark)
      val p = new Path(root, "_BUCKETS")
      val got =
        if (f.exists(p)) {
          val in = f.open(p)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
          val m = s.trim.split("\\s+").map(_.split("=", 2))
            .map(a => a(0) -> a(1).toInt).toMap
          (m("bandBuckets"), m("payloadBuckets"))
        } else {
          val out = f.create(p, false) // single-writer: fail over clobber
          try out.write(
            s"bandBuckets=$bandBuckets\npayloadBuckets=$payloadBuckets"
              .getBytes("UTF-8"))
          finally out.close()
          (bandBuckets, payloadBuckets)
        }
      bucketMemo = Some(got)
      got
    }

  private def bandBucketExpr(n: Int) =
    pmod(xxhash64(col("band"), col("h1"), col("h2")), lit(n.toLong)).cast("int")
  private def payloadBucketExpr(n: Int, id: org.apache.spark.sql.Column) =
    pmod(xxhash64(id), lit(n.toLong)).cast("int")

  /** Fold one batch's signature table into the store: the payload rows
    * (doc_id, shingles, h0..h7) bucketed by doc-id hash, THEN the band
    * rows bucketed by band hash — in that order, so a band row never
    * exists without the payload its verification join needs (a crash
    * between the writes leaves the batch invisible to probes; its
    * replay overwrites both). Both writes are O(batch). The growing
    * sinks run this chain on its own thread, beside the batch's pair
    * append ([[appendSignaturesBeside]]). */
  def appendSignatures(sigs: DataFrame, batchId: Long): Unit = {
    import GrowingDedupState._
    val spark = sigs.sparkSession
    val (bB, pB) = effectiveBuckets(spark)
    // one minhash projection for BOTH writes: the payload write
    // materializes the lazy pin, the band write re-reads the pinned
    // blocks instead of recomputing the 8-hash projection from scratch
    val s = graft.Lineage.pinned(conform(sigs, PayloadSchema), eager = false)
    val payload = s.withColumn("pb", payloadBucketExpr(pB, col("doc_id")))
    graft.Jobs.described(spark, "grow: payload append") {
      BatchStore.append(payload.repartition(col("pb")), sigDir, epoch, batchId,
        partitionBy = Seq("pb"))
    }
    val bands = conform(graft.dedup.Dedup.bandsOf(s), BandSchema)
      .withColumn("bk", bandBucketExpr(bB))
    graft.Jobs.described(spark, "grow: band append") {
      BatchStore.append(bands.repartition(col("bk")), bandDir, epoch, batchId,
        partitionBy = Seq("bk"))
    }
  }

  /** Run [[appendSignatures]] (the signature chain: payload, then bands)
    * on a second driver thread while `main` runs on the calling stream
    * thread, and return `main`'s result once both are done. Run in
    * line, the chain's write jobs keep the pair append, fold and
    * snapshot waiting while the other cores sit idle.
    *
    *  - '''Fork after the probe's listings.''' Call this only after the
    *    batch's [[probeComplete]] returned: it has listed both pruned
    *    reads (or returned the no-history shape), so the probe never
    *    lists a partition this chain creates, and the hot-bucket
    *    occupancy census stays exact.
    *  - '''Payload before bands.''' The chain is [[appendSignatures]]
    *    unchanged, so its payload still publishes before its bands.
    *  - '''No lazy first use on the new thread.''' The pinned bucket
    *    counts are resolved here, on the calling thread, so `_BUCKETS`
    *    is never created first on the chain's thread.
    *  - '''Carry the thread state.''' The chain starts through
    *    `SQLExecution.withThreadLocalCaptured` (reached through
    *    [[org.apache.spark.sql.graftbridge.Bridge]]), so it carries the
    *    stream thread's local properties: the job group (stopping the
    *    query cancels its jobs), `streaming.sql.batchId` and the
    *    [[graft.Jobs.described]] labels.
    *  - '''Join before return, always.''' The chain is joined in a
    *    `finally`, through interrupts: even when `main` throws, the
    *    batch does not return — so the query neither commits nor
    *    retries — while the chain is still writing into the store. A
    *    replay racing a live writer would break the single-writer
    *    contract.
    *  - '''Failures surface.''' A failure in either chain fails the
    *    batch with that exception; when both fail, the stream thread's
    *    propagates with the chain's attached as suppressed. */
  private[streaming] def appendSignaturesBeside[T](sigs: DataFrame,
                                                   batchId: Long)(main: => T): T = {
    val spark = sigs.sparkSession
    effectiveBuckets(spark)
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, s"graft-signature-chain-$epoch-$batchId")
      t.setDaemon(true)
      t
    }
    // the one task is queued before shutdown: the thread runs it, then exits
    val chain =
      try org.apache.spark.sql.graftbridge.Bridge
        .withThreadLocalCaptured(spark, exec)(appendSignatures(sigs, batchId))
      finally exec.shutdown()
    var thrown: Throwable = null
    try main
    catch { case t: Throwable => thrown = t; throw t }
    finally {
      // join() waits through interrupts and re-asserts the flag after
      val failed =
        try { chain.join(); None }
        catch { case e: java.util.concurrent.CompletionException => Some(e.getCause) }
      failed.foreach { e =>
        if (thrown == null) throw e
        else if (e ne thrown) thrown.addSuppressed(e)
      }
    }
  }

  /** Partition dirs of `dir` holding the given bucket values — the
    * static partition filter of the pruned probe, resolved to explicit
    * paths so neither the LISTING nor the scan ever touches untouched
    * buckets. Exposed for the probe's files-read contract spec. */
  private[graft] def prunedPaths(spark: SparkSession, dir: String,
                                 pcol: String, vals: Seq[Int]): Seq[String] =
    prunedGlob(spark, dir, pcol, vals, "").filter(_.isDirectory)
      .map(_.getPath.toString)

  private def prunedGlob(spark: SparkSession, dir: String, pcol: String,
                         vals: Seq[Int], below: String) =
    if (vals.isEmpty) Seq.empty
    else Option(fs(spark).globStatus(new Path(dir,
        s"epoch=*/batch=*/$pcol={${vals.distinct.sorted.mkString(",")}}$below")))
      .toSeq.flatten

  /** The data files of [[prunedPaths]], read with the store's declared
    * `schema`, leaving out `ownBatch`'s partition of this handle's
    * epoch. One glob lists the files themselves and the read is built
    * from that listing ([[org.apache.spark.sql.graftbridge.ParquetBridge
    * .readListed]]): `spark.read` would list the bucket dirs again, in a
    * Spark job once a probe's paths pass 32 (three uncompacted batches
    * of 16 buckets). */
  private def prunedRead(spark: SparkSession, dir: String, pcol: String,
                         vals: Seq[Int], schema: StructType,
                         ownBatch: Option[Long]): Option[DataFrame] = {
    val own = ownBatch.map(b => (s"epoch=$epoch", s"batch=$b"))
    val files = prunedGlob(spark, dir, pcol, vals, "/*").filter { s =>
      val batch = s.getPath.getParent.getParent
      s.isFile && org.apache.spark.sql.graftbridge.ParquetBridge.visible(s.getPath.getName) &&
        !own.contains((batch.getParent.getName, batch.getName))
    }
    if (files.isEmpty) None
    else Some(org.apache.spark.sql.graftbridge.ParquetBridge.readListed(spark, dir, files, schema))
  }

  /** The COMPLETE per-batch near-dup pair set against the accumulated
    * store — [[graft.dedup.Dedup.incrementalMinhashComplete]] semantics
    * (index probe ∪ within-batch self-LSH, pair-distinct, deterministic
    * MAX across re-ingested versions, same hot-bucket guard on both
    * legs) with the history reads PARTITION-PRUNED and both legs run
    * as ONE candidate join and ONE verification ([[prunedProbe]]).
    *
    * Equality with the full-scan probe is structural: a band bucket's
    * rows all live in one `bk` partition (the partition key is a hash of
    * the band join key), so unread partitions cannot hold matching
    * bands, and unread payload buckets cannot hold candidate old ids.
    * An empty or untouched store leaves only the within-batch leg (the
    * first-batch shape).
    *
    * `ownBatch` is the micro-batch id this probe serves: the probe
    * leaves out that batch's partitions of this handle's epoch. They
    * exist only when a crashed attempt of the same batch published
    * them, and the batch's signature chain overwrites them while the
    * probe's lazy payload read may still run
    * ([[appendSignaturesBeside]]). Left out, a replay probes exactly
    * the index its first attempt probed — same pairs, same hot-bucket
    * census. */
  def probeComplete(newShingled: DataFrame, minJaccX1e6: Long,
                    maxBucketOccupancy: Long = Long.MaxValue,
                    failOnHotBucket: Boolean = false,
                    ownBatch: Option[Long] = None): DataFrame =
    graft.dedup.Dedup.pairMax(prunedProbe(graft.dedup.Dedup.pinned(newShingled),
        minJaccX1e6, maxBucketOccupancy, failOnHotBucket, ownBatch,
        withinBatch = true).get)

  /** The probe-ONLY pruned read — [[graft.dedup.Dedup
    * .incrementalMinhashIndexed]] semantics against this store's
    * bucketed layout (no within-batch term, no fold): the serving path
    * when the store is a FIXED corpus index probed by a stream of
    * batches too large to pin ([[Streaming.incrementalDedupSink]]'s
    * pinned band table is the path for indexes that fit). Same
    * partition pruning and guard semantics as [[probeComplete]]'s cross
    * leg; byte-identical output to the full-scan probe. */
  def probeIndexed(newShingled: DataFrame, minJaccX1e6: Long,
                   maxBucketOccupancy: Long = Long.MaxValue,
                   failOnHotBucket: Boolean = false): DataFrame = {
    val newMat = graft.dedup.Dedup.pinned(newShingled)
    prunedProbe(newMat, minJaccX1e6, maxBucketOccupancy, failOnHotBucket,
        ownBatch = None, withinBatch = false)
      .getOrElse(newMat.select(col("doc_id").as("new_id"),
        col("doc_id").as("old_id"), lit(0L).as("jacc_x1e6")).limit(0))
  }

  /** The pruned probe core shared by [[probeComplete]] and
    * [[probeIndexed]]: verified (new_id, old_id, jacc_x1e6) rows of
    * `newMat` against the store — and, with `withinBatch`, against
    * itself (new_id < old_id) — or None when there is nothing to verify
    * against (no history bucket the batch hashes into and no
    * within-batch leg). `newMat` must be a lazy pin or a materialized
    * leaf. Three jobs on the calling thread — none while the band store
    * is empty:
    *
    *  1. '''bk collect''' — the batch's band buckets (≤ min(4·|batch|,
    *     bandBuckets) values), and with them the first materialization
    *     of `newMat`.
    *  1. '''the candidate broadcast''' — [[graft.dedup.Dedup
    *     .sideCandidates]] joins the batch's bands against the history's
    *     (read at exactly the collected bk paths) and, for the
    *     within-batch leg, against its own; cutting the result plans the
    *     join, whose broadcast runs here.
    *  1. '''pb collect''' — the cut's first materialization, which also
    *     returns the distinct `pb` buckets of the history candidates'
    *     old ids, the way [[graft.graph.Fixpoint]]'s loop tests ride a
    *     round's cut. The payload store is read at exactly those paths.
    *
    * Verification is then lazy: one side-tagged shingle frame (batch ∪
    * pruned payload, [[graft.dedup.Dedup.verify]]) serves both
    * lookups of both legs, one broadcast for the whole pass. */
  private def prunedProbe(newMat: DataFrame, minJaccX1e6: Long,
      maxBucketOccupancy: Long, failOnHotBucket: Boolean,
      ownBatch: Option[Long], withinBatch: Boolean): Option[DataFrame] = {
    import graft.dedup.Dedup
    import graft.Lineage._
    import GrowingDedupState.{BandSchema, PayloadSchema}
    val spark = newMat.sparkSession
    probeIoMemo = None // never report a previous probe's IO as this one's
    val stored = BatchStore.nonEmpty(spark, bandDir)
    // signatures without bands is EITHER the documented first-batch
    // crash window (payload published, crash before the band write —
    // the batch is invisible and its replay overwrites both) or a store
    // written by the pre-bucketed layout. Tell them apart by the payload
    // partitioning: bucketed payloads nest pb=* dirs; a legacy store has
    // none, and silently degrading to self-LSH would un-probe its
    // ENTIRE accumulated history.
    if (!stored && legacyLayout(spark))
      throw new IllegalStateException(
        s"GrowingDedupState: $sigDir holds signatures but no band " +
          "partitions and no pb buckets — a store written by the " +
          "pre-bucketed layout. Run compact()/maybeAutoCompact to " +
          "migrate it (the sinks do this at session start) before " +
          "probing.")
    val (bB, pB) = effectiveBuckets(spark)
    val newBands = Dedup.bandTable(newMat)
    val bks =
      if (!stored) Seq.empty
      else graft.Jobs.described(spark, "probe: bk collect") {
        distinctInts(newBands.select(bandBucketExpr(bB)))
      }
    val hist = prunedRead(spark, bandDir, "bk", bks, BandSchema, ownBatch)
    if (hist.isEmpty && !withinBatch) return None
    val sides = Dedup.sideCandidates(hist, newBands, withinBatch,
      maxBucketOccupancy, failOnHotBucket)
    // without history there are no payload buckets to learn: the
    // candidates stay lazy and the whole probe runs after the caller's
    // next fork. With history, `new_hist` is constant, but as a column of
    // the cut it reaches the verification joins opaque, so both lookups
    // share one build side.
    val (cand, pbs) =
      if (hist.isEmpty) (sides, Seq.empty[Int])
      else {
        val cut = graft.Jobs.described(spark, "probe: candidates")(sides.cut)
        (cut, graft.Jobs.described(spark, "probe: pb collect") {
          distinctInts(cut.select(
            when(col("hist"), payloadBucketExpr(pB, col("old_id")))))
        })
      }
    if (hist.nonEmpty &&
        spark.conf.getOption("graft.growing.probeIoDiagnostics").contains("true")) {
      val f = fs(spark)
      def sum(paths: Seq[String]): (Long, Long) =
        paths.foldLeft((0L, 0L)) { case ((nf, nb), p) =>
          val s = f.getContentSummary(new Path(p))
          (nf + s.getFileCount, nb + s.getLength)
        }
      val (bf, bb) = sum(prunedPaths(spark, bandDir, "bk", bks))
      val (bsf, bsb) = sum(Seq(bandDir))
      val (pf, pbb) = sum(prunedPaths(spark, sigDir, "pb", pbs))
      val (psf, psb) = sum(Seq(sigDir))
      probeIoMemo = Some(ProbeIo(bf, bb, bsf, bsb, pf, pbb, psf, psb))
    }
    val pay = prunedRead(spark, sigDir, "pb", pbs, PayloadSchema, ownBatch)
    if (pay.isEmpty && pbs.nonEmpty)
      throw new IllegalStateException(
        s"GrowingDedupState: payload partitions missing under $sigDir " +
          s"for probed candidate buckets ${pbs.mkString(",")} — " +
          "store corrupted (bands published without their payload?)")
    val shingles = (Dedup.tagged(newMat, hist = false) +:
        pay.map(Dedup.tagged(_, hist = true)).toSeq).reduce(_.unionByName(_))
    Some(Dedup.verify(cand, shingles, minJaccX1e6))
  }

  /** The distinct non-null values of `df`'s one int column, in ONE
    * job without a shuffle: each partition folds its values into a set
    * and the driver merges the sets. Run over a lazy cut or pin, the
    * job is also its materialization. For bucket ids only: the result
    * is bounded by the bucket count. */
  private def distinctInts(df: DataFrame): Seq[Int] =
    df.queryExecution.toRdd.mapPartitions { rows =>
      val seen = scala.collection.mutable.BitSet.empty
      rows.foreach(r => if (!r.isNullAt(0)) seen += r.getInt(0))
      Iterator(seen.toArray)
    }.collect().flatten.distinct.sorted.toSeq

  /** The raw signature store — may hold duplicate doc ids after a
    * cross-epoch replay; the probe's pair-level dedups tolerate them. */
  private[streaming] def indexRaw(spark: SparkSession): Option[DataFrame] =
    BatchStore.read(spark, sigDir, Some(GrowingDedupState.PayloadSchema))
      .map(_.drop("pb"))

  /** One signature row per doc. Read-time id dedup is DETERMINISTIC
    * (max payload struct per id — [[BatchStore.dedupByMaxStruct]]): for
    * the normal replay shape any copy is byte-identical, and a doc id
    * re-ingested with changed text across epochs resolves to the same
    * survivor every read, matching the probe's max-across-versions
    * contract instead of a dropDuplicates race. */
  def index(spark: SparkSession): DataFrame =
    indexRaw(spark).map(BatchStore.dedupByMaxStruct(_, Seq("doc_id")))
      .getOrElse(throw new IllegalStateException(
        s"GrowingDedupState: no signatures published under $sigDir yet"))

  /** The accumulated near-dup pair set, deterministically deduped on the
    * pair key at read (max jacc across duplicates — clean per-batch
    * stores are disjoint; duplicates only survive a cross-epoch resume
    * replay). */
  def matches(spark: SparkSession): DataFrame =
    BatchStore.read(spark, pairDir, Some(GrowingDedupState.PairSchema))
      .map(BatchStore.dedupByMaxStruct(_, Seq("doc_a", "doc_b")))
      .getOrElse(throw new IllegalStateException(
        s"GrowingDedupState: no matches published under $pairDir yet"))

  /** The current component labeling snapshot, None before the first
    * fold ([[graft.streaming.Streaming.growingComponentsSink]]). */
  def labels(spark: SparkSession): Option[DataFrame] =
    BatchStore.readSnapshot(spark, labelDir, GrowingDedupState.LabelSchema)

  /** The pair store's published partition names (`epoch=E/batch=N`) —
    * what a label snapshot publishing NOW can declare covered. */
  private[graft] def pairPartitions(spark: SparkSession): Seq[String] =
    Option(fs(spark).globStatus(new Path(pairDir, "epoch=*/batch=*")))
      .toSeq.flatten.filter(_.isDirectory).map(_.getPath)
      .map(p => s"${p.getParent.getName}/${p.getName}")

  /** The pair-store WAL tail the current label snapshot does NOT cover
    * — the only pairs session-start recovery must fold on top of the
    * snapshot (O(tail since last snapshot), not O(history); the fold's
    * idempotence makes any over-read merely wasteful, never wrong).
    * None when every published partition is covered, or the store is
    * empty. A store without a snapshot manifest returns the WHOLE pair
    * set — the fold-everything recovery shape. */
  private[graft] def unfoldedPairs(spark: SparkSession): Option[DataFrame] = {
    val covered = BatchStore.snapshotCovered(spark, labelDir).toSet
    val uncovered = pairPartitions(spark).filterNot(covered)
      .map(rel => s"$pairDir/$rel")
    if (uncovered.isEmpty) None
    else Some(spark.read.schema(GrowingDedupState.PairSchema)
      .option("basePath", pairDir).parquet(uncovered: _*).drop("epoch", "batch"))
  }

  /** Compact the signature, band, and pair stores into one partition
    * each, dropping the per-batch dirs — run between streaming sessions,
    * or let the sinks run it automatically at session start via
    * [[maybeAutoCompact]], to keep listing cost flat on a long-running
    * feed. Results are unchanged by contract: the probe and readers
    * dedup on the same keys. Label snapshots self-prune (latest two)
    * and need no compaction.
    *
    * Three contracts beyond [[BatchStore.compact]]'s:
    *
    *  - '''One version, consistently.''' The payload store dedups to
    *    ONE deterministic survivor per doc id (max payload struct) and
    *    the band store is then REBUILT as exactly the bands of those
    *    survivors — never compacted independently, because a per-band
    *    max(h1, h2) can pick a DIFFERENT re-ingested version than the
    *    payload's max-struct survivor, leaving a chimera store whose
    *    band rows advertise one version while verification reads
    *    another (near-dups of the surviving version would then probe
    *    into deleted band rows and silently miss).
    *  - '''Replayable partitions are spared.''' A checkpoint restart
    *    re-delivers its uncommitted batches under their original
    *    (epoch, batchId) keys, which must keep overwriting IN PLACE —
    *    so live-epoch batch dirs at or above `liveEpochSafeBelow` are
    *    never compacted. The sinks pass the FIRST batch id a session
    *    delivers as the frontier: everything below it is committed in
    *    the checkpoint log and can never be re-delivered, so a
    *    long-lived query that only ever restarts from checkpoint still
    *    gets its history compacted. The default (0) spares the whole
    *    live epoch — right for offline callers that cannot know the
    *    frontier.
    *  - '''Legacy migration.''' Payload rows written by the
    *    pre-bucketed layout (no `pb` column, no band store) gain their
    *    bucket column here and the band rebuild creates the band store
    *    from scratch — compaction IS the migration path the probe's
    *    legacy-store error names. Flat batches are migrated even in
    *    the live epoch (a bucketed replay overwrites them WHOLESALE,
    *    and sparing them would permanently wedge an upgraded store
    *    whose checkpoint restart reuses the legacy epoch); the bounded
    *    cost is one batch's worth of duplicate rows if the upgrade
    *    restart does replay, which every reader/probe tolerates.
    *
    * Crash-ordered like [[BatchStore.compact]]: each store's compacted
    * partition publishes before its originals are deleted, and the band
    * rebuild runs strictly after the payload compact so a crash between
    * them leaves band rows that are a superset of the survivors' —
    * extra candidates that verification (against the surviving
    * payloads) simply rejects. */
  def compact(spark: SparkSession, liveEpochSafeBelow: Long = 0L): Unit = {
    val f = fs(spark)
    val (bB, pB) = effectiveBuckets(spark)
    val ce = s"compact-${java.util.UUID.randomUUID()}"
    def replayable(p: Path): Boolean =
      p.getParent.getName == s"epoch=$epoch" &&
        BatchStore.batchIdOf(p) >= liveEpochSafeBelow
    def batchDirs(dir: String): Seq[Path] =
      Option(f.globStatus(new Path(dir, "epoch=*/batch=*"))).toSeq.flatten
        .filter(_.isDirectory).map(_.getPath)
    // classify per BATCH dir: flat (pre-bucketed) batches are read
    // separately from bucketed ones — one mixed-depth read would fail
    // partition discovery — and compact regardless of epoch (see above)
    val (flat, bucketedAll) = batchDirs(sigDir).partition(p =>
      Option(f.globStatus(new Path(p, "pb=*"))).forall(_.isEmpty))
    val bucketedOld = bucketedAll.filterNot(replayable)
    val sigOld = flat ++ bucketedOld
    if (sigOld.exists(BatchStore.hasDataFiles(f, _))) {
      def readGroup(dirs: Seq[Path]): Option[DataFrame] =
        if (!dirs.exists(BatchStore.hasDataFiles(f, _))) None
        else Some(spark.read.option("basePath", sigDir)
          .parquet(dirs.map(_.toString): _*).drop("epoch", "batch"))
      val withPb = (readGroup(bucketedOld) ++
          readGroup(flat).map(
            _.withColumn("pb", payloadBucketExpr(pB, col("doc_id")))))
        .reduce(_.unionByName(_))
      // conformed like every payload write, so the band rebuild below
      // can read the compact partition with the declared schema: a
      // legacy batch missing a column fails here, not as null hashes
      val survivors = GrowingDedupState.conform(
          BatchStore.dedupByMaxStruct(withPb, Seq("doc_id")),
          GrowingDedupState.PayloadSchema)
        .withColumn("pb", payloadBucketExpr(pB, col("doc_id")))
      BatchStore.append(survivors.repartition(col("pb")), sigDir, ce, 0L,
        partitionBy = Seq("pb"))
      val bandOld = batchDirs(bandDir).filterNot(replayable)
      val ceDir = new Path(BatchStore.batchDir(sigDir, ce, 0L))
      // zero survivors publish nothing (empty partitioned writes are
      // fileless by contract) — then there is nothing to band either
      if (f.exists(ceDir)) {
        val bands = GrowingDedupState.conform(graft.dedup.Dedup.bandsOf(
            spark.read.schema(GrowingDedupState.PayloadSchema)
              .parquet(ceDir.toString)), GrowingDedupState.BandSchema)
          .withColumn("bk", bandBucketExpr(bB))
        BatchStore.append(bands.repartition(col("bk")), bandDir, ce, 0L,
          partitionBy = Seq("bk"))
      }
      BatchStore.deleteBatches(f, bandOld)
      BatchStore.deleteBatches(f, sigOld)
    } else BatchStore.deleteBatches(f, sigOld) // fileless skeletons
    BatchStore.sweepEmptyEpochs(f, sigDir, keepEpoch = ce)
    BatchStore.sweepEmptyEpochs(f, bandDir, keepEpoch = ce)
    // pair-store compaction must keep the label snapshot's covered
    // listing meaningful: with a manifest present, compact ONLY the
    // partitions it declares covered (the uncovered tail is small by
    // construction — pairs since the last snapshot — and must stay
    // individually addressable so recovery keeps reading O(tail)),
    // then repoint the listing at the compact partition plus whatever
    // covered partitions compaction spared. Label-less stores (the
    // dedup sink) have no manifest and compact everything.
    val covered = BatchStore.snapshotCovered(spark, labelDir).toSet
    if (covered.isEmpty)
      BatchStore.compact(spark, pairDir, Seq("doc_a", "doc_b"), epoch = ce,
        spareBatch = replayable, schema = Some(GrowingDedupState.PairSchema))
    else {
      def relOf(p: Path) = s"${p.getParent.getName}/${p.getName}"
      BatchStore.compact(spark, pairDir, Seq("doc_a", "doc_b"), epoch = ce,
        spareBatch = p => replayable(p) || !covered.contains(relOf(p)),
        schema = Some(GrowingDedupState.PairSchema))
      val stillThere = covered.toSeq.sorted
        .filter(rel => f.exists(new Path(s"$pairDir/$rel")))
      BatchStore.rewriteCovered(spark, labelDir,
        s"epoch=$ce/batch=0" +: stillThere)
    }
  }

  /** Some published signature batch holds rows OUTSIDE the bucketed
    * (`pb=*`) layout: the store was written (at least partly) by the
    * pre-bucketed code and needs [[compact]]'s migration before its
    * history is fully probeable. Checked per batch dir, so a migration
    * that crashed after publishing its bucketed compact partition (but
    * before deleting the flat originals) still reads as needing the
    * retry — while the first-batch band-write crash window (whose one
    * payload batch IS bucketed) does not. */
  private def legacyLayout(spark: SparkSession): Boolean = {
    val f = fs(spark)
    val batches = Option(f.globStatus(new Path(sigDir, "epoch=*/batch=*")))
      .toSeq.flatten.filter(_.isDirectory).map(_.getPath)
    batches.nonEmpty && {
      val bucketed = Option(f.globStatus(
          new Path(sigDir, "epoch=*/batch=*/pb=*"))).toSeq.flatten
        .map(_.getPath.getParent.toString).toSet
      batches.exists(p => !bucketed.contains(p.toString) &&
        BatchStore.hasDataFiles(f, p))
    }
  }

  /** Session-start compaction policy: compact when any store holds more
    * than `autoCompactAfter` COMPACTABLE batch dirs (0 = disabled;
    * replay-spared live-epoch dirs don't count — a threshold they
    * could trip would fire a compaction that cannot touch them), or
    * ALWAYS when the store was written by the pre-bucketed layout
    * ([[legacyLayout]]) — [[compact]] doubles as that migration, and an
    * unmigrated store's history is unprobeable. The sinks call this
    * BEFORE the first batch of a session with that batch's id as
    * `liveEpochSafeBelow` — the replay frontier: every earlier batch is
    * committed in the checkpoint log, so even a query that only ever
    * restarts from checkpoint (one epoch forever) gets its history
    * compacted. Session start is the one point where the single-writer
    * contract makes compaction free of coordination (no batch is
    * mid-flight, no recovered labeling holds lazy references yet).
    * Returns whether a compaction ran. */
  def maybeAutoCompact(spark: SparkSession,
                       liveEpochSafeBelow: Long = 0L): Boolean = {
    val f = fs(spark)
    val legacy = legacyLayout(spark)
    val over = autoCompactAfter > 0 && {
      val worst = Seq(sigDir, bandDir, pairDir).map { d =>
        Option(f.globStatus(new Path(d, "epoch=*/batch=*"))).toSeq.flatten
          .count(s => s.isDirectory &&
            !(s.getPath.getParent.getName == s"epoch=$epoch" &&
              BatchStore.batchIdOf(s.getPath) >= liveEpochSafeBelow))
      }.max
      worst > autoCompactAfter
    }
    (legacy || over) && { compact(spark, liveEpochSafeBelow); true }
  }
}

object GrowingDedupState {
  /** Row schemas of the growing stores, shared by each store's writer
    * (which [[conform]]s its frame to it) and its readers (which declare
    * it instead of inferring it: inference runs a one-task parquet
    * footer job per read). Partition columns (`epoch`, `batch`, `bk`,
    * `pb`) are not part of them; readers still take those off the
    * paths. The legacy-layout migration reads in
    * [[GrowingDedupState.compact]] keep inference — a declared schema
    * would read a missing column as nulls there instead of failing. */
  val PayloadSchema: StructType = StructType.fromDDL(
    ("doc_id BIGINT, shingles ARRAY<BIGINT>" +:
      (0 until 8).map(j => s"h$j BIGINT")).mkString(", "))
  val BandSchema: StructType =
    StructType.fromDDL("doc_id BIGINT, band INT, h1 BIGINT, h2 BIGINT")
  val PairSchema: StructType =
    StructType.fromDDL("doc_a BIGINT, doc_b BIGINT, jacc_x1e6 BIGINT")
  val LabelSchema: StructType =
    StructType.fromDDL("node BIGINT, component BIGINT")

  /** `df`'s columns in `schema`'s order, cast to its types — what a
    * store's writer publishes, so the files always match what the
    * store's readers declare. */
  private[streaming] def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
}
