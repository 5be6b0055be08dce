package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** Lineage truncation for iterative fixpoints.
  *
  * `Dataset.localCheckpoint` rewrites the parent plan's STATISTICS onto
  * the checkpointed frame (Spark 4 `LogicalRDD.rewriteStatsAndConstraints`).
  * Fine once; inside a loop it compounds: round N's join-product
  * sizeInBytes is a BigInt product over round N−1's inherited stats, so
  * the bit length ~doubles per round and past ~20 rounds the DRIVER
  * stalls for minutes in BigInteger multiplication per checkpoint —
  * regardless of data size (measured 18s → 188s inter-round gaps on a
  * 600-row graph; every pre-round-7 fixpoint here survived only because
  * it converged in ≲15 rounds). `cut` checkpoints WITHOUT inheriting
  * stats: the frame re-enters the plan at `spark.sql.defaultSizeInBytes`,
  * the honest prior for a frontier whose size is unknowable at plan
  * time; AQE re-plans joins from the REAL runtime sizes anyway, which is
  * where broadcast decisions belong in a loop. Use inside every
  * per-round checkpoint; loop-INIT frames can keep `localCheckpoint`
  * (one bounded inheritance, no compounding).
  *
  * ==Checkpoint durability (cluster story)==
  *
  * `localCheckpoint` keeps the truncated partitions ONLY on their
  * executors: on a real cluster, losing one executor mid-fixpoint makes
  * the job unrecoverable ("lineage truncated and cannot be recomputed").
  * That is acceptable on local[32] and fatal for a multi-hour 100-TB
  * PageRank/SCC run, so the strategy is config-driven — no changes at
  * any of the ~100 `.cut` call sites:
  *
  *  - `graft.lineage.mode=local` (default): `localCheckpoint`-backed,
  *    fastest, zero executor-loss tolerance. Right for local mode where
  *    executor==driver and a lost executor is a lost job anyway.
  *  - `graft.lineage.mode=reliable`: durable checkpoint to
  *    `SparkContext.checkpointDir` (set it to HDFS/S3; or set
  *    `graft.lineage.dir` and the first cut applies it). With
  *    `graft.lineage.reliableEvery=N` (default 1) only every Nth cut
  *    pays the durable write; the rounds between are PLAN-only cuts
  *    (small SQL plan, stats reset) that keep RDD lineage intact, so
  *    recovery after executor loss recomputes at most N rounds from the
  *    last durable files. N.B. an interval cut with `localCheckpoint`
  *    instead would be self-defeating — it truncates the very lineage
  *    recovery needs — hence the plan-only primitive
  *    ([[Bridge.planCutNoStats]]).
  *
  * The `reliableEvery` counter is process-global (one counter across
  * concurrent fixpoints): interleaving can stretch one chain's gap
  * between durable writes past N rounds, but intermediate cuts preserve
  * lineage, so recoverability is unaffected — only worst-case recompute
  * depth grows.
  */
object Lineage {
  private val cutCounter = new AtomicLong(0)

  implicit final class CutOps(private val df: DataFrame) extends AnyVal {
    /** Lazy lineage+stats cut — drop-in for `.localCheckpoint(false)`. */
    def cut: DataFrame = Lineage.checkpoint(df, eager = false)
    /** Eager variant — drop-in for `.localCheckpoint()` / `(true)`. */
    def cutEager: DataFrame = Lineage.checkpoint(df, eager = true)
    /** Mode-aware drop-in for a plain `.localCheckpoint(false)` that
      * KEEPS the stats-inheritance semantics (loop-init frames,
      * single-shot mid-pipeline pins — the sites where one bounded
      * inheritance is fine and the stat-reset of [[cut]] is not
      * wanted). In `reliable` mode this routes to `Dataset.checkpoint`
      * so the pinned partitions live in the durable checkpoint dir:
      * on a cluster ANY locally-checkpointed frame defeats stage-retry
      * recovery (a lost partition cannot be recomputed), so the
      * executor-loss story requires loop-STATIC inputs — not just the
      * per-round frontier — to go durable with the same config switch.
      * Pins share the `reliableEvery` counter with cuts (some pin sites
      * are per-round): every Nth pin is durable, the rest are plan-only
      * cuts whose stats reset to the default prior. */
    def pin: DataFrame = Lineage.pinned(df, eager = false)
    /** Eager variant — drop-in for `.localCheckpoint()` / `(true)`. */
    def pinEager: DataFrame = Lineage.pinned(df, eager = true)
    /** HOT pin — for frames re-read MANY times (per-round peel tables,
      * shared basket/state frames): stores DESERIALIZED by default so
      * each re-read is a block scan, not a deserialization pass
      * (measured +0.5-0.7s/query at sf0.1 on k-truss/coreness/basket
      * rules under SER pins, PROGRESS r15). An explicit global
      * `graft.lineage.pinStorage` (either value) overrides per-site
      * hints — one knob still flips the whole engine. Reliable mode is
      * unaffected (durable path, same as [[pin]]). */
    def pinHot: DataFrame = Lineage.pinnedHot(df, eager = false)
  }

  def pinnedHot(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("graft.lineage.mode", "local") match {
      case "local" =>
        Bridge.keepSourceMetrics(df.localCheckpoint(eager, Bridge.hotPinStorageLevel(spark)), df)
      case _       => pinned(df, eager) // durable path: storage hint n/a
    }
  }

  def pinned(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("graft.lineage.mode", "local") match {
      // serialized storage by default, matching the cut paths:
      // deserialized blocks pay MemoryStore's SizeEstimator object-graph
      // sampling per unroll (the r14 JFR-diagnosed bench pathology —
      // Bridge.pinLevel note); graft.lineage.pinStorage=deser flips the
      // whole engine where re-read latency dominates (measured bounded:
      // PROGRESS round-14 pin-storage table)
      case "local" =>
        Bridge.keepSourceMetrics(df.localCheckpoint(eager, Bridge.pinStorageLevel(spark)), df)
      case "reliable" =>
        // `.pin` sites include PER-ROUND frames (coreness' removed/out,
        // Borůvka's cand/chosen/msf, MIS' winners/mis, …), so they must
        // share the reliableEvery amortization with `.cut` — otherwise a
        // fixpoint that pins each round pays a durable HDFS/S3 write per
        // round regardless of N. Every Nth pin is a durable
        // `Dataset.checkpoint` (stats inheritance intact); the pins
        // between are plan-only cuts: lineage stays recomputable back to
        // the last durable files, the plan is a leaf, but stats reset to
        // the default prior — AQE re-plans from runtime sizes, which is
        // where broadcast decisions belong between durable anchors.
        ensureCheckpointDir(spark)
        val every = spark.conf.get("graft.lineage.reliableEvery", "1").toInt
        if (every <= 1 || cutCounter.incrementAndGet() % every == 0)
          Bridge.keepSourceMetrics(df.checkpoint(eager), df)
        else Bridge.planCutNoStats(df, eager)
      case other =>
        throw new IllegalArgumentException(
          s"graft.lineage.mode must be 'local' or 'reliable', got '$other'")
    }
  }

  def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("graft.lineage.mode", "local") match {
      case "local" => Bridge.localCheckpointNoStats(df, eager)
      case "reliable" =>
        ensureCheckpointDir(spark)
        val every = spark.conf.get("graft.lineage.reliableEvery", "1").toInt
        if (every <= 1 || cutCounter.incrementAndGet() % every == 0)
          Bridge.reliableCheckpointNoStats(df, eager)
        else Bridge.planCutNoStats(df, eager)
      case other =>
        throw new IllegalArgumentException(
          s"graft.lineage.mode must be 'local' or 'reliable', got '$other'")
    }
  }

  private def ensureCheckpointDir(spark: org.apache.spark.sql.SparkSession): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.getOption("graft.lineage.dir") match {
        case Some(dir) => spark.sparkContext.setCheckpointDir(dir)
        case None => throw new IllegalStateException(
          "graft.lineage.mode=reliable needs a durable checkpoint dir: call " +
          "sparkContext.setCheckpointDir(hdfs/s3 path) or set graft.lineage.dir")
      }
    }
}
