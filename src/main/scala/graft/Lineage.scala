package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.Truncation
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for iterative fixpoints: every cut and pin is one
  * [[Bridge.checkpoint]] — the frame rebuilt as a leaf over its own
  * persisted rows, with no SQL execution of its own. Three kinds:
  *
  *  - `cut` / `cutEager`: the per-round checkpoint. Its leaf does NOT
  *    inherit the source's statistics, which compound inside a loop
  *    until the driver stalls in BigInteger multiplication (see
  *    [[Bridge.checkpoint]]): the frame re-enters the plan at
  *    `spark.sql.defaultSizeInBytes` and AQE re-plans joins from the
  *    real runtime sizes.
  *  - `pin` / `pinEager`: loop-init frames and single-shot mid-pipeline
  *    pins, where one bounded inheritance is fine — the leaf keeps the
  *    source's statistics, attributes and output partitioning, as
  *    `Dataset.checkpoint` would build it.
  *  - `pinHot`: a pin re-read MANY times (per-round peel tables, shared
  *    basket/state frames), stored deserialized ([[Bridge.HotPinLevel]])
  *    so each re-read is a block scan, not a deserialization pass. Cuts
  *    and other pins store serialized ([[Bridge.PinLevel]]).
  *
  * ==Checkpoint durability (cluster story)==
  *
  * A local checkpoint keeps the truncated partitions ONLY on their
  * executors: on a real cluster, losing one executor mid-fixpoint makes
  * the job unrecoverable ("lineage truncated and cannot be recomputed").
  * That is acceptable on local[32] and fatal for a multi-hour 100-TB
  * PageRank/SCC run, so the strategy is config-driven and read in one
  * place ([[checkpoint]]) — no changes at any call site:
  *
  *  - `graft.lineage.mode=local` (default): local checkpoints, fastest,
  *    zero executor-loss tolerance. Right for local mode where
  *    executor==driver and a lost executor is a lost job anyway.
  *  - `graft.lineage.mode=reliable`: durable checkpoints to
  *    `SparkContext.checkpointDir` (set it to HDFS/S3; or set
  *    `graft.lineage.dir` and the first checkpoint applies it) — cuts and
  *    pins alike, since on a cluster ANY locally checkpointed frame,
  *    loop-static inputs included, defeats stage-retry recovery. With
  *    `graft.lineage.reliableEvery=N` (default 1) only every Nth
  *    checkpoint pays the durable write; the ones between are PLAN-only
  *    (a leaf plan with statistics reset, RDD lineage intact), so
  *    recovery after executor loss recomputes at most N rounds from the
  *    last durable files. A local checkpoint between them would be
  *    self-defeating: it truncates the very lineage recovery needs.
  *
  * The `reliableEvery` counter is process-global (one counter across
  * cuts, pins and concurrent fixpoints — some pin sites are per-round):
  * interleaving can stretch one chain's gap between durable writes past
  * N rounds, but intermediate checkpoints preserve lineage, so
  * recoverability is unaffected — only worst-case recompute depth grows.
  */
object Lineage {
  private val cutCounter = new AtomicLong(0)

  implicit final class CutOps(private val df: DataFrame) extends AnyVal {
    /** Lazy cut: lineage truncated, statistics reset. */
    def cut: DataFrame = checkpoint(df, eager = false, Bridge.PinLevel, keepStats = false)
    /** Eager variant of [[cut]]: materialized before it returns. */
    def cutEager: DataFrame = checkpoint(df, eager = true, Bridge.PinLevel, keepStats = false)
    /** Lazy pin: lineage truncated, statistics inherited. */
    def pin: DataFrame = pinned(df, eager = false)
    /** Eager variant of [[pin]]: materialized before it returns. */
    def pinEager: DataFrame = pinned(df, eager = true)
    /** [[pin]] stored deserialized, for frames re-read many times. */
    def pinHot: DataFrame = checkpoint(df, eager = false, Bridge.HotPinLevel, keepStats = true)
  }

  def pinned(df: DataFrame, eager: Boolean): DataFrame =
    checkpoint(df, eager, Bridge.PinLevel, keepStats = true)

  /** The mode switch: local, durable, or — between the durable writes of
    * `reliableEvery=N` — plan-only, whose leaf always resets statistics
    * (a chain of plan-only pins inheriting them would compound). */
  private def checkpoint(df: DataFrame, eager: Boolean, level: StorageLevel,
                         keepStats: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("graft.lineage.mode", "local") match {
      case "local" => Bridge.checkpoint(df, eager, level, keepStats, Truncation.Local)
      case "reliable" =>
        ensureCheckpointDir(spark)
        val every = spark.conf.get("graft.lineage.reliableEvery", "1").toInt
        if (every <= 1 || cutCounter.incrementAndGet() % every == 0)
          Bridge.checkpoint(df, eager, level, keepStats, Truncation.Durable)
        else Bridge.checkpoint(df, eager, level, keepStats = false, Truncation.PlanOnly)
      case other =>
        throw new IllegalArgumentException(
          s"graft.lineage.mode must be 'local' or 'reliable', got '$other'")
    }
  }

  private def ensureCheckpointDir(spark: SparkSession): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.getOption("graft.lineage.dir") match {
        case Some(dir) => spark.sparkContext.setCheckpointDir(dir)
        case None => throw new IllegalStateException(
          "graft.lineage.mode=reliable needs a durable checkpoint dir: call " +
          "sparkContext.setCheckpointDir(hdfs/s3 path) or set graft.lineage.dir")
      }
    }
}
