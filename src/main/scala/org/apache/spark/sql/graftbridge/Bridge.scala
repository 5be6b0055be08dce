package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Bridge to Spark's package-private API: the Column ↔ Expression
  * converters (org.apache.spark.sql.classic.ExpressionUtils is
  * private[sql] in Spark 4) — the supported pattern for libraries that
  * ship custom Catalyst expressions without going through the SQL
  * function registry — and the one [[checkpoint]] behind every cut and
  * pin (`Dataset.ofRows`, `LogicalRDD.fromDataset` and
  * `RDD.doCheckpoint` are private too).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a custom Expression as a SQL temp function on a LIVE
    * session (sessionState is private[sql] — hence this bridge). The
    * config-time path is `spark.sql.extensions=graft.GraftExtensions`;
    * this is the equivalent for sessions that already exist. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** Block storage of cuts and pins: SERIALIZED (MEMORY_AND_DISK_SER),
    * not the deserialized default. A deserialized block rides
    * MemoryStore's `DeserializedValuesHolder`, whose `SizeTracker`
    * re-estimates the unroll vector by SAMPLING THE OBJECT GRAPH
    * (`SizeEstimator.estimate` → `sampleArray`, pointer-chasing per
    * sampled row) — JFR execution samples of a blown-up bench pass put
    * ~85% of the victim query's task CPU inside exactly that machinery,
    * and pointer-chasing is hypersensitive to memory-bandwidth contention
    * (stall cycles bill as thread CPU). A serialized block streams rows
    * into chunked byte buffers with an EXACT byte count — no estimator,
    * smaller footprint, cheaper spill — and UnsafeRow's Externalizable
    * form is a plain length+bytes copy. The trade is a deserialization
    * per RE-READ (+0.3-0.7s at sf0.1 on read-many fixpoints, PROGRESS
    * round-14), which [[HotPinLevel]] buys back where it dominates. */
  val PinLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  /** Block storage of HOT pins — frames a fixpoint re-reads many times
    * per round (k-truss' peel table, coreness' live/edge state, the
    * basket table of the rules miner): DESERIALIZED. Serialized blocks
    * pay a full deserialization per re-read; for these sites the r15
    * paired runs measured +0.5-0.7s per query at sf0.1 under SER, while
    * the storm class SER protects against (SizeEstimator sampling on
    * UNROLL) bills per write, which hot read-many frames do once. */
  val HotPinLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /** What a [[checkpoint]] does to the lineage of its RDD. */
  sealed abstract class Truncation
  object Truncation {
    /** Truncated; the blocks live only on their executors
      * (`RDD.localCheckpoint`): fastest, no executor-loss tolerance. */
    case object Local extends Truncation
    /** Truncated to files under `SparkContext.checkpointDir`
      * (`RDD.checkpoint`): a lost executor re-reads them. */
    case object Durable extends Truncation
    /** Kept: only the SQL plan becomes a leaf, and the RDD chain stays
      * recomputable back to the last durable files — the rounds between
      * the durable writes of an interval-checkpointed fixpoint. */
    case object PlanOnly extends Truncation
  }

  /** The one checkpoint of the project: `df` as a `LogicalRDD` leaf over
    * its own rows. Cuts, pins and hot pins all come through here (via
    * [[graft.Lineage]]), and none opens a SQL execution of its own.
    *
    * The rows are `queryExecution.toRdd`, copied, with the source plan's
    * metrics kept ([[keepMetrics]]); the RDD is persisted at `level`
    * first — RDD.localCheckpoint keeps a pre-set level's serialized flag
    * (LocalRDDCheckpointData.transformStorageLevel only forces useDisk)
    * where an unset one falls back to deserialized, and a durable write
    * of a persisted RDD reads the blocks instead of recomputing the plan
    * — and then marked per `truncation`. With `eager` the rows are
    * materialized now, in one job (a truncating checkpoint runs its own:
    * the local blocks, or the durable write); otherwise by the first
    * action that reads the frame (with AQE, `toRdd` has already run the
    * plan's shuffle stages).
    *
    * `keepStats` picks the leaf. True builds it the way
    * `Dataset.checkpoint` does (`LogicalRDD.fromDataset`): the source's
    * output attributes, statistics and constraints, and its executed
    * plan's output partitioning and ordering. False resets the
    * statistics to `spark.sql.defaultSizeInBytes`, on fresh attributes
    * with unknown partitioning: inside a loop, inherited statistics
    * COMPOUND — round N's sizeInBytes is a BigInt product over round
    * N−1's inherited one, so the bit length roughly doubles per round
    * and by round ~25 the driver spends minutes in
    * BigInteger.multiplyToomCook3 per checkpoint (measured 18s → 188s
    * inter-round gaps on a 600-row graph), whatever the data size. The
    * default prior is the honest estimate for a frontier whose size is
    * unknowable at plan time; AQE re-plans from the runtime sizes. */
  def checkpoint(df: DataFrame, eager: Boolean, level: StorageLevel,
                 keepStats: Boolean, truncation: Truncation): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = keepMetrics(ds.queryExecution.toRdd.map(_.copy()), ds)
    rdd.persist(level)
    truncation match {
      case Truncation.Local    => rdd.localCheckpoint()
      case Truncation.Durable  => rdd.checkpoint()
      case Truncation.PlanOnly => ()
    }
    if (eager) {
      if (truncation == Truncation.PlanOnly) rdd.count() else rdd.doCheckpoint()
    }
    if (keepStats)
      classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
    else ds.sparkSession.internalCreateDataFrame(rdd, ds.schema)
  }

  /** The SQL metrics of the plans whose RDDs were checkpointed, each
    * set held as long as its checkpointed RDD is reachable.
    *
    * The driver keeps accumulators only weakly; a metric lives as long
    * as its plan does. A checkpoint truncates its RDD's lineage when
    * the first job that computes it ends, and with the lineage goes
    * the last reference to the plan that produced it. Jobs launched
    * together over one lazily checkpointed frame — the broadcasts and
    * adaptive stages of one plan start at once — still run tasks
    * serialized with that lineage; once the plan is collected, their
    * metric updates land on "non-existent accumulator" errors and are
    * lost. A running job reaches the checkpointed RDD itself, so the
    * metrics hang off it. */
  private val sourceMetrics = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], Seq[AnyRef]]())

  private def keepMetrics[R <: RDD[_]](rdd: R, source: classic.Dataset[_]): R = {
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    sourceMetrics.put(rdd, helper.collectWithSubqueries(source.queryExecution.executedPlan) {
      case p => p.metrics.values.toSeq }.flatten)
    rdd
  }

  /** True when the frame is already a materialized leaf — a
    * checkpoint/pin scan (`LogicalRDD`), possibly under trivial
    * Project/SubqueryAlias wrappers. Lets loop bodies that defensively
    * `.cut` their inputs skip the redundant re-materialization when the
    * caller hands them an already-pinned frame: re-reading a pinned
    * block N times is a cheap block scan, re-CUTTING it per call writes
    * a whole fresh copy (the stream_incremental_components per-batch
    * tax, measured in PROGRESS round 15). Only DETERMINISTIC
    * Project/alias wrappers are stripped (Spark's own CollapseProject
    * guard): a projection carrying rand/uuid/
    * monotonically_increasing_id over a pinned leaf is NOT "already
    * materialized" — multi-read consumers would observe different
    * values per read, which is exactly what the pin exists to prevent.
    * Anything with a filter, join, or aggregate on top still cuts.
    *
    * CONTRACT — "materialized" means CHEAP TO RE-SCAN, not immutable:
    * a file-source leaf qualifies because re-reading its files is as
    * cheap as re-reading checkpoint blocks, but the files themselves
    * can be deleted out from under a live frame by directory mutation
    * (BatchStore.append's replay step-aside, compact, publishSnapshot's
    * snapshot prune). A caller pinning SPECIFICALLY to isolate a frame
    * from an upcoming mutation of the same directory must therefore NOT
    * route through an isTruncated skip — use an explicit eager
    * checkpoint (`Lineage.pinned(df, eager = true)` / `.cutEager`, which
    * never consult this) the way the growing-components recovery path
    * does before its replay can overwrite the pair store it recovered
    * from (StreamingSpec "replay overwrite" pins that). The skip sites
    * here (Dedup.pinned, the incremental-CC fold) all consume their
    * input within the same step that produced it, before any mutation
    * of the backing directory can run. */
  def isTruncated(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(projectList, child) if projectList.forall(_.deterministic) =>
        strip(child)
      case SubqueryAlias(_, child) => strip(child)
      case other                   => other
    }
    strip(df.queryExecution.analyzed) match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      // a bare FILE-source scan is materialized BY DEFINITION — the
      // files are the checkpoint. The persisted growing sinks hand the
      // incremental-CC fold parquet-backed labelings every micro-batch;
      // re-cutting those wrote a full localCheckpoint copy of the
      // labeling per batch for nothing (re-reading a parquet leaf per
      // consumer is a cheap scan). Only FILE relations qualify: a JDBC
      // or other external LogicalRelation re-executes its source query
      // per read and can observe different rows across the multi-read
      // consumers the pin protects — those still cut. Any
      // filter/join/agg above still cuts too (deterministic projections
      // are stripped above, same as for pinned leaves).
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.isInstanceOf[
          org.apache.spark.sql.execution.datasources.v2.FileTable]
      case _ => false
    }
  }

  /** Run `body` on `exec` the way Spark runs its own driver-side side
    * work (broadcast builds, subquery prefetches): the new thread carries
    * the caller's active session and SparkContext local properties — job
    * group (so cancelling the caller's group cancels its jobs too), SQL
    * execution id, streaming batch id and job description. The classic
    * session type the helper takes is private to spark-sql, hence this
    * bridge. */
  def withThreadLocalCaptured[T](spark: org.apache.spark.sql.SparkSession,
                                 exec: java.util.concurrent.ExecutorService)
                                (body: => T): java.util.concurrent.CompletableFuture[T] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], exec)(body)

  /** Drain the async listener bus (private[spark]) — snapshotting
    * listener-accumulated task metrics right after an action otherwise
    * races the bus and attributes late task-end events to the NEXT
    * query's window. */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession,
                      timeoutMs: Long = 10000L): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}

/** Parquet reads that skip Spark's driver-side discovery jobs. */
object ParquetBridge {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
  import org.apache.spark.sql.types.StructType

  /** The schema `spark.read.parquet(path)` would infer, derived on the
    * driver. Inference reads one footer — the first visible data file —
    * inside a one-task Spark job (`ParquetFileFormat.mergeSchemasInParallel`);
    * this reads the same footer here and converts it with the same
    * converter settings, so a read that declares the result plans exactly
    * like the inferring one and runs no job. */
  def schemaOf(spark: org.apache.spark.sql.SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val file =
      if (!st.isDirectory) st
      else fs.listStatus(p).filter(s => s.isFile && visible(s.getPath.getName))
        .sortBy(_.getPath.getName).headOption
        .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter finally reader.close()
    val sql = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer), converter)
  }

  /** A parquet read of exactly `files` (leaf data files under `basePath`,
    * partition columns taken from their paths as `spark.read` with
    * `basePath` takes them), built from a listing the caller already
    * holds. `spark.read` would list the files' directories again — in a
    * Spark job once there are more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` of them. */
  def readListed(spark: org.apache.spark.sql.SparkSession, basePath: String,
                 files: Seq[FileStatus], schema: StructType): org.apache.spark.sql.DataFrame = {
    val byDir = files.groupBy(_.getPath.getParent).map { case (d, fs) => d -> fs.toArray }
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byDir.get(path)
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val options = Map("basePath" -> basePath)
    val index = new InMemoryFileIndex(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      byDir.keys.toSeq.sortBy(_.toString), options, Some(schema), listed)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      schema.asNullable, None, new ParquetFileFormat, options)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
  }

  /** Names a Spark file listing keeps: not `_`- or `.`-prefixed. */
  def visible(name: String): Boolean = !name.startsWith("_") && !name.startsWith(".")
}
