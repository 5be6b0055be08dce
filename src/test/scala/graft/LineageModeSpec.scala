package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The `graft.lineage.mode` strategy switch must be output-invisible:
  * a fixpoint produces byte-identical results under `local` (default,
  * local checkpoints), `reliable` (durable checkpoint-dir files), and
  * `reliable` with an interval (plan-only cuts between durable writes).
  * Reliable mode must actually WRITE to the checkpoint dir — that is
  * the executor-loss-recovery evidence. The checkpoint contract test
  * pins down, per kind and mode, each leaf's statistics, storage level,
  * lineage and eagerness, and that no checkpoint opens a SQL execution. */
class LineageModeSpec extends SparkSuite {
  override protected def shufflePartitions: Int = 7
  import spark.implicits._

  // Chain + ring + isolated pairs: needs several pointer-jump rounds so
  // multiple cut() calls happen under each mode.
  private def edges = (1L to 40L).map(i => (i, i + 1)).toDF("a", "b")
    .union(Seq((50L, 51L), (51L, 52L), (52L, 50L), (60L, 61L)).toDF("a", "b"))

  private def components(): Set[(Long, Long)] =
    graph.Fixpoint.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val ckptDir: java.io.File = {
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    dir
  }

  test("reliable mode matches local mode and writes durable checkpoint files") {
    val want = components() // default local mode
    val dir = ckptDir
    val got = withConf("graft.lineage.mode" -> "reliable") { components() }
    assert(got == want)
    // the durable evidence: RDD checkpoint files landed under the dir
    def filesUnder(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(filesUnder).sum else 1
    assert(filesUnder(dir) > 0, "reliable mode must write checkpoint files")
  }

  test("reliable interval mode (plan-only cuts between durable writes) matches") {
    ckptDir
    val want = components()
    val got = withConf("graft.lineage.mode" -> "reliable",
      "graft.lineage.reliableEvery" -> "3") { components() }
    assert(got == want)
  }

  test("plan-only cut keeps the SQL plan a leaf but preserves recomputability") {
    import org.apache.spark.sql.graftbridge.Bridge
    val df = spark.range(100).toDF("id").withColumn("v", col("id") * 2)
    val cut = Bridge.checkpoint(df, eager = false, Bridge.PinLevel, keepStats = false,
      Bridge.Truncation.PlanOnly)
    // SQL plan is a leaf (LogicalRDD) — the stat bomb is defused
    assert(cut.queryExecution.optimizedPlan.children.isEmpty)
    // and unlike localCheckpoint, the RDD lineage is still recomputable:
    // unpersist the backing RDD and the action must succeed by recompute
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(cut.agg(sum("v")).collect().head.getLong(0) == 9900L)
  }

  test("reliable interval mode amortizes .pin durable writes too") {
    import Lineage.CutOps
    val dir = ckptDir
    def rddDirsUnder(f: java.io.File): Int =
      if (f.isDirectory)
        (if (f.getName.startsWith("rdd-")) 1 else 0) + f.listFiles().map(rddDirsUnder).sum
      else 0
    val before = rddDirsUnder(dir)
    // any 6 consecutive shared-counter increments hit %3==0 exactly twice,
    // regardless of the counter's phase from earlier tests
    withConf("graft.lineage.mode" -> "reliable",
        "graft.lineage.reliableEvery" -> "3") {
      (1 to 6).foreach { i =>
        val p = spark.range(10L * i).toDF("id").pinEager
        assert(p.count() == 10L * i) // pinned frame stays correct either path
      }
    }
    val durable = rddDirsUnder(dir) - before
    assert(durable == 2,
      s"6 pins at reliableEvery=3 must pay exactly 2 durable writes, got $durable")
  }

  test("isTruncated sees pinned leaves through trivial wrappers, nothing else") {
    import org.apache.spark.sql.graftbridge.Bridge
    import graft.Lineage.CutOps
    val raw = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("node", "component")
    assert(!Bridge.isTruncated(raw))
    val pinned = raw.pinEager
    assert(Bridge.isTruncated(pinned))
    // trivial projections over the leaf still count as truncated …
    assert(Bridge.isTruncated(pinned.select(col("node"), col("component"))))
    assert(Bridge.isTruncated(pinned.select(col("node").as("n"))))
    // … but anything that recomputes (filter/agg/join) does not
    assert(!Bridge.isTruncated(pinned.filter(col("node") > 1)))
    assert(!Bridge.isTruncated(pinned.groupBy("component").count()))
    // a NONDETERMINISTIC projection is not "already materialized":
    // skipping the pin would let multi-read consumers observe different
    // rand/uuid values per read (CollapseProject's own guard)
    assert(!Bridge.isTruncated(pinned.withColumn("r", rand())))
    assert(!Bridge.isTruncated(
      pinned.select(col("node"), monotonically_increasing_id().as("m"))))
    assert(Bridge.isTruncated(raw.cutEager))
    // the quotient fold must not re-cut a pinned labeling: its output
    // over a pinned input matches the unpinned path exactly
    val newEdges = Seq((2L, 3L)).toDF("a", "b")
    val viaPinned = graph.Fixpoint.incrementalComponents(pinned, newEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaRaw = graph.Fixpoint.incrementalComponents(raw, newEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPinned == viaRaw)
  }

  test("checkpoint contract: cut, pin and hot pin under local, reliable and reliable every 3") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.storage.StorageLevel
    import Lineage.CutOps
    ckptDir
    case class Kind(name: String, of: DataFrame => DataFrame, level: StorageLevel,
                    keepsStats: Boolean, eager: Boolean)
    val kinds = Seq(
      Kind("cut", _.cut, StorageLevel.MEMORY_AND_DISK_SER, keepsStats = false, eager = false),
      Kind("cutEager", _.cutEager, StorageLevel.MEMORY_AND_DISK_SER, keepsStats = false, eager = true),
      Kind("pin", _.pin, StorageLevel.MEMORY_AND_DISK_SER, keepsStats = true, eager = false),
      Kind("pinEager", _.pinEager, StorageLevel.MEMORY_AND_DISK_SER, keepsStats = true, eager = true),
      Kind("pinHot", _.pinHot, StorageLevel.MEMORY_AND_DISK, keepsStats = true, eager = false))
    // mode → the number of durable checkpoints among three in a row
    // (every=3 hits the shared counter's multiple of 3 exactly once,
    // whatever its phase); a checkpoint that is not durable is local in
    // local mode and plan-only in reliable mode
    val modes = Seq(
      "local" -> (Seq("graft.lineage.mode" -> "local"), 0),
      "reliable" -> (Seq("graft.lineage.mode" -> "reliable"), 3),
      "reliable every 3" -> (Seq("graft.lineage.mode" -> "reliable",
        "graft.lineage.reliableEvery" -> "3"), 1))
    val defaultSize = 7777777L
    def leafOf(df: DataFrame) = df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fs = new Path(ckptDir.toURI).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // without AQE the source's hash partitioning reaches an inheriting leaf
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val src = spark.range(0, 60, 1, 3).select(col("id"), (col("id") % 7).as("v"))
        .repartition(4, col("v"))
      val want = rows(src)
      // what an inheriting leaf must equal: the leaf Dataset.checkpoint builds
      val ref = leafOf(src.localCheckpoint(false)).get
      assert(ref.outputPartitioning.isInstanceOf[HashPartitioning])
      assert(ref.stats.sizeInBytes != BigInt(defaultSize))
      for ((mode, (conf, durableOfThree)) <- modes; k <- kinds) {
        val cell = s"${k.name} × $mode"
        withConf(conf :+ ("spark.sql.defaultSizeInBytes" -> defaultSize.toString): _*) {
          val (frames, w) = JobCensus(spark).during(Seq.fill(3)(k.of(src)))
          assert(w.sqlExecutions == 0, s"$cell opened a SQL execution")
          val leaves = frames.map(f => leafOf(f).getOrElse(fail(s"$cell: no LogicalRDD leaf")))
          val truncatedBeforeAction = leaves.map(_.rdd.isCheckpointed)
          frames.foreach(f => assert(rows(f) == want, cell))
          val durable = leaves.map(_.rdd.getCheckpointFile.exists(f => fs.exists(new Path(f))))
          assert(durable.count(identity) == durableOfThree, s"$cell: durable $durable")
          frames.indices.foreach { i =>
            val (l, truncates) = (leaves(i), mode == "local" || durable(i))
            assert(l.rdd.getStorageLevel == k.level, cell)
            assert(l.rdd.isCheckpointed == truncates, s"$cell: lineage")
            assert(truncatedBeforeAction(i) == (k.eager && truncates), s"$cell: eagerness")
            // statistics, attributes and partitioning: inherited from the
            // source, or reset (the default size, fresh attributes, unknown)
            val inherits = k.keepsStats && truncates
            val leaf = (l.stats.sizeInBytes, l.output.map(_.exprId), l.outputPartitioning)
            if (inherits)
              assert(leaf == ((ref.stats.sizeInBytes, ref.output.map(_.exprId), ref.outputPartitioning)),
                s"$cell: inherited leaf")
            else {
              assert(l.stats.sizeInBytes == BigInt(defaultSize), s"$cell: statistics")
              assert(l.output.map(_.exprId).intersect(ref.output.map(_.exprId)).isEmpty, s"$cell: attributes")
              assert(l.outputPartitioning.isInstanceOf[UnknownPartitioning], s"$cell: partitioning")
            }
            if (!truncates) { // plan-only: recomputable once its blocks are gone
              l.rdd.unpersist(blocking = true)
              assert(rows(frames(i)) == want, s"$cell: recompute")
            }
          }
        }
      }
    }
  }

  test("unknown mode fails fast") {
    import Lineage.CutOps
    val df = spark.range(10).toDF("id")
    withConf("graft.lineage.mode" -> "bogus") {
      intercept[IllegalArgumentException] { df.cut }
    }
  }
}
