package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The `graft.lineage.mode` strategy switch must be output-invisible:
  * a fixpoint produces byte-identical results under `local` (default,
  * localCheckpoint), `reliable` (durable checkpoint-dir files), and
  * `reliable` with an interval (plan-only cuts between durable writes).
  * Reliable mode must actually WRITE to the checkpoint dir — that is
  * the executor-loss-recovery evidence. */
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
    val cut = Bridge.planCutNoStats(df)
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

  test("pinHot stores deserialized unless the global knob explicitly forces a level") {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.storage.StorageLevel
    // default: hot sites deserialized, plain pins serialized
    assert(Bridge.hotPinStorageLevel(spark) == StorageLevel.MEMORY_AND_DISK)
    assert(Bridge.pinStorageLevel(spark) == StorageLevel.MEMORY_AND_DISK_SER)
    // explicit global wins over the per-site hint, both directions
    withConf("graft.lineage.pinStorage" -> "ser") {
      assert(Bridge.hotPinStorageLevel(spark) == StorageLevel.MEMORY_AND_DISK_SER)
    }
    withConf("graft.lineage.pinStorage" -> "deser") {
      assert(Bridge.hotPinStorageLevel(spark) == StorageLevel.MEMORY_AND_DISK)
      assert(Bridge.pinStorageLevel(spark) == StorageLevel.MEMORY_AND_DISK)
      assert(Bridge.pinStorageSetting(spark).contains("deser")) // Bench's stamp
    }
    assert(Bridge.pinStorageSetting(spark).isEmpty)
    withConf("graft.lineage.pinStorage" -> "bogus") {
      intercept[IllegalArgumentException] { Bridge.pinStorageLevel(spark) }
    }
    // output-invisible: a hot pin is still the same frame
    import graft.Lineage.CutOps
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    assert(df.pinHot.collect().toSet == df.collect().toSet)
    // reliable mode routes pinHot through the durable pin path
    withConf("graft.lineage.mode" -> "reliable") {
      assert(df.pinHot.collect().toSet == df.collect().toSet)
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
