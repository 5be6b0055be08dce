package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.graph.{Graph, GraphStore, Layout, Migrations}
import graft.rules.{Fact, Framework, Rule, RulesRunner}
import graft.sources.Resilience
import graft.stats.SyncStats

object FlakyFetch {
  val attempts = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  def clear(): Unit = attempts.clear()
}

class StatsLayoutSpec extends SparkSuite {
  import spark.implicits._

  test("merge delta splits created vs updated") {
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val t1 = GraphStore.upsertNodes(GraphStore.emptyLike(b1), b1, 100L)
    val b2 = Seq((2L, "b2"), (3L, "c")).toDF("id", "name")
    val stats = new SyncStats(spark)
    val (created, updated) = stats.mergeDelta(t1, b2, Seq("id"))
    assert(created == 1L && updated == 1L)
    stats.unregister()
  }

  test("named accumulators count executor-side events") {
    val stats = new SyncStats(spark)
    val acc = stats.counter("rows_seen")
    spark.range(100).repartition(4).foreachPartition {
      it: Iterator[java.lang.Long] => it.foreach(_ => acc.add(1))
    }
    assert(stats.counterValue("rows_seen") == 100L)
    stats.unregister()
  }

  test("label migration renames node tables, labels arrays, and edge keys") {
    val nodes = Seq((1L, Seq("OldLabel", "Extra"))).toDF("id", "labels")
    val edges = Seq((1L, 2L)).toDF("src_id", "dst_id")
    val g = Graph().withNodes("OldLabel", nodes)
      .withEdges(("OldLabel", "REL", "Other"), edges)
    val g2 = Migrations.renameNodeLabel(g, "OldLabel", "NewLabel")
    assert(!g2.nodes.contains("OldLabel"))
    assert(g2.nodeTable("NewLabel").select(array_join($"labels", ","))
      .as[String].collect().head == "Extra,NewLabel")
    assert(g2.edges.keySet == Set(("NewLabel", "REL", "Other")))
    val g3 = Migrations.renameEdgeLabel(g2, ("NewLabel", "REL", "Other"), "LINKED")
    assert(g3.edges.keySet == Set(("NewLabel", "LINKED", "Other")))
  }

  test("fact validation flags missing asset_id and reserved columns") {
    val fw = Framework("f", Seq(Rule("r", "r", Seq(
      Fact("good", "g", "A", s => s.range(1).select(col("id").as("asset_id"))),
      Fact("no-asset", "n", "A", s => s.range(1).select(col("id").as("thing"))),
      Fact("reserved", "x", "A", s => s.range(1).select(col("id").as("asset_id"),
        lit("oops").as("rule_id")))))))
    val errs = RulesRunner.validate(spark, fw)
    assert(errs.exists(_.startsWith("no-asset: query must project an asset_id")))
    assert(errs.exists(_.contains("reserved column 'rule_id'")))
    assert(!errs.exists(_.startsWith("good")))
  }

  test("fetchDistributed retries transient per-item failures inside partitions") {
    FlakyFetch.clear()
    val out = Resilience.fetchDistributed(spark.range(8).as[Long],
      baseDelayMs = 1) { i =>
      val n = FlakyFetch.attempts.merge(i, 1, _ + _)
      if (n < 2) throw new RuntimeException("503 unavailable")
      Seq(i * 10)
    }
    assert(out.collect().sorted.toSeq == (0L until 8L).map(_ * 10))
    assert(FlakyFetch.attempts.values().stream().allMatch(_ == 2))
  }

  test("tenant-partitioned layout enables partition pruning on cleanup scans") {
    val df = Seq((1L, "t1", 100L), (2L, "t1", 200L), (3L, "t2", 100L))
      .toDF("id", "tenant", "lastupdated")
    val path = Files.createTempDirectory("layout").toString + "/nodes"
    Layout.writeTable(df, path, Layout.TableLayout(partitionCols = Seq("tenant")))
    assert(new java.io.File(s"$path/tenant=t1").exists())
    val scan = Layout.readTable(spark, path).filter($"tenant" === "t1")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tenant"))
    assert(scan.count() == 2)
  }

  test("same-bucketed catalog tables merge with zero shuffle exchanges") {
    spark.sql("SET spark.sql.adaptive.enabled=false")
    spark.sql("SET spark.sql.autoBroadcastJoinThreshold=-1")
    try {
      val existing = Seq((1L, 100L, 100L, "a"), (2L, 100L, 100L, "b"))
        .toDF("id", "firstseen", "lastupdated", "name")
      val batch = Seq((2L, "b2"), (3L, "c")).toDF("id", "name")
      Layout.writeBucketedTable(existing, "nodes_bucketed",
        Layout.TableLayout(buckets = 4))
      Layout.writeBucketedTable(batch, "batch_bucketed",
        Layout.TableLayout(buckets = 4))
      val merged = GraphStore.merge(spark.table("nodes_bucketed"),
        spark.table("batch_bucketed"), Seq("id"), 200L, dedupBatch = false)
      val plan = merged.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-located merge must not shuffle:\n$plan")
      val out = merged.select("id", "lastupdated", "name")
        .as[(Long, Long, String)].collect().toSet
      assert(out == Set((1L, 100L, "a"), (2L, 200L, "b2"), (3L, 200L, "c")))
    } finally {
      spark.sql("SET spark.sql.adaptive.enabled=true")
      spark.sql("SET spark.sql.autoBroadcastJoinThreshold=10485760")
      spark.sql("DROP TABLE IF EXISTS nodes_bucketed")
      spark.sql("DROP TABLE IF EXISTS batch_bucketed")
    }
  }
}
