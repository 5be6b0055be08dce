package graft

import java.nio.file.Files

import graft.graph.{PersistentGraph, Skew}

class PersistentGraphSpec extends SparkSuite {
  import spark.implicits._

  test("tenant sync merges, cleans stale rows, and rewrites only the touched partition") {
    val dir = Files.createTempDirectory("store").toString
    val store = new PersistentGraph(spark, dir)

    // epoch 1: two tenants
    store.syncTenant("Asset", "tenant", "t1",
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), 100L)
    store.syncTenant("Asset", "tenant", "t2",
      Seq((3L, "c")).toDF("id", "name"), 100L)
    assert(store.readNodes("Asset").count() == 3)

    val t2FileBefore = new java.io.File(s"$dir/nodes_Asset/tenant=t2")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.lastModified()).max

    // epoch 2: tenant t1 re-syncs without id=2 → stale-cleaned; t2 untouched
    store.syncTenant("Asset", "tenant", "t1",
      Seq((1L, "a2")).toDF("id", "name"), 200L)

    val rows = store.readNodes("Asset")
      .select($"id", $"name", $"firstseen", $"lastupdated", $"tenant")
      .as[(Long, String, Long, Long, String)].collect().toSet
    assert(rows == Set(
      (1L, "a2", 100L, 200L, "t1"), // merged: firstseen kept, prop updated
      (3L, "c", 100L, 100L, "t2"))) // other tenant untouched
    val t2FileAfter = new java.io.File(s"$dir/nodes_Asset/tenant=t2")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.lastModified()).max
    assert(t2FileAfter == t2FileBefore) // dynamic overwrite left t2's files alone
  }

  test("atomic tenant sync swaps the partition and leaves no staging debris") {
    val dir = Files.createTempDirectory("store_atomic").toString
    val store = new PersistentGraph(spark, dir)
    store.syncTenant("Asset", "tenant", "t1",
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), 100L)
    store.syncTenant("Asset", "tenant", "t2",
      Seq((3L, "c")).toDF("id", "name"), 100L)

    // epoch 2 through the swap path: id=2 stale-cleaned, id=1 updated
    store.syncTenantAtomic("Asset", "tenant", "t1",
      Seq((1L, "a2")).toDF("id", "name"), 200L)

    val rows = store.readNodes("Asset")
      .select($"id", $"name", $"firstseen", $"lastupdated", $"tenant")
      .as[(Long, String, Long, Long, String)].collect().toSet
    assert(rows == Set(
      (1L, "a2", 100L, 200L, "t1"),
      (3L, "c", 100L, 100L, "t2")))
    // no staging / retired dirs or success markers left behind
    val leftoverDirs = new java.io.File(s"$dir/nodes_Asset").listFiles()
      .map(_.getName).filter(n => n.startsWith(".staging") || n.startsWith(".retired"))
    assert(leftoverDirs.isEmpty)
    assert(!new java.io.File(s"$dir/nodes_Asset/tenant=t1/_SUCCESS").exists())
  }

  test("atomic tenant sync repairs a crash that left only a retired copy") {
    val dir = Files.createTempDirectory("store_recover").toString
    val store = new PersistentGraph(spark, dir)
    store.syncTenant("Asset", "tenant", "t1",
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), 100L)
    // simulate a crash between retire and activate at tag 150: the live dir
    // is gone, the old rows survive only as .retired (plus a half-baked
    // staging copy that the repair must NOT prefer over the retired rows)
    val table = new java.io.File(s"$dir/nodes_Asset")
    assert(new java.io.File(table, "tenant=t1")
      .renameTo(new java.io.File(table, ".retired-150-t1")))
    new java.io.File(table, ".staging-150-t1").mkdir()
    // the re-run with the same batch must see the old rows again: id=1
    // keeps firstseen=100, id=2 is stale-cleaned (not silently lost)
    store.syncTenantAtomic("Asset", "tenant", "t1",
      Seq((1L, "a2")).toDF("id", "name"), 200L)
    val rows = store.readNodes("Asset")
      .select($"id", $"name", $"firstseen", $"lastupdated", $"tenant")
      .as[(Long, String, Long, Long, String)].collect().toSet
    assert(rows == Set((1L, "a2", 100L, 200L, "t1")))
    // recovery + sweep leave no dot-dir debris from the crashed tag
    val leftover = table.listFiles().map(_.getName)
      .filter(n => n.startsWith(".staging") || n.startsWith(".retired"))
    assert(leftover.isEmpty)
  }

  test("salted join returns the same pairs as a plain join") {
    val left = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "lv")
    val right = Seq((1L, "r1"), (2L, "r2")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).select($"lv", $"rv")
      .as[(String, String)].collect().toSet
    val salted = Skew.saltedJoin(left, right, "k", salt = 4).select($"lv", $"rv")
      .as[(String, String)].collect().toSet
    assert(salted == plain)
  }
}
