package graft

import org.apache.spark.sql.functions._

import graft.graph.{Graph, GraphLoader, GraphStore}
import graft.schema._

/** Merge-semantics golden tests — the Spark analog of the reference's
  * querybuilder golden-string tests
  * (reference: tests/unit/cartography/graph/test_querybuilder_simple.py:40-60
  * and siblings): instead of asserting generated Cypher text, assert the
  * observable merge behavior the Cypher encodes — firstseen-on-create,
  * lastupdated stamping, null overwrite, scoped cleanup, detach cascade.
  */
class GraphStoreSpec extends SparkSuite {
  import spark.implicits._

  private def nodes(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
    rows.toDF("id", "name")

  test("upsert creates with firstseen = tag and stamps lastupdated") {
    val b1 = nodes(1L -> "a", 2L -> "b")
    val t1 = GraphStore.upsertNodes(GraphStore.emptyLike(b1), b1, 100L)
    val got = t1.select("id", "firstseen", "lastupdated").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == Set((1L, 100L, 100L), (2L, 100L, 100L)))
  }

  test("upsert preserves firstseen on update, bumps lastupdated, overwrites with null") {
    val b1 = nodes(1L -> "a", 2L -> "b")
    val t1 = GraphStore.upsertNodes(GraphStore.emptyLike(b1), b1, 100L)
    val b2 = Seq((1L, Option.empty[String]), (3L, Some("c"))).toDF("id", "name")
    val t2 = GraphStore.upsertNodes(t1, b2, 200L)
    val got = t2.select("id", "firstseen", "lastupdated", "name")
      .as[(Long, Long, Long, Option[String])].collect().toSet
    assert(got == Set(
      (1L, 100L, 200L, None),        // touched: null OVERWRITES (reference SET semantics)
      (2L, 100L, 100L, Some("b")),   // untouched: unchanged
      (3L, 200L, 200L, Some("c")),   // created this epoch
    ))
  }

  test("schema evolution: new batch prop is null on untouched rows; dropped prop survives") {
    val b1 = nodes(1L -> "a", 2L -> "b")
    val t1 = GraphStore.upsertNodes(GraphStore.emptyLike(b1), b1, 100L)
    val b2 = Seq((1L, 42)).toDF("id", "score") // no "name", new "score"
    val t2 = GraphStore.upsertNodes(t1, b2, 200L)
    val got = t2.select("id", "name", "score")
      .as[(Long, Option[String], Option[Int])].collect().toSet
    assert(got == Set((1L, Some("a"), Some(42)), (2L, Some("b"), None)))
  }

  test("scoped cleanup deletes stale rows only inside the scope") {
    val b1 = Seq((1L, "t1"), (2L, "t1"), (3L, "t2")).toDF("id", "tenant")
    val t1 = GraphStore.upsertNodes(GraphStore.emptyLike(b1), b1, 100L)
    val b2 = Seq((1L, "t1")).toDF("id", "tenant") // sync of tenant t1 touched only id=1
    val t2 = GraphStore.upsertNodes(t1, b2, 200L)
    val cleaned = GraphStore.cleanup(t2, 200L, scope = col("tenant") === "t1")
    assert(cleaned.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("rows with null scope column are out of scope: kept by cleanup") {
    val b1 = Seq((1L, Some("t1")), (2L, Some("t1")), (3L, Option.empty[String]))
      .toDF("id", "tenant")
    val t1 = GraphStore.upsertNodes(GraphStore.emptyLike(b1), b1, 100L)
    val b2 = Seq((1L, Some("t1"))).toDF("id", "tenant")
    val t2 = GraphStore.upsertNodes(t1, b2, 200L)
    // id=3 is stale AND has null tenant → the t1-scoped cleanup must not touch it
    val cleaned = GraphStore.cleanup(t2, 200L, scope = col("tenant") === "t1")
    assert(cleaned.select("id").as[Long].collect().toSet == Set(1L, 3L))
    val cleanedAnti = GraphStore.cleanupAntiJoin(t2, Seq(Tuple1(1L)).toDF("id"),
      scope = col("tenant") === "t1")
    assert(cleanedAnti.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("anti-join cleanup matches tag-based cleanup") {
    val existing = Seq((1L, "t1"), (2L, "t1"), (3L, "t2")).toDF("id", "tenant")
    val t1 = GraphStore.upsertNodes(GraphStore.emptyLike(existing), existing, 100L)
    val fresh = Seq(Tuple1(1L)).toDF("id")
    val cleaned = GraphStore.cleanupAntiJoin(t1, fresh, scope = col("tenant") === "t1")
    assert(cleaned.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("detach delete cascades node deletion into edge tables") {
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 20L)).toDF("src_id", "dst_id")
    val deleted = Seq(Tuple1(1L)).toDF("id")
    val got = GraphStore.detachDelete(edges, deleted, side = "src_id")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 10L), (2L, 20L)))
    val gotDst = GraphStore.detachDelete(edges, Seq(Tuple1(10L)).toDF("id"), side = "dst_id")
      .as[(Long, Long)].collect().toSet
    assert(gotDst == Set((2L, 20L)))
  }

  test("schema-driven load: tenant attach drops edge for missing tenant, keeps node") {
    val tenants = Seq(Tuple1("acct1")).toDF("id")
    val g0 = Graph().withNodes("Tenant",
      GraphStore.upsertNodes(GraphStore.emptyLike(tenants), tenants, 100L))
    val batch = Seq((1L, "acct1"), (2L, "acct_missing")).toDF("nid", "account")
    val schema = NodeSchema("Asset", id = Field("nid"),
      subResource = Some(SubResourceRel("Tenant", "id", Field("account"))))
    val g1 = GraphLoader.load(g0, schema, batch, 200L)
    assert(g1.nodeTable("Asset").select("id").as[Long].collect().toSet == Set(1L, 2L))
    val edges = g1.edgeTable("Tenant", "RESOURCE", "Asset")
      .select("src_id", "dst_id").as[(String, Long)].collect().toSet
    assert(edges == Set(("acct1", 1L)))
  }

  test("conditional labels land in sorted labels array") {
    val batch = Seq((1L, 10.0), (2L, 9000.0)).toDF("nid", "bal")
    val schema = NodeSchema("Cust", id = Field("nid"),
      extraLabels = Seq(ExtraLabel.when("HighValue", col("bal") > 5000.0)))
    val g = GraphLoader.load(Graph(), schema, batch, 100L)
    val got = g.nodeTable("Cust").select($"id", array_join($"labels", ",").as("l"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "Cust"), (2L, "Cust,HighValue")))
  }
}
