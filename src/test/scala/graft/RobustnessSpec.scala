package graft

import org.apache.spark.sql.functions._

import graft.analysis._
import graft.graph.{Fixpoint, Graph, GraphStore}
import graft.permissions.Permissions
import graft.permissions.Permissions.{PolicyStatement, RelationshipMapping}

/** Round-3 hardening: convergence guarantees, deterministic conflict
  * resolution, and graceful handling of legitimate-but-empty or malformed
  * configuration states. */
class RobustnessSpec extends SparkSuite {
  import spark.implicits._

  test("connectedComponents closes a chain far longer than the round budget") {
    // a 120-link path has diameter 120: one-hop min propagation would need
    // 120 rounds; pointer jumping must close it within the default 20
    val pairs = (1L until 121L).map(i => (i, i + 1)).toDF("a", "b")
    val comps = Fixpoint.connectedComponents(pairs)
      .select("node", "component").as[(Long, Long)].collect().toMap
    assert(comps.size == 121 && comps.values.forall(_ == 1L))
  }

  test("connectedComponents fails loudly instead of returning split labels") {
    val pairs = (1L until 121L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Fixpoint.connectedComponents(pairs, maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("pagerank matches hand-computed integer ranks on a 3-node chain") {
    // a→b→c, 2 damped rounds, ranks in millionths:
    //   it1: b,c inherit full mass (150000 + 850000); a drops to base 150000
    //   it2: b = 150000 + 85%·150000 = 277500; c still fed by b's old 1e6
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = graft.graph.Centrality.pagerank(edges, iterations = 2)
      .select("node", "rank_x1e6").as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 150000L, 2L -> 277500L, 3L -> 1000000L))
  }

  test("transitiveClosure converging exactly at the round budget is not a failure") {
    // chain 1→2→3→4→5: diameter 4, closed by doubling in exactly 2 rounds —
    // the 2nd (final permitted) round still grows, then growth stops. The
    // confirmation round must recognize the fixpoint instead of throwing.
    val edges = (1L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val paths = Fixpoint.transitiveClosure(edges, maxRounds = 2)
    assert(paths.count() == 10) // 4+3+2+1 pairs
  }

  test("AddRelationship multi-property conflicts reduce to one coherent row") {
    val g = Graph()
      .withNodes("N", GraphStore.initialLoad(Seq(1L, 2L).toDF("id"), Seq("id"), 10L))
    // two conflicting matched rows for the same (src,dst): (p=1,q=9) and
    // (p=2,q=0). Per-column maxes would stamp (2,9) — a combination no row
    // produced; the struct-max reduce must keep the winning ROW (2,0).
    val job = AnalysisJob("tear",
      pattern = _ => Seq((1L, 2L, 1L, 9L), (1L, 2L, 2L, 0L))
        .toDF("s", "d", "p", "q").repartition(4),
      effects = Seq(AddRelationship("N", "REL", "N", "s", "d", Seq("p", "q"))))
    val out = AnalysisRunner.run(g, job, 11L).edgeTable("N", "REL", "N")
      .select("p", "q").as[(Long, Long)].collect().toSeq
    assert(out == Seq((2L, 0L)))
  }

  test("conflicting SetRelationshipProperty updates reduce deterministically") {
    val nodes = Seq(1L, 2L).toDF("id")
    val edges = Seq((1L, 2L)).toDF("src_id", "dst_id")
    val g = Graph()
      .withNodes("N", GraphStore.initialLoad(nodes, Seq("id"), 10L))
      .withEdges(("N", "REL", "N"), GraphStore.initialLoad(edges, Seq("src_id", "dst_id"), 10L))
    // the pattern emits TWO different values for the same edge; the stamped
    // value must be the max, independent of partition order
    val job = AnalysisJob("conflict",
      pattern = _ => Seq((1L, 2L, "aaa"), (1L, 2L, "zzz")).toDF("src_id", "dst_id", "v")
        .repartition(4),
      effects = Seq(SetRelationshipProperty("N", "REL", "N", "temp", "v")))
    (1 to 3).foreach { _ =>
      val out = AnalysisRunner.run(g, job, 11L).edgeTable("N", "REL", "N")
        .select("temp").as[String].collect().toSeq
      assert(out == Seq("zzz"))
    }
  }

  test("relationshipEdges with no applicable Allow emits zero edges, not an error") {
    val principals = Seq((1L, "alice")).toDF("id", "name")
    val resources = Seq((10L, "arn:aws:s3:::bucket")).toDF("id", "arn")
    val statements = Seq(PolicyStatement("s1", "deny", "*", "*", actionPattern = "s3:*"))
    val mappings = Seq(RelationshipMapping("S3Bucket", Seq("s3:GetObject"), "CAN_READ"))
    val out = Permissions.relationshipEdges(principals, resources, statements, mappings)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("principal_id", "resource_id",
      "relationship_name", "target_label", "has_condition", "condition_keys"))
  }

  test("parseJob reports malformed statements descriptively") {
    val e = intercept[IllegalArgumentException] {
      JobRegistry.parseJob("""{"name":"bad","statements":[{"materialize":"v"}]}""")
    }
    assert(e.getMessage.contains("bad") && e.getMessage.contains("query"))
    // JSON-null materialize means "no view", not a view literally named null
    val ok = JobRegistry.parseJob(
      """{"name":"ok","statements":[{"query":"SELECT 1","materialize":null}]}""")
    assert(ok.statements.head.materialize.isEmpty)
  }

  test("unscoped edge cleanup deletes dangling stale edges") {
    val nodes = GraphStore.initialLoad(Seq(1L, 2L).toDF("id"), Seq("id"), 11L)
    // (1,2) fresh; (1,9) stale with a dangling dst that is in no node table
    val edges = Seq((1L, 2L, 11L), (1L, 9L, 10L))
      .toDF("src_id", "dst_id", "lastupdated")
      .select(col("src_id"), col("dst_id"), lit(10L).as("firstseen"), col("lastupdated"))
    val cleaned = GraphStore.cleanupEdgesByEndpoint(edges, 11L, nodes, "dst_id")
      .select("src_id", "dst_id").as[(Long, Long)].collect().toSet
    assert(cleaned == Set((1L, 2L)))
  }

  test("scoped edge cleanup spares only edges with a live out-of-scope endpoint") {
    val nodes = GraphStore.initialLoad(
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "tenant"), Seq("id"), 11L)
    // stale → 2 (in scope a: delete), stale → 3 (tenant b: keep),
    // stale → 9 (dangling: delete), fresh → 2 (keep)
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 10L), (1L, 9L, 10L), (2L, 2L, 11L))
      .toDF("src_id", "dst_id", "lastupdated")
      .select(col("src_id"), col("dst_id"), lit(10L).as("firstseen"), col("lastupdated"))
    val cleaned = GraphStore.cleanupEdgesByEndpoint(edges, 11L, nodes, "dst_id",
      scope = col("tenant") === "a")
      .select("src_id", "dst_id").as[(Long, Long)].collect().toSet
    assert(cleaned == Set((1L, 3L), (2L, 2L)))
  }
}
