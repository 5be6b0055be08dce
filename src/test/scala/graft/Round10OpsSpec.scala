package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.graph.Fixpoint
import graft.operators.Changelog

/** Round-10 operators: CDC changelog compaction, semantic dedup,
  * strongly connected components. */
class Round10OpsSpec extends SparkSuite {
  import spark.implicits._

  // ---- Changelog.apply ----

  private def snapshot(base: Seq[(Long, Long)], changes: Seq[(Long, Long, String, Long)]) =
    Changelog.apply(
      base.toDF("k", "v1"),
      changes.toDF("k", "ver", "op", "v1"),
      Seq("k"), "ver", "op", Seq("v1"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("changelog: untouched, updated, inserted, deleted keys") {
    val out = snapshot(
      base = Seq((1L, 10L), (2L, 20L), (3L, 30L)),
      changes = Seq(
        (2L, 5L, "U", 21L),            // update
        (3L, 6L, "D", 0L),             // delete
        (4L, 7L, "U", 40L)))           // insert (absent from base)
    assert(out == Set((1L, 0L, 10L), (2L, 5L, 21L), (4L, 7L, 40L)))
  }

  test("changelog: delete then later upsert resurrects; trailing delete wins") {
    val out = snapshot(
      base = Seq((1L, 10L), (2L, 20L)),
      changes = Seq(
        (1L, 3L, "D", 0L), (1L, 8L, "U", 11L),   // resurrection
        (2L, 4L, "U", 22L), (2L, 9L, "D", 0L)))  // trailing tombstone
    assert(out == Set((1L, 8L, 11L)))
  }

  // ---- Fixpoint.stronglyConnectedComponents ----

  private def sccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Fixpoint.stronglyConnectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("scc: two rings joined by a one-way edge stay separate components") {
    val out = sccOf(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 10L -> 11L, 11L -> 10L, 3L -> 10L))
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 10L -> 11L, 11L -> 11L))
  }

  test("scc: a reverse-ordered chain is all singletons (trim path)") {
    val out = sccOf(Seq(5L -> 4L, 4L -> 3L, 3L -> 2L, 2L -> 1L))
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("scc: two rings fused by a cycle collapse into one component") {
    val out = sccOf(Seq(1L -> 2L, 2L -> 1L, 5L -> 6L, 6L -> 5L, 2L -> 5L, 6L -> 1L))
    assert(out == Map(1L -> 6L, 2L -> 6L, 5L -> 6L, 6L -> 6L))
  }

  test("scc: self-loop is a singleton component; DAG diamond all singletons") {
    val out = sccOf(Seq(7L -> 7L, 1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L))
    assert(out == Map(7L -> 7L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  // ---- Dedup.semanticDedup ----

  test("semanticDedup: merges within a cluster, singletons keep themselves") {
    // dims=2, nCentroids=2: v0/v1 seed the two centroids, v2/v3 are
    // near-identical satellites, v4 sits in the negative quadrant (lands
    // in a cluster but scores negative cosine against every member)
    val q = Seq(
      (0L, Array(1000L, 0L)), (1L, Array(0L, 1000L)),
      (2L, Array(998L, 5L)), (3L, Array(5L, 998L)),
      (4L, Array(-1000L, -1000L))
    ).toDF("vec_id", "q")
      .withColumn("norm2", expr("aggregate(q, 0L, (acc, x) -> acc + x * x)"))
    val out = Dedup.semanticDedup(q, nCentroids = 2, minCosX1e6 = 999000L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(out == Map(0L -> 0L, 2L -> 0L, 1L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("semanticDedup: no pairs above threshold leaves every vector canonical") {
    val q = Seq(
      (0L, Array(1000L, 0L)), (1L, Array(0L, 1000L)), (2L, Array(700L, 700L))
    ).toDF("vec_id", "q")
      .withColumn("norm2", expr("aggregate(q, 0L, (acc, x) -> acc + x * x)"))
    val out = Dedup.semanticDedup(q, nCentroids = 2, minCosX1e6 = 999999L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("changelog: delete for an absent key is a no-op; empty base compacts the log") {
    val out = snapshot(
      base = Seq.empty,
      changes = Seq(
        (9L, 1L, "D", 0L),                        // tombstone, never present
        (5L, 1L, "U", 50L), (5L, 2L, "U", 51L)))  // last writer wins
    assert(out == Set((5L, 2L, 51L)))
  }
}
