package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.Centrality

/** Round-12 additions: edge support + bounded k-truss peel. Hand-sized
  * graphs where the support census and the peel cascade are computable
  * by eye; the convergence case the fixed-rounds gate can't show. */
class Round12OpsSpec extends SparkSuite {
  import spark.implicits._

  /** K4 on {1,2,3,4} plus a pendant edge 4–5 and a triangle {6,7,8}
    * bridged to the clique by the single edge 1–6. */
  private def fixture: DataFrame =
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (1L, 6L), (6L, 7L), (7L, 8L), (6L, 8L))
      .toDF("src", "dst")

  test("edgeSupport counts triangles per edge; bridges and pendants get 0") {
    val sup = Centrality.edgeSupport(fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sup.size == 11)
    // every K4 edge sits in exactly 2 of the clique's 4 triangles
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .foreach(e => assert(sup(e) == 2L, s"K4 edge $e"))
    Seq((6L, 7L), (7L, 8L), (6L, 8L)).foreach(e => assert(sup(e) == 1L))
    assert(sup((4L, 5L)) == 0L)
    assert(sup((1L, 6L)) == 0L)
  }

  test("edgeSupport is orientation- and duplicate-insensitive") {
    val messy = fixture.select(col("dst").as("src"), col("src").as("dst"))
      .unionByName(fixture)
    val a = Centrality.edgeSupport(fixture).collect().toSet
    val b = Centrality.edgeSupport(messy).collect().toSet
    assert(a == b)
  }

  test("4-truss keeps exactly the K4; one round suffices here") {
    val kept = Centrality.ktruss(fixture, k = 4, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(kept.keySet ==
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // support recomputed within the PRE-filter graph of the final round
    assert(kept.values.forall(_ == 2L))
  }

  test("3-truss peel cascades: a triangle chain sheds one link per round") {
    // triangles {1,2,3} and {3,4,5} share node 3; edge 5-6-1 closes a
    // support-1 triangle {1,5,6}? no — plain path. After dropping
    // support-0 path edges, both triangles survive a second round intact.
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (5L, 6L), (6L, 7L)).toDF("src", "dst")
    val kept = Centrality.ktruss(g, k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept ==
      Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)))
  }

  test("ktruss converged result is a fixpoint: an extra round changes nothing") {
    val two = Centrality.ktruss(fixture, k = 4, rounds = 2).collect().toSet
    val three = Centrality.ktruss(fixture, k = 4, rounds = 3).collect().toSet
    assert(two == three && two.nonEmpty)
  }

  test("ktruss rejects k < 3") {
    intercept[IllegalArgumentException] {
      Centrality.ktruss(fixture, k = 2, rounds = 1)
    }
  }
}
