package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis._
import graft.graph.{Graph, GraphLoader, GraphStore}
import graft.schema._

/** Round-2 surface: edge-property analysis effects, incremental/scoped
  * jobs, matchlink sub-resource stamping, and the size-picked broadcast
  * side of the FuzzyContains theta join. */
class AnalysisEffectsSpec extends SparkSuite {
  import spark.implicits._

  private def edgeGraph(): Graph = {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src_id", "dst_id")
    Graph()
      .withNodes("N", GraphStore.initialLoad(nodes, Seq("id"), 10L))
      .withEdges(("N", "REL", "N"), GraphStore.initialLoad(edges, Seq("src_id", "dst_id"), 10L))
  }

  test("SetRelationshipProperty overwrites matched edges, keeps the rest") {
    val g = edgeGraph()
    val job = AnalysisJob("stamp",
      pattern = _ => Seq((1L, 2L, "hot")).toDF("src_id", "dst_id", "v"),
      effects = Seq(SetRelationshipProperty("N", "REL", "N", "temp", "v")))
    val out = AnalysisRunner.run(g, job, 11L).edgeTable("N", "REL", "N")
      .select("src_id", "dst_id", "temp").as[(Long, Long, Option[String])]
      .collect().toSet
    assert(out == Set((1L, 2L, Some("hot")), (2L, 3L, None)))
  }

  test("SetRelationshipPropertyIfMissing only fills nulls") {
    val g = edgeGraph()
    val first = AnalysisJob("first",
      pattern = _ => Seq((1L, 2L, "a")).toDF("src_id", "dst_id", "v"),
      effects = Seq(SetRelationshipPropertyIfMissing("N", "REL", "N", "m", "v")))
    val second = AnalysisJob("second",
      pattern = _ => Seq((1L, 2L, "b"), (2L, 3L, "b")).toDF("src_id", "dst_id", "v"),
      effects = Seq(SetRelationshipPropertyIfMissing("N", "REL", "N", "m", "v")))
    val out = Seq(first, second).foldLeft(g)((acc, j) => AnalysisRunner.run(acc, j, 11L))
      .edgeTable("N", "REL", "N")
      .select("src_id", "dst_id", "m").as[(Long, Long, String)].collect().toSet
    assert(out == Set((1L, 2L, "a"), (2L, 3L, "b")))
  }

  test("incremental job matches only rows stamped by the current tag") {
    val t0 = GraphStore.initialLoad(Seq((1L, "x"), (2L, "x")).toDF("id", "p"), Seq("id"), 10L)
    val t1 = GraphStore.upsertNodes(t0, Seq((2L, "y")).toDF("id", "p"), 20L)
    val g = Graph().withNodes("N", t1)
    val job = AnalysisJob("flag",
      pattern = gg => gg.nodeTable("N").select(col("id"), lit("fresh").as("v")),
      effects = Seq(SetProperty("N", "flag", "v")),
      incrementalOn = true)
    val out = AnalysisRunner.run(g, job, 20L).nodeTable("N")
      .select("id", "flag").as[(Long, Option[String])].collect().toSet
    assert(out == Set((1L, None), (2L, Some("fresh"))))
  }

  test("tenant scope narrows the pattern, effects still hit the full table") {
    val t0 = GraphStore.initialLoad(
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "tenant"), Seq("id"), 10L)
    val g = Graph().withNodes("N", t0)
    val job = AnalysisJob("flag",
      pattern = gg => gg.nodeTable("N").select(col("id"), lit(true).as("v")),
      effects = Seq(SetProperty("N", "flag", "v")),
      scopes = Map("N" -> (col("tenant") === "a")))
    val out = AnalysisRunner.run(g, job, 10L).nodeTable("N")
      .select("id", "flag").as[(Long, Option[Boolean])].collect().toSet
    assert(out == Set((1L, Some(true)), (2L, Some(true)), (3L, None)))
  }

  test("matchLinks stamps sub-resource scope columns usable by cleanup") {
    val custs = Seq(1L, 2L).toDF("id")
    val nats = Seq(100L, 200L).toDF("id")
    val pairs = Seq((1L, 100L), (2L, 200L)).toDF("cref", "nref")
    var g = Graph()
      .withNodes("C", GraphStore.initialLoad(custs, Seq("id"), 10L))
      .withNodes("T", GraphStore.initialLoad(nats, Seq("id"), 10L))
    g = GraphLoader.matchLinks(g, pairs, "C", "IN", "T", "cref", "nref", 10L,
      subResource = Some(("T", col("nref"))))
    // second epoch touches only tenant 100's link
    g = GraphLoader.matchLinks(g, pairs.filter(col("nref") === 100L),
      "C", "IN", "T", "cref", "nref", 11L, subResource = Some(("T", col("nref"))))
    val cleaned = GraphStore.cleanup(g.edgeTable("C", "IN", "T"), 11L,
      scope = col(GraphLoader.SubResourceLabelCol) === "T" &&
        col(GraphLoader.SubResourceIdCol) === 100L)
      .select("src_id", "dst_id", "lastupdated").as[(Long, Long, Long)].collect().toSet
    // tenant 100 fresh link kept; tenant 200 stale link out of scope → kept
    assert(cleaned == Set((1L, 100L, 11L), (2L, 200L, 10L)))
  }

  test("FuzzyContains broadcasts the smaller side") {
    def fuzzyPlan(batch: DataFrame, targetRows: Seq[String]): String = {
      val tgt = targetRows.toDF("id")
      val g0 = Graph().withNodes("T", GraphStore.initialLoad(tgt, Seq("id"), 10L))
      val schema = NodeSchema(label = "S", id = Field("sid"),
        otherRels = Seq(RelSchema("HITS", "T", targetKey = "id",
          sourceRef = Field("kw"), mode = FuzzyContains)))
      GraphLoader.load(g0, schema, batch, 10L).edgeTable("S", "HITS", "T")
        .queryExecution.executedPlan.toString
    }
    val smallBatch = Seq((1L, "foo")).toDF("sid", "kw")
    val bigTargets = (1 to 5000).map(i => s"foo-name-$i")
    val plan = fuzzyPlan(smallBatch, bigTargets)
    assert(plan.contains("BroadcastNestedLoopJoin"))
    // tiny keyword batch vs 5000-name node table: batch side must build
    assert(plan.contains("BuildLeft"), s"expected BuildLeft in:\n$plan")
  }
}
