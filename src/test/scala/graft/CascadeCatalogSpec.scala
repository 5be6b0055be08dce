package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.graph.{Graph, GraphStore}
import graft.schema._
import graft.streaming.Streaming

class CascadeCatalogSpec extends SparkSuite {
  import spark.implicits._

  test("cascade cleanup deletes stale children of stale parents, spares fresh ones") {
    // parents p1 (stale), p2 (fresh); children c1 (stale, of p1),
    // c2 (fresh, of p1), c3 (stale, of p2 → survives: parent fresh)
    def table(rows: Seq[(String, Long)]) =
      rows.toDF("id", "lastupdated").withColumn("firstseen", col("lastupdated"))
    val parents = table(Seq("p1" -> 100L, "p2" -> 200L))
    val children = table(Seq("c1" -> 100L, "c2" -> 200L, "c3" -> 100L))
    val edges = Seq(("p1", "c1", 100L), ("p1", "c2", 100L), ("p2", "c3", 200L))
      .toDF("src_id", "dst_id", "lastupdated")
    val g = Graph()
      .withNodes("Parent", parents).withNodes("Child", children)
      .withEdges(("Parent", "HAS", "Child"), edges)

    val cleaned = GraphStore.cleanupWithCascade(
      g, "Parent", Seq(("Parent", "HAS", "Child")), tag = 200L)

    assert(cleaned.nodeTable("Parent").select($"id").as[String].collect().toSet == Set("p2"))
    assert(cleaned.nodeTable("Child").select($"id").as[String].collect().toSet ==
      Set("c2", "c3"))
    assert(cleaned.edgeTable("Parent", "HAS", "Child")
      .select($"src_id", $"dst_id").as[(String, String)].collect().toSet ==
      Set(("p2", "c3")))
  }

  test("edge-scoped matchlink cleanup deletes stale edges only inside the scope") {
    // reference cleanupbuilder.py:603-667: r.lastupdated <> TAG AND
    // r._sub_resource_id = $id
    val edges = Seq(
      ("a", "b", 100L, "acct-1"), ("a", "c", 200L, "acct-1"), ("b", "c", 100L, "acct-2"))
      .toDF("src_id", "dst_id", "lastupdated", "_sub_resource_id")
    val cleaned = GraphStore.cleanup(edges, 200L, scope = col("_sub_resource_id") === "acct-1")
    assert(cleaned.select($"src_id", $"dst_id").as[(String, String)].collect().toSet ==
      Set(("a", "c"), ("b", "c")))
  }

  test("catalog introspection describes labels, properties, tenancy, rels") {
    val schema = NodeSchema(
      label = "Instance",
      id = Field("instance_id"),
      properties = Map("state" -> Field("state"), "region" -> Param("eu-1")),
      extraLabels = Seq(ExtraLabel("ComputeInstance"),
        ExtraLabel.when("Risky", col("state") === "bad")),
      subResource = Some(SubResourceRel("Account", "id", Field("acct"))),
      otherRels = Seq(RelSchema("ATTACHED", "Nic", "id", Field("nic"), Inward, OneToMany)))
    val doc = Catalog.describe(schema)
    assert(doc.label == "Instance" && doc.extraLabels == Seq("ComputeInstance"))
    assert(doc.conditionalLabels == Seq("Risky"))
    assert(doc.properties.map(_.name) == Seq("id", "region", "state"))
    assert(doc.properties.find(_.name == "region").get.source == "param:eu-1")
    assert(doc.subResource.contains("Account.id"))
    assert(doc.rels.head.mode == "OneToMany")
    val md = Catalog.markdown(Seq(schema))
    assert(md.contains("## Instance, ComputeInstance (+conditional: Risky)"))
    assert(md.contains("| state | field:state |"))
  }

  test("schema validation rejects reserved columns and empty keys") {
    val bad = NodeSchema("X", Field("k"),
      properties = Map("firstseen" -> Field("f"), "ok" -> Field("o")),
      otherRels = Seq(
        RelSchema("R", "T", targetKey = " ", sourceRef = Field("a")),
        RelSchema("R", "T", targetKey = "id", sourceRef = Field("b"))))
    val errs = NodeSchema.validate(bad)
    assert(errs.exists(_.contains("'firstseen' collides")))
    assert(errs.exists(_.contains("targetKey must be non-empty")))
    assert(errs.exists(_.contains("duplicate rel declaration R->T")))
    assert(NodeSchema.validate(NodeSchema("Ok", Field("k"))).isEmpty)
  }

  test("motif path chains validate step continuity") {
    val e = intercept[IllegalArgumentException] {
      graft.graph.Motif.path(graft.graph.Graph(), Seq(
        ("A", "R1", "B"), ("C", "R2", "D")))
    }
    assert(e.getMessage.contains("must chain"))
  }

  test("streaming dedup drops exact duplicates across batches with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val source = MemoryStream[(Long, Timestamp)]
    val deduped = Streaming.dedupByKey(
      source.toDF().toDF("key", "ts"), "ts", "10 minutes", Seq("key"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_test").start()
    try {
      source.addData(1L -> ts("2024-01-01 10:00:00"), 1L -> ts("2024-01-01 10:00:00"))
      q.processAllAvailable()
      source.addData(1L -> ts("2024-01-01 10:00:00"), 2L -> ts("2024-01-01 10:01:00"))
      q.processAllAvailable()
      val got = spark.table("dedup_test").select($"key").as[Long].collect().toSeq.sorted
      assert(got == Seq(1L, 2L)) // duplicate key-1 rows collapsed across batches
    } finally q.stop()
  }
}
