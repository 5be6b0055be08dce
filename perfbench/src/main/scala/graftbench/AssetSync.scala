package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Lineage._
import graft.SyncCli
import graft.analysis.{AnalysisJob, AnalysisRunner, SetProperty}
import graft.drift.Drift
import graft.graph.{Graph, GraphStore}
import graft.intel.{IntelModule, SyncAssembly}
import graft.ontology.Materialize
import graft.permissions.Permissions
import graft.rules.{Fact, Framework, Rule, RulesRunner}
import graft.schema.{Field, NodeSchema, RelSchema, SubResourceRel}
import graft.sink.GraphSink

/** IAM principals and their access keys as an intel module: the third
  * provider feed of the inventory, loaded and tenant-scoped exactly like
  * the library's own compute and storage modules. */
object IamModule extends IntelModule {
  val name = "iam"
  override val labels: Seq[String] = Seq("Principal", "AccessKey")

  private val RawSchema = StructType.fromDDL(
    "Account STRING, PrincipalId STRING, Name STRING, Kind STRING, " +
      "Keys ARRAY<STRUCT<KeyId: STRING, Status: STRING, AgeDays: BIGINT>>")

  def extract(spark: SparkSession, source: String): DataFrame =
    spark.read.schema(RawSchema).json(source)

  def transform(raw: DataFrame): Seq[(NodeSchema, DataFrame)] = {
    val principals = raw.select(col("Account").as("account"),
      col("PrincipalId").as("principal_id"), col("Name").as("name"),
      col("Kind").as("kind"), col("Keys").as("keys"))
    val keys = principals
      .select(col("account"), col("principal_id"), explode(col("keys")).as("k"))
      .select(col("account"), col("principal_id"), col("k.KeyId").as("key_id"),
        col("k.Status").as("status"), col("k.AgeDays").as("age_days"))
    val tenant = Some(SubResourceRel("Account", "id", Field("account")))
    Seq(
      NodeSchema(label = "Principal", id = Field("principal_id"),
        properties = Map("name" -> Field("name"), "kind" -> Field("kind")),
        subResource = tenant) -> principals.drop("keys"),
      NodeSchema(label = "AccessKey", id = Field("key_id"),
        properties = Map("status" -> Field("status"), "age_days" -> Field("age_days")),
        subResource = tenant,
        otherRels = Seq(RelSchema("OWNED_BY", "Principal", targetKey = "id",
          sourceRef = Field("principal_id")))) -> keys)
  }
}

/** `asset_sync`: one op is one sync epoch of the evolving inventory —
  * intel stages with scoped cleanup, analysis, ontology, permission
  * edges, CSV export, rules and drift — followed by materializing the
  * graph at the epoch boundary. */
final class AssetSync(spark: SparkSession, tracer: Tracer, in: String, work: String)
    extends Workload {
  private val tag0 = 1700000000L
  private val epochs = Files.list(Paths.get(in)).iterator().asScala
    .count(_.getFileName.toString.startsWith("epoch_"))
  private val exportDir = s"$work/export"
  private val driftDir = s"$work/drift"
  private val checkDir = s"$work/check"
  Files.createDirectories(Paths.get(checkDir))

  private val (statements, mappings) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(s"$in/policy.json")))
    def s(n: com.fasterxml.jackson.databind.JsonNode, k: String) = n.get(k).asText()
    (root.get("statements").elements().asScala.toSeq.map(n =>
      Permissions.PolicyStatement(s(n, "stmtId"), s(n, "effect"),
        s(n, "principalPattern"), s(n, "resourcePattern"),
        actionPattern = s(n, "actionPattern"))),
     root.get("mappings").elements().asScala.toSeq.map(n =>
      Permissions.RelationshipMapping(s(n, "target_label"),
        n.get("permissions").elements().asScala.map(_.asText()).toSeq,
        s(n, "relationship_name"))))
  }

  private val exposure = AnalysisJob("internet_exposed", g => {
    val attached = g.edges.keys.find(k => k._1 == "Nic" && k._2 == "ATTACHED_TO").get
    g.edgeTable(attached._1, attached._2, attached._3)
      .join(g.nodeTable("Nic").filter(col("subnet_id").startsWith("subnet-pub"))
        .select(col(GraphStore.ID).as(GraphStore.SRC)), Seq(GraphStore.SRC))
      .select(col(GraphStore.DST).as(GraphStore.ID), lit(true).as("exposed"))
  }, Seq(SetProperty("Instance", "internet_exposed", "exposed")))

  private val canonical = Seq(
    Materialize.ProviderMapping("Instance", 1, df => df.select(col("arn").as("id"),
      col("id").as("_src_id"), col("instance_type").as("kind"))),
    Materialize.ProviderMapping("Bucket", 2, df => df.select(col("arn").as("id"),
      col("id").as("_src_id"), lit("bucket").as("kind"))))

  private val framework = Framework("perfbench", Seq(Rule("hygiene", "Asset hygiene", Seq(
    Fact.sql("imdsv1_instances", "Instances allowing IMDSv1", "Instance",
      "SELECT id AS asset_id FROM node_Instance WHERE allows_imdsv1"),
    Fact.sql("public_buckets", "Buckets readable by everyone", "Bucket",
      "SELECT id AS asset_id FROM node_Bucket WHERE anonymous_access"),
    Fact.sql("stale_active_keys", "Active access keys older than 90 days", "AccessKey",
      "SELECT id AS asset_id FROM node_AccessKey " +
        "WHERE status = 'Active' AND age_days > 90")))))

  private var graph = Graph()
  private var epoch = 0

  /** Materialize every table of the graph (the epoch boundary, and the
    * traced run's per-layer force). */
  private def pinAll(g: Graph): Graph = Graph(
    g.nodes.map { case (k, df) => k -> df.pinEager },
    g.edges.map { case (k, df) => k -> df.pinEager })

  private def permissionEdges(g: Graph, tag: Long): Graph = {
    val edges = Permissions.relationshipEdges(
      g.nodeTable("Principal").select(col("id"), col("name")),
      g.nodeTable("Bucket").select(col("id"), col("arn")),
      statements, mappings)
    mappings.map(_.relationshipName).distinct.foldLeft(g) { (acc, rel) =>
      val batch = edges.filter(col("relationship_name") === rel).select(
        col("principal_id").as(GraphStore.SRC), col("resource_id").as(GraphStore.DST),
        col("has_condition"), col("condition_keys"))
      val key = ("Principal", rel, "Bucket")
      val merged = acc.edges.get(key) match {
        case Some(ex) => GraphStore.upsertEdges(ex, batch, tag)
        case None => GraphStore.initialLoad(batch, Seq(GraphStore.SRC, GraphStore.DST), tag)
      }
      acc.withEdges(key, GraphStore.cleanup(merged, tag))
    }
  }

  private def instanceState(g: Graph): DataFrame = g.nodeTable("Instance")
    .select(col("id"), col("instance_type"), col("state"), col("allows_imdsv1"), col("team"))

  def step(): Long = {
    epoch += 1
    val tag = tag0 + epoch
    val d = f"$in/epoch_$epoch%04d"
    // sfDir feeds only the dns-zones stage, which is not selected; it still
    // points inside the run so nothing outside it can be read
    val cfg = SyncCli.Config(tag = tag, sfDir = in,
      computeJson = Some(s"$d/compute.json"), storageJson = Some(s"$d/storage.json"))
    val plan = SyncAssembly.buildSync(
      Seq("create-indexes", "accounts", "compute-instances", "storage-buckets", "iam",
        "analysis"),
      SyncCli.registry(cfg) :+ SyncAssembly.stageFor(IamModule, s"$d/iam.json",
        wants = Seq("accounts")))
    var g = graph
    g = tracer.layer("intel", pinAll)(plan.run(g, spark, tag))
    g = tracer.layer("analysis", pinAll)(AnalysisRunner.run(g, exposure, tag))
    g = tracer.layer("ontology", pinAll)(
      Materialize.materialize(g, "CloudAsset", canonical, tag))
    g = tracer.layer("permissions", pinAll)(permissionEdges(g, tag))
    tracer.layer("sink")(GraphSink.bulkImportCsv(g, exportDir))
    val counts = tracer.layer("rules") {
      RulesRunner.registerGraphViews(g)
      RulesRunner.counts(RulesRunner.run(spark, framework)).collect()
    }
    val drift = tracer.layer("drift") {
      Drift.addState(instanceState(g), driftDir, "instances", tag)
      if (epoch == 1) Array.empty[org.apache.spark.sql.Row]
      else Drift.diffLatest(spark, driftDir, "instances")
        .select(col("id"), col("direction")).collect()
    }
    graph = pinAll(g)
    lastCounts = counts.map(r => r.getAs[String]("fact_id") -> r.getAs[Long]("n_findings")).toMap
    lastDrift = drift.map(r => (r.getString(1), r.getString(0))).toSeq
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(s"$d/expect.json"))).get("items").asLong()
  }

  private var lastCounts = Map.empty[String, Long]
  private var lastDrift = Seq.empty[(String, String)]

  /** Untimed: dump what the epoch's outputs say, for the external checks
    * against the generator's bookkeeping. */
  def afterOp(): Unit = {
    val stamps = Seq("Instance", "Nic", "Bucket", "Grantee", "Principal", "AccessKey")
      .map { label =>
        val df = graph.nodeTable(label)
        val tenant =
          if (df.columns.contains("_sub_resource_id")) col("_sub_resource_id").cast("string")
          else lit(null).cast("string")
        label -> df.select(col("id").cast("string"), tenant,
          col(GraphStore.FIRSTSEEN), col(GraphStore.LASTUPDATED)).collect()
          .map(r => Seq(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      }.toMap
    RulesRunner.registerGraphViews(graph)
    val findings = RulesRunner.run(spark, framework).select(col("fact_id"), col("asset_id"))
      .collect().groupBy(_.getString(0)).map { case (f, rs) => f -> rs.map(_.getString(1)).sorted.toSeq }
    val drift = lastDrift.groupBy(_._1).map { case (dir, rs) => dir -> rs.map(_._2).sorted }
    val out = Map("epoch" -> epoch, "tag" -> (tag0 + epoch), "stamps" -> stamps,
      "findings" -> findings, "counts" -> lastCounts,
      "drift" -> (if (epoch == 1) None else Some(drift)))
    Files.writeString(Paths.get(f"$checkDir/epoch_$epoch%04d.json"), Json(out))
  }

  def run(rec: Recorder): Unit =
    while (!rec.done && epoch < epochs) {
      rec.op(step())
      afterOp()
    }

  def outputs: Map[String, Any] = Map("epochs_run" -> epoch)
}
