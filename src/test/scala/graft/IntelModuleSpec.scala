package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.graph.{Graph, GraphStore}
import graft.intel.ComputeInstances

/** End-to-end intel-module test: canned JSON feed → transform → load →
  * assert graph content as sets of tuples → re-sync with a shrunken feed →
  * scoped cleanup removes the stale asset (the reference's integration
  * pattern: tests/integration/.../test_ec2_instances.py + check_nodes /
  * check_rels set assertions, tests/integration/util.py:11-72). Fixture
  * values are original. */
class IntelModuleSpec extends SparkSuite {
  import spark.implicits._

  private def writeFixture(lines: String*): String = {
    val f = Files.createTempFile("instances", ".json")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  private val epoch1 = writeFixture(
    """{"ReservationId":"r-100","OwnerId":"acct-1","Instances":[
      |{"InstanceId":"i-aa","Type":"m1.small","State":"running","LaunchTime":"2026-01-05T10:00:00Z",
      | "MetadataOptions":{"HttpTokens":"optional"},"Tags":[{"Key":"team","Value":"core"}],
      | "Nics":[{"NicId":"eni-1","SubnetId":"sub-1"},{"NicId":"eni-2","SubnetId":"sub-2"}]},
      |{"InstanceId":"i-bb","Type":"m1.large","State":"stopped","LaunchTime":"2026-01-06T11:00:00Z",
      | "MetadataOptions":{"HttpTokens":"required"},"Tags":[],
      | "Nics":[{"NicId":"eni-3","SubnetId":"sub-1"}]}]}""".stripMargin.replaceAll("\n", ""),
    """{"ReservationId":"r-200","OwnerId":"acct-2","Instances":[
      |{"InstanceId":"i-cc","Type":"t2.micro","State":"running","LaunchTime":"2026-01-07T12:00:00Z",
      | "MetadataOptions":{"HttpTokens":"optional"},"Tags":[{"Key":"env","Value":"prod"}],
      | "Nics":[]}]}""".stripMargin.replaceAll("\n", ""))

  private val epoch2 = writeFixture( // i-bb is gone
    """{"ReservationId":"r-100","OwnerId":"acct-1","Instances":[
      |{"InstanceId":"i-aa","Type":"m1.small","State":"running","LaunchTime":"2026-01-05T10:00:00Z",
      | "MetadataOptions":{"HttpTokens":"optional"},"Tags":[{"Key":"team","Value":"core"}],
      | "Nics":[{"NicId":"eni-1","SubnetId":"sub-1"},{"NicId":"eni-2","SubnetId":"sub-2"}]}]}""".stripMargin.replaceAll("\n", ""))

  private def accountNodes = {
    val b = Seq("acct-1", "acct-2").toDF("id")
    GraphStore.upsertNodes(GraphStore.emptyLike(b), b, 100L)
  }

  private val bucketsEpoch1 = writeFixture(
    """{"Owner":"acct-1","Name":"b-logs","CreationDate":"2026-01-01T00:00:00Z",
      | "Encryption":{"Enabled":true,"Algorithm":"AES256"},"Versioning":"Enabled",
      | "Policy":{"Version":"2012-10-17","Id":"p1"},
      | "Grants":[{"Grantee":{"Id":"user-1","Type":"CanonicalUser"},"Permission":"FULL_CONTROL"}]}"""
      .stripMargin.replaceAll("\n", ""),
    """{"Owner":"acct-1","Name":"b-public","CreationDate":"2026-01-02T00:00:00Z",
      | "Encryption":{"Enabled":false},"Versioning":"Suspended","Policy":null,
      | "Grants":[{"Grantee":{"URI":"http://acs.example/groups/global/AllUsers","Type":"Group"},
      |            "Permission":"READ"},
      |           {"Grantee":{"Id":"user-1","Type":"CanonicalUser"},"Permission":"WRITE"}]}"""
      .stripMargin.replaceAll("\n", ""))

  private val bucketsEpoch2 = writeFixture( // b-public deleted
    """{"Owner":"acct-1","Name":"b-logs","CreationDate":"2026-01-01T00:00:00Z",
      | "Encryption":{"Enabled":true,"Algorithm":"AES256"},"Versioning":"Enabled",
      | "Policy":{"Version":"2012-10-17","Id":"p1"},
      | "Grants":[{"Grantee":{"Id":"user-1","Type":"CanonicalUser"},"Permission":"FULL_CONTROL"}]}"""
      .stripMargin.replaceAll("\n", ""))

  test("storage module: grants explode to property edges, public label, policy blob") {
    val g = graft.intel.StorageBuckets.sync(
      Graph().withNodes("Account", accountNodes), spark, bucketsEpoch1, tag = 200L)
    val buckets = g.nodeTable("Bucket")
      .select($"id", $"encrypted", $"versioned", $"anonymous_access", $"labels")
      .as[(String, Boolean, Boolean, Boolean, Seq[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(buckets("b-logs")._2 && buckets("b-logs")._3 && !buckets("b-logs")._4)
    assert(buckets("b-public")._4)
    assert(buckets("b-public")._5.contains("PublicBucket"))
    assert(!buckets("b-logs")._5.contains("PublicBucket"))
    assert(buckets("b-logs")._5.contains("StorageContainer"))
    // policy JSON blob round-trips: parse it back on read (SURVEY §1.2)
    val policyId = g.nodeTable("Bucket").filter($"id" === "b-logs")
      .select(org.apache.spark.sql.functions.get_json_object($"policy_json", "$.Id")).as[String].head()
    assert(policyId == "p1")
    // grant edges carry the permission property
    val grants = g.edgeTable("Grantee", "HAS_GRANT", "Bucket")
      .select($"src_id", $"dst_id", $"permission")
      .as[(String, String, String)].collect().toSet
    assert(grants == Set(
      ("user-1", "b-logs", "FULL_CONTROL"),
      ("http://acs.example/groups/global/AllUsers", "b-public", "READ"),
      ("user-1", "b-public", "WRITE")))
    // tenancy edge from the sub-resource attach
    assert(g.edgeTable("Account", "RESOURCE", "Bucket").count() == 2)
  }

  test("storage module two-epoch sync stale-cleans the deleted bucket and its edges") {
    val g1 = graft.intel.StorageBuckets.sync(
      Graph().withNodes("Account", accountNodes), spark, bucketsEpoch1, tag = 200L)
    val g2 = graft.intel.StorageBuckets.sync(g1, spark, bucketsEpoch2, tag = 300L)
    assert(g2.nodeTable("Bucket").select($"id").as[String].collect().toSeq == Seq("b-logs"))
    // b-public's grant edges went with it; user-1's b-logs grant survives
    val grants = g2.edgeTable("Grantee", "HAS_GRANT", "Bucket")
      .select($"dst_id").as[String].collect().toSeq
    assert(grants == Seq("b-logs"))
    // firstseen lineage preserved across the sync for the surviving bucket
    val fs = g2.nodeTable("Bucket").select($"firstseen").as[Long].head()
    assert(fs == 200L)
  }

  test("sync loads instances, nics, labels, tenancy edges from the JSON feed") {
    val g = ComputeInstances.sync(Graph().withNodes("Account", accountNodes),
      spark, epoch1, tag = 200L)

    val inst = g.nodeTable("Instance")
      .select($"id", $"instance_type", $"allows_imdsv1", $"team", $"arn")
      .as[(String, String, Boolean, Option[String], String)].collect().toSet
    assert(inst == Set(
      ("i-aa", "m1.small", true, Some("core"), "arn:compute:acct-1:instance/i-aa"),
      ("i-bb", "m1.large", false, None, "arn:compute:acct-1:instance/i-bb"),
      ("i-cc", "t2.micro", true, None, "arn:compute:acct-2:instance/i-cc")))

    val labels = g.nodeTable("Instance")
      .select($"id", org.apache.spark.sql.functions.array_join($"labels", ","))
      .as[(String, String)].collect().toMap
    assert(labels("i-aa") == "ComputeInstance,Imdsv1Risk,Instance")
    assert(labels("i-bb") == "ComputeInstance,Instance")

    val tenancy = g.edgeTable("Account", "RESOURCE", "Instance")
      .select($"src_id", $"dst_id").as[(String, String)].collect().toSet
    assert(tenancy == Set(("acct-1", "i-aa"), ("acct-1", "i-bb"), ("acct-2", "i-cc")))

    val attached = g.edgeTable("Nic", "ATTACHED_TO", "Instance")
      .select($"src_id", $"dst_id").as[(String, String)].collect().toSet
    assert(attached == Set(("eni-1", "i-aa"), ("eni-2", "i-aa"), ("eni-3", "i-bb")))
  }

  test("best-effort sync isolates a failing module and suppresses its cleanup") {
    val g0 = Graph().withNodes("Account", accountNodes)
    val broken = new graft.intel.IntelModule {
      val name = "broken"
      val labels = Seq("Instance")
      def extract(s: SparkSession, src: String) = s.read.json("/nonexistent/path")
      def transform(raw: org.apache.spark.sql.DataFrame) = Seq.empty
    }
    val (g, failures) = graft.intel.SyncRunner.runBestEffort(g0, spark,
      Seq(broken -> "ignored", graft.intel.ComputeInstances -> epoch1), tag = 200L)
    assert(failures.map(_._1) == Seq("broken"))
    assert(g.nodeTable("Instance").count() == 3) // later module still synced
  }

  test("dns module derives sub-zones, normalizes names, rejects stray delegations") {
    val g = graft.intel.DnsZones.sync(Graph(), spark, "/root/testdata/sf0.001", 500L)
    // record names were loaded uppercase + trailing dot; normalization is
    // what lets the equi-filter match zone names
    val recNames = g.nodeTable("DNSRecord").select($"name").as[String].collect()
    assert(recNames.nonEmpty && recNames.forall(n => n == n.toLowerCase && !n.endsWith(".")))
    val sub = g.edgeTable("DNSZone", "SUBZONE", "DNSZone")
      .select($"src_id", $"dst_id").as[(String, String)].collect().toSet
    // exactly one link per nation: region zone -> nation zone; every stray
    // (nation zone -> next nation's zone) was equi-matched but suffix-rejected
    assert(sub.size == 25)
    assert(sub.forall { case (s, d) => s.startsWith("zone-r") && d.startsWith("zone-n") })
  }

  test("dns module two-epoch sync: scoped matchlink cleanup spares other accounts") {
    import org.apache.spark.sql.functions.lit
    val sf = "/root/testdata/sf0.001"
    val g1 = graft.intel.DnsZones.sync(Graph(), spark, sf, 500L)
    // a foreign account's zones + SUBZONE link, already present and stale
    // by epoch 2 — the scoped cleanup must not touch another tenant's rows
    val foreignZones = g1.nodeTable("DNSZone").limit(1).drop("id")
      .crossJoin(Seq("zone-x", "zone-y").toDF("id"))
      .withColumn("firstseen", lit(400L)).withColumn("lastupdated", lit(400L))
      .withColumn("_sub_resource_id", lit("A2"))
    val foreign = Seq(("zone-x", "zone-y")).toDF("src_id", "dst_id")
      .withColumn("firstseen", lit(400L)).withColumn("lastupdated", lit(400L))
      .withColumn("_sub_resource_label", lit("Account"))
      .withColumn("_sub_resource_id", lit("A2"))
    val seeded = g1
      .withNodes("DNSZone",
        g1.nodeTable("DNSZone").unionByName(foreignZones))
      .withEdges(graft.intel.DnsZones.SubzoneKey,
        g1.edgeTable("DNSZone", "SUBZONE", "DNSZone").unionByName(foreign))
    // epoch 2: nations >= 12 disappeared from the feed
    val e2 = Files.createTempDirectory("dns-epoch2").toString
    spark.read.parquet(s"$sf/nation.parquet").filter($"n_nationkey" < 12)
      .write.mode("overwrite").parquet(s"$e2/nation.parquet")
    spark.read.parquet(s"$sf/region.parquet")
      .write.mode("overwrite").parquet(s"$e2/region.parquet")
    val g2 = graft.intel.DnsZones.sync(seeded, spark, e2, 600L)
    val sub = g2.edgeTable("DNSZone", "SUBZONE", "DNSZone")
      .select($"src_id", $"dst_id", $"lastupdated", $"_sub_resource_id")
      .as[(String, String, Long, String)].collect()
    // A1's stale links (nations >= 12) deleted; fresh links re-stamped;
    // A2's stale link out of scope -> survives byte-untouched
    val a1 = sub.filter(_._4 == "A1")
    assert(a1.length == 12 && a1.forall(_._3 == 600L))
    assert(sub.filter(_._4 == "A2").toSeq == Seq(("zone-x", "zone-y", 400L, "A2")))
    // stale nation zones cleaned; the foreign tenant's zones spared
    val zoneIds = g2.nodeTable("DNSZone").select($"id").as[String].collect().toSet
    assert(!zoneIds.contains("zone-n20") && zoneIds.contains("zone-n3"))
    assert(zoneIds.contains("zone-x") && zoneIds.contains("zone-y"))
  }

  test("buildSync validates names, dedups, aliases, enforces stage order") {
    import graft.intel.{SyncAssembly, SyncStage}
    val noop: (Graph, SparkSession, Long) => Graph = (g, _, _) => g
    val registry = Seq(
      SyncStage(SyncAssembly.IndexStage, noop),
      SyncStage("aws", noop),
      SyncStage("microsoft", noop),
      SyncStage(SyncAssembly.OntologyStage, noop),
      SyncStage(SyncAssembly.AnalysisStage, noop))
    // unknown names abort with the full valid list (sync.py:575-584)
    val err = intercept[IllegalArgumentException] {
      SyncAssembly.buildSync(Seq("aws", "nope"), registry)
    }
    assert(err.getMessage.contains("nope") && err.getMessage.contains("Valid values"))
    // dedup keeps first occurrence; alias entra->microsoft resolves;
    // pinned stages move to their slots with a warning
    val plan = SyncAssembly.buildSync(
      "analysis, ontology ,aws,entra,aws,create-indexes", registry)
    assert(plan.stageNames == Seq(
      SyncAssembly.IndexStage, "aws", "microsoft",
      SyncAssembly.OntologyStage, SyncAssembly.AnalysisStage))
    assert(plan.warnings.exists(_.contains("order adjusted")))
    // an in-order selection raises no ordering warning
    val inOrder = SyncAssembly.buildSync(Seq("create-indexes", "aws", "analysis"), registry)
    assert(inOrder.warnings.isEmpty)
  }

  test("buildSync warns on missing soft dependencies; plan runs via SyncRunner") {
    import graft.intel.{SyncAssembly, SyncStage}
    val loadedLabels = scala.collection.mutable.ArrayBuffer.empty[String]
    def tracking(name: String, wants: Seq[String] = Nil) =
      SyncStage(name, (g, _, _) => { loadedLabels += name; g }, wants)
    val registry = Seq(
      tracking("principals"),
      tracking("permission-relationships", wants = Seq("principals")),
      tracking(SyncAssembly.AnalysisStage))
    val plan = SyncAssembly.buildSync(Seq("permission-relationships"), registry)
    assert(plan.warnings.exists(w =>
      w.contains("permission-relationships") && w.contains("principals")))
    // with the dependency included there is no warning and order is kept
    val full = SyncAssembly.buildSync(
      Seq("principals", "permission-relationships", "analysis"), registry)
    assert(full.warnings.isEmpty)
    full.run(Graph(), spark, 700L)
    assert(loadedLabels.toSeq ==
      Seq("principals", "permission-relationships", "analysis"))
    // best-effort: a failing stage is isolated and reported by name
    val boom = SyncStage("boom", (_, _, _) => sys.error("nope"))
    val (_, failures) = graft.intel.SyncPlan(Seq(boom) ++ registry.take(1), Nil)
      .runBestEffort(Graph(), spark, 701L)
    assert(failures.map(_._1) == Seq("boom"))
  }

  test("re-sync with shrunken feed cleans the synced tenant, spares others") {
    val g1 = ComputeInstances.sync(Graph().withNodes("Account", accountNodes),
      spark, epoch1, tag = 200L)
    // epoch2 only contains acct-1: i-bb (acct-1, stale) must be deleted,
    // i-cc (acct-2, stale but OUT of the synced tenant scope) must survive
    // — the reference always scopes cleanup to the sub-resource being
    // synced; deleting acct-2's rows here would be cross-tenant data loss.
    val g2 = ComputeInstances.sync(g1, spark, epoch2, tag = 300L)
    val ids = g2.nodeTable("Instance").select($"id").as[String].collect().toSet
    assert(ids == Set("i-aa", "i-cc"))
    // Nic has no sub-resource → its cleanup is unscoped: stale eni-3 goes
    val nics = g2.nodeTable("Nic").select($"id").as[String].collect().toSet
    assert(nics == Set("eni-1", "eni-2"))
    // edge hygiene: stale in-scope edges gone, edges to deleted nodes detached
    val attached = g2.edgeTable("Nic", "ATTACHED_TO", "Instance")
      .select($"src_id", $"dst_id").as[(String, String)].collect().toSet
    assert(attached == Set(("eni-1", "i-aa"), ("eni-2", "i-aa")))
    val tenancy = g2.edgeTable("Account", "RESOURCE", "Instance")
      .select($"dst_id").as[String].collect().toSet
    assert(tenancy == Set("i-aa", "i-cc"))
    // the spared tenant's rows are byte-untouched (still epoch-1 tagged)
    val spared = g2.nodeTable("Instance").filter($"id" === "i-cc")
      .select($"lastupdated").as[Long].collect().toSeq
    assert(spared == Seq(200L))
  }
}
