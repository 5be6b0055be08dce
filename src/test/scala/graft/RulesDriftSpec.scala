package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.analysis.{AddRelationship, AnalysisJob, AnalysisRunner}
import graft.drift.Drift
import graft.graph.{Graph, GraphStore}
import graft.rules.{Fact, Framework, Rule, RulesRunner}

class RulesDriftSpec extends SparkSuite {
  import spark.implicits._

  test("SQL-text facts run over registered graph views") {
    val nodes = Seq((1L, 50.0), (2L, -10.0)).toDF("id", "bal")
    val g = Graph().withNodes("Cust",
      GraphStore.initialLoad(nodes, Seq("id"), 100L))
    RulesRunner.registerGraphViews(g)
    val fw = Framework("f", Seq(Rule("r", "r", Seq(
      Fact.sql("neg-bal", "negative balance", "Cust",
        "SELECT id AS asset_id FROM node_Cust WHERE bal < 0")))))
    assert(RulesRunner.validate(spark, fw).isEmpty)
    val findings = RulesRunner.run(spark, fw)
      .select($"fact_id", $"asset_id").as[(String, String)].collect().toSet
    assert(findings == Set(("neg-bal", "2")))
  }

  test("drift states persist to parquet and diff across runs") {
    val dir = Files.createTempDirectory("drift").toString
    Drift.saveState(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, "q1_run1")
    Drift.saveState(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), dir, "q1_run2")
    val got = Drift.diffStates(spark, dir, "q1_run1", "q1_run2")
      .select($"id", $"direction").as[(String, String)].collect().toSet
    assert(got == Set(("3", "added"), ("1", "removed")))
  }

  test("derived-edge cleanup deletes edges the latest analysis run did not re-derive") {
    val g0 = Graph()
    val job1 = AnalysisJob("derive",
      pattern = _ => Seq((1L, 10L), (2L, 20L)).toDF("s", "d"),
      effects = Seq(AddRelationship("A", "REL", "B", "s", "d")))
    val g1 = AnalysisRunner.run(g0, job1, 100L)
    val job2 = job1.copy(pattern = _ => Seq((1L, 10L)).toDF("s", "d"))
    val g2 = AnalysisRunner.cleanupDerived(AnalysisRunner.run(g1, job2, 200L), job2, 200L)
    val edges = g2.edgeTable("A", "REL", "B")
      .select($"src_id", $"dst_id").as[(Long, Long)].collect().toSet
    assert(edges == Set((1L, 10L)))
  }

  test("initialLoad fast path matches merge-into-empty semantics") {
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val fast = GraphStore.initialLoad(batch, Seq("id"), 100L)
    val slow = GraphStore.upsertNodes(GraphStore.emptyLike(batch), batch, 100L)
    assert(fast.columns.toSeq == slow.columns.toSeq)
    assert(fast.collect().toSet == slow.collect().toSet)
  }

  test("packaged core-security framework validates and runs over a graph") {
    import org.apache.spark.sql.functions._
    val instances = Seq(
      ("i-1", true, 100L, "arn:1"), ("i-2", false, 200L, "arn:2"),
      ("i-3", true, 200L, "arn:3")).toDF("id", "allows_imdsv1", "lastupdated", "arn")
      .withColumn("exposed", col("allows_imdsv1"))
    val tenancy = Seq(("acct-1", "i-1"), ("acct-1", "i-2")).toDF("src_id", "dst_id")
    val users = Seq(
      ("u-1", "alice", Some(true), 200L), ("u-2", "bob", Some(false), 200L),
      ("u-3", "carol", None, 100L)).toDF("id", "name", "mfa_enabled", "lastupdated")
    val buckets = Seq(
      ("b-1", true, false), ("b-2", false, true)).toDF("id", "encrypted", "public")
    // k-old predates the 90-day rotation window relative to "now"=tag
    val keys = Seq(("k-old", "u-1", 200L - 90L * 86400L - 1L), ("k-new", "u-2", 200L))
      .toDF("id", "owner", "created_epoch")
    val access = (1 to 101).map(i => ("p-wide", s"r-$i", false)) :+
      (("p-narrow", "r-1", true))
    val principals = Seq(("p-wide", "acct-1"), ("p-narrow", "acct-2"))
      .toDF("id", "tenant")
    val resources = (1 to 101).map(i => (s"r-$i", "acct-1")).toDF("id", "tenant")
    val g = graft.graph.Graph()
      .withNodes("Instance", instances)
      .withNodes("User", users)
      .withNodes("Bucket", buckets)
      .withNodes("AccessKey", keys)
      .withNodes("Principal", principals)
      .withNodes("Resource", resources)
      .withEdges(("Account", "RESOURCE", "Instance"), tenancy)
      .withEdges(("Principal", "CAN_ACCESS", "Resource"),
        access.toDF("src_id", "dst_id", "has_condition"))
    graft.rules.RulesRunner.registerGraphViews(g)
    val fw = graft.rules.CoreFrameworks.coreSecurity(tag = 200L)
    assert(graft.rules.RulesRunner.validate(spark, fw).isEmpty)
    val findings = graft.rules.RulesRunner.run(spark, fw)
      .select("fact_id", "asset_id").as[(String, String)].collect().toSet
    assert(findings == Set(
      ("imdsv1-enabled-instance", "i-1"), ("imdsv1-enabled-instance", "i-3"),
      ("exposed-stale-instance", "i-1"),  // exposed + stale tag
      ("orphaned-instance", "i-3"),       // no RESOURCE edge
      ("mfa-missing-user", "u-2"),        // mfa false
      ("mfa-missing-user", "u-3"),        // mfa never asserted
      ("unencrypted-bucket", "b-2"),
      ("public-bucket", "b-2"),
      ("over-privileged-principal", "p-wide"),  // 101 resources > 100
      ("stale-credential", "k-old"),            // beyond rotation window
      ("inactive-identity", "u-3"),             // lastupdated <> tag
      ("unconditional-broad-access", "p-wide"), // 101 conditionless > 50
      ("cross-tenant-access", "p-narrow")))     // acct-2 principal → acct-1 resource
    // framework-control filtering, case-insensitive
    val nistOnly = graft.rules.RulesRunner.filterByFramework(fw, shortName = Some("NIST"))
    assert(nistOnly.rules.map(_.ruleId).toSet ==
      Set("exposure-staleness", "tenancy-integrity", "least-privilege",
        "boundary-integrity"))
    val soc2Only = graft.rules.RulesRunner.filterByFramework(fw, shortName = Some("SOC2"))
    assert(soc2Only.rules.map(_.ruleId).toSet ==
      Set("identity-hygiene", "storage-protection", "least-privilege",
        "credential-hygiene"))
  }

  test("reference library covers all 37 reference rule files with pinned counts and mappings") {
    import graft.rules.ReferenceLibrary
    val fw = ReferenceLibrary.framework
    // r16 extension: 58 rules / 79 facts (was 15 / 24); every file under
    // the reference's data/rules/ is represented by at least one rule
    assert(fw.rules.size == 58, s"rule count drifted: ${fw.rules.size}")
    assert(fw.rules.map(_.facts.size).sum == 79,
      s"fact count drifted: ${fw.rules.map(_.facts.size).sum}")
    // one witness rule per newly-ported reference file
    val ids = fw.rules.map(_.ruleId).toSet
    val witnesses = Set("mfa-missing", "inactive-user-active-accounts",
      "unmanaged-accounts", "object-storage-public", "public-snapshots",
      "compute-instance-exposed", "database-instance-exposed",
      "transport-encryption-gaps", "eol-software", "identity-mfa-gaps",
      "security-monitoring-gaps", "iam-role-external-account-trust",
      "serverless-workload-exposed", "malicious-npm-dependencies",
      "subimage-coverage", "tailscale-security-gaps", "databricks-security",
      "identity-administration-privileges", "policy-administration-privileges",
      "workload-identity-admin", "delegation-boundary-modifiable",
      "gcp-default-network", "gcp-unrestricted-ssh", "gcp-unrestricted-rdp",
      "gcp-dnssec-disabled", "gw-user-2sv-not-enforced",
      "gw-super-admin-count-low", "k8s-secrets-in-env", "k8s-host-namespaces",
      "k8s-default-namespace")
    assert(witnesses.subsetOf(ids), s"missing: ${witnesses -- ids}")
    // framework mappings carry the reference's exact scope/revision
    // constants (frameworks/cis.py): CIS GCP 4.0 and Workspace 1.3
    val controls = fw.rules.flatMap(_.frameworks)
    val gcp = controls.filter(_.scope.contains("gcp"))
    assert(gcp.nonEmpty && gcp.forall(c =>
      c.shortName == "cis" && c.revision.contains("4.0")))
    val gw = controls.filter(_.scope.contains("googleworkspace"))
    assert(gw.nonEmpty && gw.forall(c =>
      c.shortName == "cis" && c.revision.contains("1.3")))
    // subimage_coverage ships WITHOUT framework mappings in the
    // reference — the port keeps that (controls empty, rule still runs)
    assert(fw.rules.find(_.ruleId == "subimage-coverage").get.frameworks.isEmpty)
    // admin-capability family: the shared principal exclusions are in
    // every fact's SQL text (the reference repeats them verbatim)
    Seq("identity-administration-privileges", "policy-administration-privileges",
      "delegation-boundary-modifiable").foreach { rid =>
      val sqls = ReferenceLibrary.rules.find(_.ruleId == rid).get.facts.map(_.sql)
      assert(sqls.forall(s => s.contains("AWSServiceRole") &&
        s.contains("QuickSetup") && s.contains("OrganizationAccountAccessRole")),
        s"$rid lost the principal exclusions")
    }
  }

  test("drift diff refuses mismatched state properties with the reference wording") {
    // detect_deviations.py:85-86: ValueError("State properties do not
    // match.") before any comparison — a schema-evolved state pair must
    // name the real problem, not die in exceptAll's analysis error
    import spark.implicits._
    val a = Seq((1L, "x")).toDF("id", "name")
    val b = Seq((1L, "x", true)).toDF("id", "name", "exposed")
    val ex = intercept[IllegalArgumentException](graft.drift.Drift.diff(a, b))
    assert(ex.getMessage.contains("State properties do not match."))
    // same property set in a different column ORDER is fine (the
    // reference compares property LISTS, but ours are named columns)
    val c = Seq(("x", 1L)).toDF("name", "id")
    assert(graft.drift.Drift.diff(a, c).count() == 0)
  }
}
