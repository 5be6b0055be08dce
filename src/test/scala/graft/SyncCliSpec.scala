package graft

import java.nio.file.Files

import graft.intel.SyncAssembly

/** CLI front end: flag parsing, conditional module registry, pinned
  * ordering through buildSync, and a full runMain-equivalent sync run. */
class SyncCliSpec extends SparkSuite {
  test("parseArgs: full flag surface, defaults, and abort-with-guidance") {
    val c = SyncCli.parseArgs(Seq("--select", "accounts, compute-instances",
      "--sf-dir", "/x", "--update-tag", "42", "--best-effort", "--dry-run",
      "--compute-json", "/c.json", "--out", "/o"))
    assert(c.select == Seq("accounts", "compute-instances"))
    assert(c.sfDir == "/x" && c.tag == 42L && c.bestEffort && c.dryRun)
    assert(c.computeJson.contains("/c.json") && c.out.contains("/o"))
    assert(SyncCli.parseArgs(Nil).tag == 1L)
    intercept[IllegalArgumentException] { SyncCli.parseArgs(Seq("--nope")) }
    intercept[IllegalArgumentException] { SyncCli.parseArgs(Seq("stray")) }
    // a value-taking flag at end-of-args is valueless -> same guidance path
    intercept[IllegalArgumentException] { SyncCli.parseArgs(Seq("--select")) }
  }

  test("registry: compute/storage register only when their source is configured") {
    val bare = SyncCli.registry(SyncCli.Config()).map(_.name)
    assert(bare == Seq(SyncAssembly.IndexStage, "dns-zones", SyncAssembly.AnalysisStage))
    val full = SyncCli.registry(SyncCli.Config(
      computeJson = Some("/c"), storageJson = Some("/s"))).map(_.name)
    assert(full == Seq(SyncAssembly.IndexStage, "accounts", "compute-instances",
      "storage-buckets", "dns-zones", SyncAssembly.AnalysisStage))
    // selecting an unconfigured module aborts like an unknown module name
    intercept[IllegalArgumentException] {
      SyncAssembly.buildSync(Seq("compute-instances"),
        SyncCli.registry(SyncCli.Config()))
    }
  }

  test("pinned stages reorder with a warning through the CLI registry") {
    val plan = SyncAssembly.buildSync(
      Seq(SyncAssembly.AnalysisStage, "dns-zones", SyncAssembly.IndexStage),
      SyncCli.registry(SyncCli.Config()))
    assert(plan.stageNames ==
      Seq(SyncAssembly.IndexStage, "dns-zones", SyncAssembly.AnalysisStage))
    assert(plan.warnings.nonEmpty)
  }

  test("main: full sync run over fixtures writes every loaded label") {
    spark // force the shared session so main joins it (GraftSession)
    val fx = Files.createTempFile("cli_compute", ".json")
    Files.writeString(fx,
      """{"ReservationId":"r-1","OwnerId":"acct-9","Instances":[{"InstanceId":"i-1","Type":"m1.small","State":"running","LaunchTime":"2026-01-05T10:00:00Z","MetadataOptions":{"HttpTokens":"optional"},"Tags":[{"Key":"team","Value":"core"}],"Nics":[{"NicId":"eni-1","SubnetId":"sub-1"}]}]}""")
    val out = Files.createTempDirectory("cli_out").toString
    SyncCli.main(Array("--select",
      "accounts,compute-instances,dns-zones,analysis",
      "--compute-json", fx.toString,
      "--sf-dir", "/root/testdata/sf0.001",
      "--update-tag", "7", "--out", out))
    val accounts = spark.read.parquet(s"$out/nodes_Account")
      .select("id").collect().map(_.getString(0)).toSet
    assert(accounts.contains("acct-9"))
    val instances = spark.read.parquet(s"$out/nodes_Instance")
      .select("id", "lastupdated").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(instances == Set(("i-1", 7L)))
    val meta = spark.read.parquet(s"$out/nodes_ModuleSyncMetadata").count()
    assert(meta == 1L)
  }

  test("main inside a live session leaves that session's conf as it was") {
    import spark.implicits._
    val reg = Files.createTempDirectory("cli_live").toString
    Seq(100L -> Seq(1L), 200L -> Seq(1L, 2L)).foreach { case (tag, ids) =>
      SyncCli.recordDriftStates(graft.graph.Graph().withNodes("Asset", ids.toDF("id")),
        SyncCli.Config(driftRegistry = Some(reg), driftAdd = Seq("Asset"), tag = tag))
    }
    withConf("spark.sql.shuffle.partitions" -> "7") {
      SyncCli.main(Array("--drift-registry", reg, "--drift-diff", "Asset"))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    }
    assert(!spark.sparkContext.isStopped, "main stopped a session it did not build")
  }

  test("parseArgs: drift flags parse and bad combos abort") {
    val c = SyncCli.parseArgs(Seq("--drift-registry", "/reg",
      "--drift-add", "DNSZone, Account", "--drift-diff", "DNSZone"))
    assert(c.driftRegistry.contains("/reg"))
    assert(c.driftAdd == Seq("DNSZone", "Account"))
    assert(c.driftDiff.contains("DNSZone"))
    // --drift-diff without a registry aborts with guidance
    intercept[IllegalArgumentException] {
      SyncCli.driftDiffRows(spark, SyncCli.Config(driftDiff = Some("DNSZone")))
    }
  }

  test("drift lifecycle: two recorded syncs diff through the CLI legs") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val reg = Files.createTempDirectory("cli_drift").toString
    def graphWith(rows: Seq[(Long, String)]) =
      graft.graph.Graph().withNodes("Asset", rows.toDF("id", "name"))
    // epoch 1 and epoch 2 recorded via the get-state leg
    SyncCli.recordDriftStates(graphWith(Seq((1L, "a"), (2L, "b"))),
      SyncCli.Config(driftRegistry = Some(reg), driftAdd = Seq("Asset"), tag = 100L))
    SyncCli.recordDriftStates(graphWith(Seq((2L, "b"), (3L, "c"))),
      SyncCli.Config(driftRegistry = Some(reg), driftAdd = Seq("Asset"), tag = 200L))
    // get-drift leg: latest pair => 1 removed, 3 added
    val rows = SyncCli.driftDiffRows(spark,
      SyncCli.Config(driftRegistry = Some(reg), driftDiff = Some("Asset")))
    assert(rows.size == 2)
    assert(rows.exists(r => r.contains("3") && r.contains("added")))
    assert(rows.exists(r => r.contains("1") && r.contains("removed")))
  }

  test("drift shortcuts: aliases register, resolve, and drive named diffs") {
    import spark.implicits._
    val reg = Files.createTempDirectory("cli_shortcut").toString
    def graphWith(rows: Seq[(Long, String)]) =
      graft.graph.Graph().withNodes("Asset", rows.toDF("id", "name"))
    SyncCli.recordDriftStates(graphWith(Seq((1L, "a"), (2L, "b"))),
      SyncCli.Config(driftRegistry = Some(reg), driftAdd = Seq("Asset"), tag = 100L))
    SyncCli.recordDriftStates(graphWith(Seq((2L, "b"), (3L, "c"))),
      SyncCli.Config(driftRegistry = Some(reg), driftAdd = Seq("Asset"), tag = 200L))
    SyncCli.recordDriftStates(graphWith(Seq((3L, "c"))),
      SyncCli.Config(driftRegistry = Some(reg), driftAdd = Seq("Asset"), tag = 300L))
    // add-shortcut leg: flag parses, alias lands in the registry
    val c = SyncCli.parseArgs(Seq("--drift-registry", reg,
      "--drift-shortcut", "Asset:baseline=100"))
    assert(c.driftShortcut.contains(("Asset", "baseline", "100")))
    SyncCli.driftAddShortcut(spark, c)
    assert(graft.drift.Drift.shortcuts(spark, reg, "Asset") ==
      Map("baseline" -> "100"))
    // alias-of-alias resolves ONE level at write time (reference
    // add_shortcut semantics), and re-adding replaces
    graft.drift.Drift.addShortcut(spark, reg, "Asset", "golden", "baseline")
    assert(graft.drift.Drift.shortcuts(spark, reg, "Asset")("golden") == "100")
    // bad inputs fail loudly: numeric alias, missing target
    intercept[IllegalArgumentException] {
      graft.drift.Drift.addShortcut(spark, reg, "Asset", "400", "100")
    }
    intercept[IllegalArgumentException] {
      graft.drift.Drift.addShortcut(spark, reg, "Asset", "nope", "999")
    }
    // shortcuts never pollute the numeric state listing
    assert(graft.drift.Drift.listStates(spark, reg, "Asset") ==
      Seq(100L, 200L, 300L))
    // named diff through the CLI leg: baseline..300 => 1,2 removed, 3 added
    val rows = SyncCli.driftDiffRows(spark, SyncCli.Config(
      driftRegistry = Some(reg), driftDiff = Some("Asset"),
      driftPair = Some(("baseline", "300"))))
    assert(rows.size == 3)
    assert(rows.count(_.contains("removed")) == 2)
  }

  test("drift report renders the reference reporter format") {
    import spark.implicits._
    val d = graft.drift.Drift.diff(
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      Seq((2L, "b"), (3L, "c")).toDF("id", "name"))
    val report = graft.drift.Drift.report(d, "Asset")
    val lines = report.linesIterator.toSeq
    assert(lines.head == "Query Name:  Asset")
    assert(lines.contains("New Query Results:"))
    assert(lines.contains("Missing Query Results:"))
    assert(lines.contains("id :  3") && lines.contains("name :  c"))
    assert(lines.contains("id :  1") && lines.contains("name :  a"))
    assert(lines.indexOf("New Query Results:") <
      lines.indexOf("Missing Query Results:"))
    // truncation cap bites and says so
    val big = graft.drift.Drift.diff(
      Seq.empty[(Long, String)].toDF("id", "name"),
      (1L to 20L).map(i => (i, s"n$i")).toDF("id", "name"))
    val capped = graft.drift.Drift.report(big, "Asset", maxRows = 5)
    assert(capped.contains("... (truncated at 5 results)"))
    // --drift-report leg routes through the renderer
    val reg = Files.createTempDirectory("cli_report").toString
    def graphWith(rows: Seq[(Long, String)]) =
      graft.graph.Graph().withNodes("Asset", rows.toDF("id", "name"))
    SyncCli.recordDriftStates(graphWith(Seq((1L, "a"))),
      SyncCli.Config(driftRegistry = Some(reg), driftAdd = Seq("Asset"), tag = 1L))
    SyncCli.recordDriftStates(graphWith(Seq((2L, "b"))),
      SyncCli.Config(driftRegistry = Some(reg), driftAdd = Seq("Asset"), tag = 2L))
    val out = SyncCli.driftDiffRows(spark, SyncCli.Config(
      driftRegistry = Some(reg), driftDiff = Some("Asset"), driftReport = true))
    assert(out.head == "Query Name:  Asset")
  }

  test("--analysis-job-directory runs JSON jobs in the analysis slot") {
    import spark.implicits._
    val jobs = Files.createTempDirectory("cli_jobs")
    Files.writeString(jobs.resolve("10_flag.json"),
      """{"name": "flag even survivors", "statements": [
        |  {"query": "SELECT *, id % 2 = 0 AS even FROM node_Thing WHERE lastupdated = $UPDATE_TAG",
        |   "materialize": "node_Thing"}]}""".stripMargin)
    val cfg = SyncCli.parseArgs(Seq("--analysis-job-directory", jobs.toString))
    assert(cfg.analysisJobDir.contains(jobs.toString))
    val stage = SyncCli.registry(cfg).find(_.name == SyncAssembly.AnalysisStage).get
    val g0 = graft.graph.Graph().withNodes("Thing",
      Seq((1L, 9L), (2L, 9L), (3L, 8L)).toDF("id", "lastupdated"))
    val g1 = stage.run(g0, spark, 9L)
    val got = g1.nodeTable("Thing").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(1L -> false, 2L -> true)) // stale id 3 cleaned up
  }
}
