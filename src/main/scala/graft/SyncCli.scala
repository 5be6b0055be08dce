package graft

import org.apache.spark.sql.SparkSession

import graft.graph.Graph
import graft.intel.{ComputeInstances, DnsZones, StorageBuckets, SyncAssembly, SyncStage}
import graft.sink.SyncMetadata

/** Thin CLI front end over [[graft.intel.SyncAssembly]] — the argument-
  * parsing entry the reference exposes as `cartography` (cli.py:328 →
  * CLI.main → build_sync(config.selected_modules)). Flags are the
  * relevant subset of the reference's surface re-expressed for a Spark
  * library:
  *
  * {{{
  * runMain graft.SyncCli --select compute-instances,storage-buckets \
  *   --sf-dir /root/testdata/sf0.001 [--update-tag 123] [--best-effort]
  *   [--dry-run] [--list-modules] [--out /tmp/sync_out]
  * }}}
  *
  * Selection semantics (aliases, duplicate collapse, unknown-module
  * abort, pinned create-indexes/ontology/analysis ordering with
  * reorder warnings) all live in [[SyncAssembly.buildSync]]; the CLI
  * only parses flags, builds the standard registry, runs the plan, and
  * prints per-label row counts. */
object SyncCli {

  final case class Config(select: Seq[String] = Nil,
                          sfDir: String = "/root/testdata/sf0.001",
                          tag: Long = 1L,
                          bestEffort: Boolean = false,
                          dryRun: Boolean = false,
                          listModules: Boolean = false,
                          out: Option[String] = None,
                          computeJson: Option[String] = None,
                          storageJson: Option[String] = None,
                          driftRegistry: Option[String] = None,
                          driftAdd: Seq[String] = Nil,
                          driftDiff: Option[String] = None,
                          driftShortcut: Option[(String, String, String)] = None,
                          driftPair: Option[(String, String)] = None,
                          driftReport: Boolean = false,
                          analysisJobDir: Option[String] = None,
                          /** `cartography rules run` analog: run the
                            * reference compliance library over the
                            * sf-dir asset views and print text or JSON
                            * findings (rules/cli.py --output). */
                          rulesRun: Option[String] = None,
                          /** `cartography-rules list [rule]` analog:
                            * Some(None) lists every rule, Some(Some(id))
                            * prints one rule's fact inventory. */
                          rulesList: Option[Option[String]] = None,
                          /** `list --framework` filter
                            * (short[:scope[:revision]]). */
                          rulesFrameworkFilter: Option[String] = None,
                          /** `cartography-rules frameworks` analog. */
                          rulesFrameworks: Boolean = false)

  /** Pure flag parser — unknown flags and missing values throw with the
    * reference's abort-with-guidance shape (cli.py raises through
    * argparse). */
  def parseArgs(args: Seq[String]): Config = {
    def loop(rest: List[String], c: Config): Config = rest match {
      case Nil => c
      case "--select" :: v :: t => loop(t, c.copy(select = SyncAssembly.parseSelected(v)))
      case "--sf-dir" :: v :: t => loop(t, c.copy(sfDir = v))
      case "--update-tag" :: v :: t => loop(t, c.copy(tag = v.toLong))
      case "--best-effort" :: t => loop(t, c.copy(bestEffort = true))
      case "--dry-run" :: t => loop(t, c.copy(dryRun = true))
      case "--list-modules" :: t => loop(t, c.copy(listModules = true))
      case "--out" :: v :: t => loop(t, c.copy(out = Some(v)))
      case "--compute-json" :: v :: t => loop(t, c.copy(computeJson = Some(v)))
      case "--storage-json" :: v :: t => loop(t, c.copy(storageJson = Some(v)))
      case "--drift-registry" :: v :: t => loop(t, c.copy(driftRegistry = Some(v)))
      case "--drift-add" :: v :: t =>
        loop(t, c.copy(driftAdd = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      case "--drift-diff" :: v :: t => loop(t, c.copy(driftDiff = Some(v)))
      // reference driftdetect add-shortcut subcommand: query:alias=target
      case "--drift-shortcut" :: v :: t =>
        v.split("[:=]", 3) match {
          case Array(q, a, tgt) if q.nonEmpty && a.nonEmpty && tgt.nonEmpty =>
            loop(t, c.copy(driftShortcut = Some((q, a, tgt))))
          case _ => throw new IllegalArgumentException(
            s"--drift-shortcut expects query:alias=target, got '$v'")
        }
      // explicit state pair (tags or aliases) for --drift-diff; default
      // without it stays the latest-pair diff
      case "--drift-states" :: v :: t =>
        v.split(",", 2) match {
          case Array(o, n) if o.nonEmpty && n.nonEmpty =>
            loop(t, c.copy(driftPair = Some((o.trim, n.trim))))
          case _ => throw new IllegalArgumentException(
            s"--drift-states expects older,newer — got '$v'")
        }
      case "--drift-report" :: t => loop(t, c.copy(driftReport = true))
      case "--rules-run" :: v :: t if v == "text" || v == "json" =>
        loop(t, c.copy(rulesRun = Some(v)))
      case "--rules-run" :: v :: _ =>
        throw new IllegalArgumentException(
          s"--rules-run expects text or json, got '$v'")
      // `cartography-rules list [RULE] [--framework F]`: an optional
      // positional rule id (any following token not itself a flag)
      case "--rules-list" :: v :: t if !v.startsWith("--") =>
        loop(t, c.copy(rulesList = Some(Some(v))))
      case "--rules-list" :: t => loop(t, c.copy(rulesList = Some(None)))
      case "--rules-framework" :: v :: t =>
        loop(t, c.copy(rulesFrameworkFilter = Some(v)))
      case "--rules-frameworks" :: t => loop(t, c.copy(rulesFrameworks = true))
      case "--analysis-job-directory" :: v :: t =>
        loop(t, c.copy(analysisJobDir = Some(v)))
      case flag :: _ if flag.startsWith("--") =>
        throw new IllegalArgumentException(
          s"unknown or valueless flag $flag; valid: --select --sf-dir " +
            "--update-tag --best-effort --dry-run --list-modules --out " +
            "--compute-json --storage-json --drift-registry --drift-add " +
            "--drift-diff --drift-states --drift-shortcut --drift-report " +
            "--analysis-job-directory --rules-run --rules-list " +
            "--rules-framework --rules-frameworks")
      case other :: _ =>
        throw new IllegalArgumentException(s"unexpected positional argument $other")
    }
    loop(args.toList, Config())
  }

  /** The module registry for this configuration (the reference's
    * TOP_LEVEL_MODULES analog): the index slot, dns-zones (reads the
    * sf-dir parquet), compute/storage ONLY when their API-fixture JSON
    * source is configured — the reference likewise runs a module only
    * when its credentials/config are present (cli.py skips e.g.
    * permission relationships without --permission-relationships-file)
    * — and a sync-metadata marker in the analysis slot (runs last by
    * the pinned ordering, stamping the run like the reference's
    * metadata job). Selecting an unconfigured module aborts with the
    * valid list, exactly like an unknown module name. */
  def registry(cfg: Config): Seq[SyncStage] = {
    import org.apache.spark.sql.functions.col
    import graft.graph.GraphStore
    // account discovery (the reference's organizations stage): the
    // tenant universe the asset modules' sub-resource loads attach to,
    // derived from the configured fixtures' owner fields
    val accountStage =
      if (cfg.computeJson.isEmpty && cfg.storageJson.isEmpty) None
      else Some(SyncStage("accounts", (g, s, t) => {
        val owners = Seq(
          cfg.computeJson.map(p => s.read.json(p).select(col("OwnerId").as("id"))),
          cfg.storageJson.map(p => s.read.json(p).select(col("Owner").as("id"))))
          .flatten.reduce(_ unionByName _).distinct()
        val existing = g.nodes.getOrElse("Account", GraphStore.emptyLike(owners))
        g.withNodes("Account", GraphStore.upsertNodes(existing, owners, t))
      }))
    Seq(
      Some(SyncStage(SyncAssembly.IndexStage, (g, _, _) => g)),
      accountStage,
      cfg.computeJson.map(src =>
        SyncAssembly.stageFor(ComputeInstances, src, wants = Seq("accounts"))),
      cfg.storageJson.map(src =>
        SyncAssembly.stageFor(StorageBuckets, src, wants = Seq("accounts"))),
      Some(SyncAssembly.stageFor(DnsZones, cfg.sfDir)),
      Some(SyncStage(SyncAssembly.AnalysisStage, (g, s, t) => {
        // user-supplied JSON analysis/cleanup jobs run in the analysis
        // slot before the metadata marker, exactly the reference's
        // --analysis-job-directory semantics (intel/analysis.py:12-45);
        // jobs see the graph as node_/edge_ SQL views and materialize
        // back into them, so the post-job graph is read back from the
        // views each job may have re-pointed
        val g2 = cfg.analysisJobDir match {
          case None => g
          case Some(dir) =>
            graft.rules.RulesRunner.registerGraphViews(g)
            graft.analysis.JobRegistry.runDirectory(s, dir,
              Map("UPDATE_TAG" -> t))
            val withNodes = g.nodes.keys.foldLeft(g)((acc, l) =>
              acc.withNodes(l, s.table(s"node_$l")))
            g.edges.keys.foldLeft(withNodes) { case (acc, (sl, r, d)) =>
              acc.withEdges((sl, r, d), s.table(s"edge_${sl}_${r}_$d")) }
        }
        SyncMetadata.record(g2, "SyncRun", "cli", "all-modules", t)
      }))).flatten
  }

  /** Record the synced graph's node tables as drift states — the
    * reference drift CLI's get-state leg (driftdetect/cli.py get-state →
    * run_get_states): one state per selected label under the registry,
    * named by the sync tag. */
  def recordDriftStates(g: Graph, cfg: Config): Unit =
    for {
      reg <- cfg.driftRegistry.toSeq
      label <- cfg.driftAdd
    } graft.drift.Drift.addState(g.nodeTable(label), reg, label, cfg.tag)

  /** The get-drift leg (driftdetect/cli.py get-drift →
    * run_drift_detection, default = the two most recent states): the
    * latest-pair diff for one recorded query, sorted for stable output. */
  def driftDiffRows(spark: SparkSession, cfg: Config): Seq[String] = {
    val reg = cfg.driftRegistry.getOrElse(
      throw new IllegalArgumentException("--drift-diff requires --drift-registry"))
    val label = cfg.driftDiff.get
    val d = cfg.driftPair match {
      case Some((older, newer)) =>
        graft.drift.Drift.diffNamed(spark, reg, label, older, newer)
      case None => graft.drift.Drift.diffLatest(spark, reg, label)
    }
    if (cfg.driftReport)
      graft.drift.Drift.report(d, label).linesIterator.toSeq
    else d.collect().map(_.mkString("\t")).sorted.toSeq
  }

  /** The add-shortcut leg (driftdetect/cli.py add-shortcut →
    * run_add_shortcut): registers a named alias for a recorded state. */
  def driftAddShortcut(spark: SparkSession, cfg: Config): Unit = {
    val reg = cfg.driftRegistry.getOrElse(
      throw new IllegalArgumentException(
        "--drift-shortcut requires --drift-registry"))
    val (query, alias, target) = cfg.driftShortcut.get
    graft.drift.Drift.addShortcut(spark, reg, query, alias, target)
  }

  /** Build the reference compliance library's asset views over the
    * sf-dir tables, execute every rule, and render findings in the
    * requested format (reference: `cartography rules run --output ...`,
    * rules/cli.py + runners.py + formatters.py). */
  def rulesReport(spark: SparkSession, cfg: Config): String = {
    import graft.rules.{Formatters, ReferenceLibrary, RulesRunner}
    Seq("region" -> Tables.region _, "supplier" -> Tables.supplier _,
      "part" -> Tables.part _, "nation" -> Tables.nation _,
      "customer" -> Tables.customer _, "orders" -> Tables.orders _)
      .foreach { case (n, t) =>
        t(spark, cfg.sfDir).createOrReplaceTempView(s"rf_base_$n") }
    ReferenceLibrary.viewSql.foreach { case (n, sql) =>
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $n AS $sql") }
    val fw = ReferenceLibrary.framework
    val problems = RulesRunner.validate(spark, fw)
    require(problems.isEmpty,
      s"reference library invalid: ${problems.mkString("; ")}")
    val results = Formatters.execute(spark, fw)
    if (cfg.rulesRun.contains("json")) Formatters.renderJson(results)
    else Formatters.renderText(results, color = false)
  }

  /** The metadata-only rules subcommands (`list`, `frameworks`) — no
    * SparkSession, no query execution: pure renders over the packaged
    * library (reference cartography-rules CLI, cli.py:182-326). */
  def rulesMetadataReport(cfg: Config): Option[String] = {
    val lib = graft.rules.ReferenceLibrary.framework.rules
    if (cfg.rulesFrameworks) Some(graft.rules.CliFormats.renderFrameworks(lib))
    else cfg.rulesList.map {
      case Some(ruleId) => graft.rules.CliFormats.renderRuleDetail(lib, ruleId)
      case None =>
        graft.rules.CliFormats.renderRulesList(lib, cfg.rulesFrameworkFilter)
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args.toSeq)
    val metaReport = rulesMetadataReport(cfg)
    if (metaReport.isDefined) {
      println(metaReport.get)
      return
    }
    val reg = registry(cfg)
    if (cfg.listModules) {
      reg.foreach(s => println(s.name))
      return
    }
    if (cfg.driftDiff.isDefined || cfg.driftShortcut.isDefined) {
      // pure read/registry path: no sync runs, like the reference's
      // standalone cartography-detectdrift entry point
      withSession { spark =>
        if (cfg.driftShortcut.isDefined) driftAddShortcut(spark, cfg)
        if (cfg.driftDiff.isDefined) driftDiffRows(spark, cfg).foreach(println)
      }
      return
    }
    if (cfg.rulesRun.isDefined) {
      // pure read path like the drift legs: `cartography rules run`
      // never syncs, it reads the graph and prints findings
      withSession { spark =>
        spark.sparkContext.setLogLevel("WARN")
        println(rulesReport(spark, cfg))
      }
      return
    }
    require(cfg.select.nonEmpty, "--select is required (or use --list-modules)")
    val plan = SyncAssembly.buildSync(cfg.select, reg)
    plan.warnings.foreach(w => System.err.println(s"[sync-cli] WARN $w"))
    if (cfg.dryRun) {
      plan.stageNames.foreach(println)
      return
    }
    withSession { spark =>
      spark.sparkContext.setLogLevel("WARN")
      val g =
        if (cfg.bestEffort) {
          val (graph, failures) = plan.runBestEffort(Graph(), spark, cfg.tag)
          failures.foreach { case (stage, e) =>
            System.err.println(s"[sync-cli] stage $stage failed: ${e.getMessage}")
          }
          graph
        } else plan.run(Graph(), spark, cfg.tag)
      g.nodes.toSeq.sortBy(_._1).foreach { case (label, df) =>
        println(s"$label ${df.count()}")
      }
      recordDriftStates(g, cfg)
      cfg.out.foreach { dir =>
        g.nodes.foreach { case (label, df) =>
          df.write.mode("overwrite").parquet(s"$dir/nodes_$label")
        }
        g.edges.foreach { case ((s, r, d), df) =>
          df.write.mode("overwrite").parquet(s"$dir/edges_${s}_${r}_$d")
        }
      }
    }
  }

  /** Every subcommand's session, via [[GraftSession]]: embedded (tests,
    * notebooks) it joins the live session as is; standalone it runs on
    * `SPARK_MASTER` when set, else locally. */
  private def withSession(body: SparkSession => Unit): Unit =
    GraftSession.run(defaultCpus = 4, sys.env.get("SPARK_MASTER"))(body)
}
