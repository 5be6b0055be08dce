package graft

import graft.rules._

/** Findings formatters must mirror the reference's rendering
  * (cartography/rules/formatters.py + runners.py text blocks,
  * `--output json` dataclass dump): golden strings for a tiny
  * deterministic framework, plus the reference's own CLI assertion
  * ("Rule execution completed" present) for the full library leg
  * (tests/integration/rules/test_cli.py:15-17). */
class RulesFormattersSpec extends SparkSuite {
  private def tinyFramework: Framework = {
    import spark.implicits._
    val open = Fact(
      factId = "tiny-open-buckets",
      name = "Open buckets",
      assetLabel = "Bucket",
      query = { s =>
        import s.implicits._
        Seq(("b2", "public-read"), ("b1", "public-write"),
          ("b3", "public-read"), ("b1", "acl"))
          .toDF("asset_id", "detail")
      },
      description = "Buckets with public access",
      module = "storage",
      countQuery = Some { s =>
        import s.implicits._
        Seq(7L).toDF("count")
      })
    val stale = Fact(
      factId = "tiny-stale-keys",
      name = "Stale keys",
      assetLabel = "Key",
      query = { s =>
        import s.implicits._
        Seq.empty[(String, String)].toDF("asset_id", "detail")
      },
      description = "Access keys unused for 90 days",
      module = "iam")
    Framework("tiny", Seq(
      Rule("R1", "Public storage", Seq(open),
        tags = Seq("storage", "exposure"),
        description = "Publicly accessible storage",
        frameworks = Seq(FrameworkControl(
          name = "CIS Amazon Web Services Foundations Benchmark",
          shortName = "CIS", requirement = "2.1.1",
          scope = Some("aws"), revision = Some("6.0.0"),
          controlTitle = Some("Ensure S3 buckets block public access")))),
      Rule("R2", "Credential hygiene", Seq(stale),
        description = "Stale credentials")))
  }

  test("text rendering matches the reference layout byte-for-byte") {
    val results = Formatters.execute(spark, tinyFramework)
    val got = Formatters.renderText(results, color = false)
    val want =
      """
        |Fact 1/1: Open buckets
        |  Rule:        R1 - Public storage
        |  Fact ID:     tiny-open-buckets
        |  Description: Buckets with public access
        |  Provider:    storage
        |  Total:       7 asset(s)
        |  Passing:     4 asset(s)
        |  Failing:     3 asset(s)
        |    Sample results:
        |      1. asset_id=b1, detail=acl
        |      2. asset_id=b1, detail=public-write
        |      3. asset_id=b2, detail=public-read
        |      ... and 1 more (use --output json to see all)
        |
        |Fact 1/1: Stale keys
        |  Rule:        R2 - Credential hygiene
        |  Fact ID:     tiny-stale-keys
        |  Description: Access keys unused for 90 days
        |  Provider:    iam
        |  Findings:    0 item(s) found
        |
        |============================================================
        |OVERALL SUMMARY
        |============================================================
        |Rules executed: 2
        |Total facts: 2
        |Total assets: 7
        |Passing: 4
        |Failing: 3
        |Compliance: 57.1%
        |
        |Rule execution completed with 3 total findings
        |""".stripMargin
    assert(got == want, s"---- got ----\n$got\n---- want ----\n$want")
  }

  test("single-rule summary uses EXECUTION SUMMARY with the rule name") {
    val fw = tinyFramework
    val one = Framework("tiny1", fw.rules.take(1))
    val txt = Formatters.renderText(Formatters.execute(spark, one), color = false)
    assert(txt.contains("EXECUTION SUMMARY - Public storage"))
    assert(!txt.contains("Rules executed:"))
  }

  test("json rendering carries the reference result fields") {
    val results = Formatters.execute(spark, tinyFramework)
    val js = Formatters.renderJson(results)
    val want =
      """[{"rule_id": "R1", "rule_name": "Public storage", """ +
      """"rule_description": "Publicly accessible storage", """ +
      """"counter": {"current_fact": 1, "total_facts": 1, """ +
      """"total_findings": 4, "total_assets": 7, "total_failing": 3, """ +
      """"total_passing": 4}, "facts": [{"fact_id": "tiny-open-buckets", """ +
      """"fact_name": "Open buckets", """ +
      """"fact_description": "Buckets with public access", """ +
      """"fact_provider": "storage", "findings": [""" +
      """{"asset_id": "b1", "detail": "acl"}, """ +
      """{"asset_id": "b1", "detail": "public-write"}, """ +
      """{"asset_id": "b2", "detail": "public-read"}, """ +
      """{"asset_id": "b3", "detail": "public-read"}], """ +
      """"total_assets": 7, "failing": 3, "passing": 4, """ +
      """"identity_fields": ["asset_id"], "asset_label": "Bucket", """ +
      """"asset_id_field": "asset_id"}], """ +
      """"rule_tags": ["storage", "exposure"], "rule_frameworks": """ +
      """[{"name": "CIS Amazon Web Services Foundations Benchmark", """ +
      """"short_name": "CIS", "requirement": "2.1.1", "scope": "aws", """ +
      """"revision": "6.0.0", """ +
      """"control_title": "Ensure S3 buckets block public access"}]}, """ +
      """{"rule_id": "R2", "rule_name": "Credential hygiene", """ +
      """"rule_description": "Stale credentials", """ +
      """"counter": {"current_fact": 1, "total_facts": 1, """ +
      """"total_findings": 0, "total_assets": 0, "total_failing": 0, """ +
      """"total_passing": 0}, "facts": [{"fact_id": "tiny-stale-keys", """ +
      """"fact_name": "Stale keys", """ +
      """"fact_description": "Access keys unused for 90 days", """ +
      """"fact_provider": "iam", "findings": [], "total_assets": null, """ +
      """"failing": 0, "passing": null, "identity_fields": ["asset_id"], """ +
      """"asset_label": "Key", "asset_id_field": "asset_id"}], """ +
      """"rule_tags": [], "rule_frameworks": []}]"""
    assert(js == want, s"---- got ----\n$js\n---- want ----\n$want")
  }

  test("summary banner mirrors the reference edge: all-passing count facts " +
      "+ a non-count fact with findings prints 'with 0 total findings'") {
    // reference condition (formatters.py:176): total_failing > 0 OR
    // total_findings > 0 prints the cyan completed-with-N line, with
    // N = total_failing whenever total_assets > 0 — so this mix prints 0
    val clean = Fact(
      factId = "tiny-clean", name = "Clean buckets", assetLabel = "Bucket",
      query = { s =>
        import s.implicits._
        Seq.empty[(String, String)].toDF("asset_id", "detail")
      },
      description = "No failing buckets", module = "storage",
      countQuery = Some { s =>
        import s.implicits._; Seq(5L).toDF("count")
      })
    val info = Fact(
      factId = "tiny-info", name = "Informational", assetLabel = "Note",
      query = { s =>
        import s.implicits._
        Seq(("n1", "fyi")).toDF("asset_id", "detail")
      },
      description = "Non-count informational fact", module = "misc")
    val fw = Framework("edge", Seq(
      Rule("R1", "Clean", Seq(clean)), Rule("R2", "Info", Seq(info))))
    val txt = Formatters.renderText(Formatters.execute(spark, fw), color = false)
    assert(txt.contains("Rule execution completed with 0 total findings"))
    assert(!txt.contains("no findings"))
  }

  test("maxFindings caps collection and marks truncation") {
    val fw = Framework("cap", Seq(tinyFramework.rules.head))
    val results = Formatters.execute(spark, fw, maxFindings = 2)
    val f = results.head.facts.head
    assert(f.findings.size == 2 && f.truncated && f.nFindings == 4)
    assert(Formatters.renderJson(results).contains("\"findings_truncated\": true"))
  }

  test("SyncCli --rules-run renders the reference library (CLI assertion)") {
    val cfg = SyncCli.parseArgs(
      Seq("--rules-run", "text", "--sf-dir", "/root/testdata/sf0.001"))
    val txt = SyncCli.rulesReport(spark, cfg)
    // the reference CLI test's own assertion, plus the summary banner
    assert(txt.contains("Rule execution completed"))
    assert(txt.contains("OVERALL SUMMARY"))
    assert(txt.contains("Rules executed: "))
    val jsCfg = cfg.copy(rulesRun = Some("json"))
    val js = SyncCli.rulesReport(spark, jsCfg)
    assert(js.startsWith("[{\"rule_id\": ") && js.endsWith("}]"))
    assert(js.contains("\"counter\": "))
  }

  test("unknown --rules-run format aborts with guidance") {
    val e = intercept[IllegalArgumentException] {
      SyncCli.parseArgs(Seq("--rules-run", "xml"))
    }
    assert(e.getMessage.contains("text or json"))
  }
}
