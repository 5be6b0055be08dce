package graft

import graft.permissions.Permissions
import graft.permissions.Permissions.PolicyStatement

/** Chunked bitmask IAM evaluation: >62 statements span mask blocks;
  * allow in one block must compose with deny in another; condition
  * annotation follows the reference's collect_edge_conditions. */
class PermissionsSpec extends SparkSuite {
  import spark.implicits._

  private val principals = Seq((1L, "alice"), (2L, "bob")).toDF("id", "name")
  private val resources = Seq((10L, "arn:x:doc"), (20L, "arn:x:img")).toDF("id", "arn")

  private def pad(n: Int): Seq[PolicyStatement] =
    (0 until n).map(i => PolicyStatement(s"pad$i", "Allow", s"nobody$i", s"nothing$i"))

  test("allow in block 1 + deny in block 2 still deny-overrides") {
    // 70 pads push the allow into block 0 positions and the deny into block 2
    val stmts = (PolicyStatement("a", "Allow", "alice", "arn:x:*") +: pad(70)) :+
      PolicyStatement("d", "Deny", "*", "*:img")
    val out = Permissions.evaluate(principals, resources, stmts)
      .select("principal_id", "resource_id").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 10L)))
  }

  test("grant whose only allow is in the second block is found") {
    val stmts = pad(65) :+ PolicyStatement("a", "Allow", "bob", "arn:x:doc")
    val out = Permissions.evaluate(principals, resources, stmts)
      .select("principal_id", "resource_id").as[(Long, Long)].collect().toSet
    assert(out == Set((2L, 10L)))
  }

  test("condition annotation: unconditional path wins, else keys union") {
    val cond1 = """[{"IpAddress": {"aws:SourceIp": "10.0.0.0/8"}}]"""
    val cond2 = """{"StringEquals": {"aws:username": "alice", "aws:userid": "1"}}"""
    val stmts = Seq(
      PolicyStatement("c1", "Allow", "alice", "arn:x:doc", condition = Some(cond1)),
      PolicyStatement("c2", "Allow", "alice", "arn:x:doc", condition = Some(cond2)),
      PolicyStatement("u", "Allow", "alice", "arn:x:img"), // unconditional
      PolicyStatement("c3", "Allow", "bob", "arn:x:*", condition = Some(cond1)),
      PolicyStatement("u2", "Allow", "bob", "arn:x:doc")) // makes bob/doc unconditional
    val out = Permissions.evaluate(principals, resources, stmts)
      .select("principal_id", "resource_id", "has_condition", "condition_keys")
      .as[(Long, Long, Boolean, String)].collect().toSet
    assert(out == Set(
      (1L, 10L, true, "aws:SourceIp,aws:userid,aws:username"),
      (1L, 20L, false, ""),
      (2L, 10L, false, ""),
      (2L, 20L, true, "aws:SourceIp")))
  }

  test("YAML mapping file: valid entries parse, invalid skipped, missing file = empty") {
    val yaml =
      """- target_label: AWSS3Bucket
        |  permissions:
        |  - S3:GetObject
        |  relationship_name: CAN_READ
        |- target_label: NoRelName
        |  permissions:
        |  - x:y
        |""".stripMargin
    val ms = Permissions.parseRelationshipMappings(yaml)
    assert(ms == Seq(Permissions.RelationshipMapping(
      "AWSS3Bucket", Seq("S3:GetObject"), "CAN_READ")))
    assert(Permissions.parseRelationshipMappingsFile("/nonexistent.yaml").isEmpty)
  }

  test("action wildcards gate which statements apply to a permission") {
    val s = PolicyStatement("s", "Allow", "*", "*", actionPattern = "s3:Get*")
    assert(s.appliesToPermission("s3:GetObject"))
    assert(s.appliesToPermission("S3:getobject")) // case-insensitive
    assert(!s.appliesToPermission("s3:PutObject"))
    val any = PolicyStatement("a", "Allow", "*", "*") // default action "*"
    assert(any.appliesToPermission("anything:AtAll"))
  }

  test("only the config-sized decisions table carries a broadcast hint") {
    // Scale guard: hinting a corpus-sized side (principals or the
    // principal×decision expansion) caps the operator at the 8 GB
    // broadcast ceiling / driver memory at 100× principal counts. The
    // logical plan must contain exactly one broadcast hint — the K-row
    // distinct-mask decisions table — and the final expansion join must
    // be hint-free so it shuffles (AQE may still locally convert it at
    // tiny sizes, which is fine; the hint is what must not exist).
    val stmts = Seq(PolicyStatement("a", "Allow", "*", "arn:x:*"))
    val df = Permissions.evaluate(principals, resources, stmts)
    val hints = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        Seq(j.hint.leftHint, j.hint.rightHint).flatten.filter(_.strategy.isDefined)
    }.flatten
    assert(hints.size == 1,
      s"expected exactly one broadcast hint (decisions), got ${hints.size}")
  }

  test("malformed condition blob stays conditional with no keys") {
    val stmts = Seq(
      PolicyStatement("m", "Allow", "alice", "arn:x:doc", condition = Some("{not json")))
    val out = Permissions.evaluate(principals, resources, stmts)
      .select("principal_id", "has_condition", "condition_keys")
      .as[(Long, Boolean, String)].collect().toSet
    assert(out == Set((1L, true, "")))
  }
}
