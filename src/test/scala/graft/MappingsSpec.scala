package graft

import graft.ontology.{MappingData, Mappings}
import graft.ontology.Mappings.{FieldMapping => F, NodeMapping => N}

/** The declarative mapping interpreter (specs.py dataclass semantics →
  * [[Mappings.project]]) and the ported roles/groups corpora. */
class MappingsSpec extends SparkSuite {
  import spark.implicits._

  test("project renames, stamps _ont_source, applies static/mapping") {
    val df = Seq((1L, "admin", "CUSTOM"), (2L, "viewer", "BASIC"),
      (3L, "ops", "LEGACY")).toDF("id", "title", "role_type")
    val node = N("GCPRole", Seq(
      F("name", "title", required = true),
      F("type", "role_type", specialHandling = Some("mapping"),
        extraMap = Map("BASIC" -> "builtin", "CUSTOM" -> "custom")),
      F("scope", specialHandling = Some("static_value"), extraValue = Some("project"))))
    val out = Mappings.project(df, "gcp", node)
      .select("id", "_ont_name", "_ont_type", "_ont_scope", "_ont_source")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), r.getString(3), r.getString(4))).toSet
    assert(out == Set(
      (1L, "admin", Some("custom"), "project", "gcp"),
      (2L, "viewer", Some("builtin"), "project", "gcp"),
      // unmapped provider value → NULL, never passthrough (specs.py:30-31)
      (3L, "ops", None, "project", "gcp")))
  }

  test("composite-node pattern: missing node_field skips the clause") {
    // querybuilder.py:346-357 — several schemas share a label, each
    // carrying a field subset; absent fields must not error
    val df = Seq((1L, "g1")).toDF("id", "name")
    val node = N("AnyGroup", Seq(
      F("name", "name", required = true),
      F("description", "description"), // absent on this frame
      F("email", "mail")))             // absent on this frame
    val out = Mappings.project(df, "m", node)
    assert(out.columns.contains("_ont_name"))
    assert(!out.columns.contains("_ont_description"))
    assert(!out.columns.contains("_ont_email"))
  }

  test("or/coalesce drop absent EXTRAS; a missing PRIMARY skips the clause") {
    // reference rule (querybuilder.py:295-310): coalesce/or lead with
    // node_field — when the provider frame lacks IT the whole clause is
    // skipped (debug-logged), even if extras are present; missing extras
    // are dropped silently.
    val df = Seq((1L, true, "a"), (2L, false, null.asInstanceOf[String]))
      .toDF("id", "flag", "alt")
    val node = N("X", Seq(
      F("active", "flag", specialHandling = Some("or_boolean"),
        extraFields = Seq("missing1", "missing2")),
      F("display", "missing", specialHandling = Some("coalesce"),
        extraFields = Seq("alt")),
      F("fallback", "alt", specialHandling = Some("coalesce"),
        extraFields = Seq("also_missing"))))
    val out = Mappings.project(df, "m", node)
    assert(out.columns.contains("_ont_active"))
    assert(!out.columns.contains("_ont_display")) // primary missing → skipped
    assert(out.columns.contains("_ont_fallback")) // extras dropped, primary rides
    val rows = out.select("id", "_ont_active", "_ont_fallback").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2)))).toSet
    assert(rows == Set((1L, true, Some("a")), (2L, false, None)))
  }

  test("boolean strategies follow the generated-Cypher templates exactly") {
    // querybuilder.py:24-85 — to_boolean: coalesce(toBooleanOrNull(x),
    // x IS NOT NULL); invert_boolean: NOT(coalesce(toBooleanOrNull(x),
    // false)); equal_boolean: x IN [values] with Cypher null-IN-null.
    val df = Seq(
      (1L, "true", "accepted"), (2L, "FALSE", "pending"), (3L, "duo", "bypass"),
      (4L, null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("id", "raw", "status")
    val node = N("X", Seq(
      F("to", "raw", specialHandling = Some("to_boolean")),
      F("inv", "raw", specialHandling = Some("invert_boolean")),
      F("eq", "status", specialHandling = Some("equal_boolean"),
        extraValues = Seq("accepted", "bypass"))))
    val out = Mappings.project(df, "m", node)
      .select("id", "_ont_to", "_ont_inv", "_ont_eq").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toSet
    assert(out == Set(
      (1L, true, false, Some(true)),    // parsed true; member
      (2L, false, true, Some(false)),   // case-insensitive parse; non-member
      (3L, true, true, Some(true)),     // unparseable non-null → true / NOT false
      (4L, false, true, None)))         // null → false / true / null passthrough
  }

  test("unknown special_handling fails loudly") {
    val df = Seq((1L, "x")).toDF("id", "name")
    val node = N("X", Seq(F("name", "name", specialHandling = Some("bogus"))))
    val ex = intercept[IllegalArgumentException](Mappings.project(df, "m", node))
    assert(ex.getMessage.contains("bogus"))
  }

  test("ported corpora match the reference's shape (roles.py/groups.py)") {
    // 12 role modules over 15 labels; 20 group modules over 22 labels
    assert(MappingData.roles.size == 12)
    assert(MappingData.roles.flatMap(_.nodes).size == 16)
    assert(MappingData.groups.size == 20)
    assert(MappingData.groups.flatMap(_.nodes).size == 22)
    // every node mapping requires name (roles.py:5-8, groups.py:5-8)
    (MappingData.roles ++ MappingData.groups).flatMap(_.nodes).foreach { n =>
      assert(Mappings.requiredFields(n) == Seq("_ont_name"), n.nodeLabel)
    }
    // WorkOS maps the SAME provider field to two ontology fields
    val workos = MappingData.roles.find(_.moduleName == "workos").get.nodes.head
    assert(workos.fields.count(_.nodeField == "type") == 2)
  }

  test("tenants corpus matches the reference's shape (tenants.py)") {
    // 30 modules in TENANTS_ONTOLOGY_MAPPING registration order,
    // 38 node mappings over 37 labels (AzureTenant mapped twice)
    assert(MappingData.tenants.size == 30)
    val nodes = MappingData.tenants.flatMap(_.nodes)
    assert(nodes.size == 38)
    assert(nodes.map(_.nodeLabel).distinct.size == 37)
    assert(nodes.map(_.nodeLabel).diff(nodes.map(_.nodeLabel).distinct) ==
      Seq("AzureTenant"))
    // three stamp-only mappings carry no fields at all
    assert(nodes.filter(_.fields.isEmpty).map(_.nodeLabel).sorted ==
      Seq("AzureTenant", "CrowdstrikeTenant", "SubImageTenant"))
    // every mapping that HAS a name requires it (tenants.py contract)
    nodes.filter(_.fields.nonEmpty).foreach { n =>
      assert(Mappings.requiredFields(n) == Seq("_ont_name"), n.nodeLabel)
    }
    // databricks feeds name AND domain from the same host column
    val dbw = nodes.find(_.nodeLabel == "DatabricksWorkspace").get
    assert(dbw.fields.count(_.nodeField == "host") == 2)
  }

  test("empty-field mapping stamps _ont_source only") {
    val df = Seq(("t1", "x")).toDF("id", "junk")
    val out = Mappings.project(df, "azure", N("AzureTenant", Nil))
    assert(out.columns.sorted.toSeq == Seq("_ont_source", "id", "junk"))
    assert(out.select("_ont_source").head.getString(0) == "azure")
  }

  test("cves corpus matches the reference's shape (cves.py)") {
    assert(MappingData.cves.size == 8)
    val nodes = MappingData.cves.flatMap(_.nodes)
    assert(nodes.size == 8)
    // the canonical key is cve_id and it is NOT creation-required in
    // the corpus (semgrep hybrid rows may be advisory-only)
    nodes.foreach { n =>
      assert(n.fields.exists(_.ontologyField == "cve_id"), n.nodeLabel)
      assert(!n.fields.find(_.ontologyField == "cve_id").get.required)
    }
    // only semgrep marks a required field (title, for SecurityIssue rows)
    assert(nodes.filter(_.fields.exists(_.required)).map(_.nodeLabel) ==
      Seq("SemgrepSCAFinding"))
    // the NVD feed carries the full shape; 4 severity maps are distinct
    assert(nodes.find(_.nodeLabel == "CVE").get.fields.size == 21)
    val sevMaps = nodes.flatMap(_.fields)
      .filter(f => f.ontologyField == "base_severity")
      .map(_.extraMap).distinct
    assert(sevMaps.size == 4)
  }

  test("indexedFields excludes unindexed text globally (specs.py:16-18)") {
    // description is indexed=false on 14 group providers → excluded for
    // the whole category even though some providers never mark it
    assert(Mappings.indexedFields(MappingData.groups) ==
      Seq("_ont_email", "_ont_name"))
    assert(Mappings.indexedFields(MappingData.roles) ==
      Seq("_ont_name", "_ont_scope", "_ont_type"))
  }
}
