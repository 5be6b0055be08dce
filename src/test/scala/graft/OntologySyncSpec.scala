package graft

import org.apache.spark.sql.functions._

import graft.ontology.{CanonicalSync, Packages}
import graft.ontology.Mappings.{FieldMapping => F, ModuleMapping => M, NodeMapping => N}

/** The canonical-sync layer: PURL normalization + Package derivation
  * (cartography/intel/trivy/util.py:13-141,
  * intel/ontology/packages.py:55-102) and the source-merge /
  * mutual-unique-link primitives (intel/ontology/utils.py:85-153,
  * analysis/ontology/analysis.py:398-460). */
class OntologySyncSpec extends SparkSuite {
  import spark.implicits._

  private def parse(purl: String): Option[(String, String, String, String)] = {
    val r = Seq(Option(purl)).toDF("p")
      .select(Packages.parsePurl(col("p")).as("x"))
      .select("x.ptype", "x.namespace", "x.name", "x.version").head
    if (r.isNullAt(0)) None
    else Some((r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
  }

  test("parsePurl: scopes decode, versions split at the LAST @, type folds") {
    assert(parse("pkg:npm/%40types/node@18.0.0") ==
      Some(("npm", "@types", "node", "18.0.0")))
    assert(parse("pkg:PyPI/requests@2.28.0") ==
      Some(("pypi", null, "requests", "2.28.0")))
    // no version; multi-segment namespace joins with '/'
    assert(parse("pkg:golang/github.com/stretchr/testify") ==
      Some(("golang", "github.com/stretchr", "testify", null)))
    // qualifiers and subpath are stripped before splitting
    assert(parse("pkg:deb/debian/curl@7.50.3-1?arch=i386#sub/path") ==
      Some(("deb", "debian", "curl", "7.50.3-1")))
    // invalid / null → null struct (reference parse_purl returns None)
    assert(parse("oci://thing") == None)
    assert(parse(null) == None)
  }

  test("normalized ids: purl-first, bare fallback, cross-tool case/separator folding") {
    val df = Seq(
      ("pkg:pypi/PyNaCl@1.5.0", null, null, null),
      (null, "jaraco.context", "5.3.0", "python-pkg"),
      (null, "Lodash", "4.17.21", "NPM"),
      (null, "x", null, "deb"), // no version → versioned id null
      (null, null, null, null))
      .asInstanceOf[Seq[(String, String, String, String)]]
      .toDF("purl", "name", "version", "type")
    val out = df.select(
      Packages.normalizedPackageId(col("purl"), col("name"), col("version"),
        col("type")).as("vid"),
      Packages.normalizedPackageNameId(col("purl"), col("name"),
        col("type")).as("pid")).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSeq
    assert(out == Seq(
      (Some("pypi|pynacl|1.5.0"), Some("pypi|pynacl")),
      (Some("python-pkg|jaraco-context|5.3.0"), Some("python-pkg|jaraco-context")),
      (Some("npm|lodash|4.17.21"), Some("npm|lodash")),
      (None, Some("deb|x")),
      (None, None)))
  }

  test("packagesFromVersions: keyless rows skip, tools merge, version set sorts") {
    val versions = Seq(
      ("pkg:pypi/PyNaCl@1.5.0", null, "pypi|pynacl|1.5.0"),
      (null, "pynacl", "pypi|pynacl|1.4.0"),         // Syft-style bare row, merges
      ("pkg:npm/%40scope/a@1.0.0", null, "npm|@scope/a|1.0.0"),
      (null, null, "zzz"))                           // no key → skipped
      .asInstanceOf[Seq[(String, String, String)]]
      .toDF("purl", "name", "normalized_id")
      .withColumn("type", when(col("name").isNotNull, lit("pypi")))
    val out = Packages.packagesFromVersions(versions).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), r.getSeq[String](4))).toSet
    assert(out == Set(
      ("pypi|pynacl", "pypi", "pynacl", None,
        Seq("pypi|pynacl|1.4.0", "pypi|pynacl|1.5.0")),
      ("npm|@scope/a", "npm", "@scope/a", Some("@scope"),
        Seq("npm|@scope/a|1.0.0"))))
  }

  test("sourceNodes: alias + selection, truthiness gate, per-field backfill") {
    val mods = Seq(
      M("microsoft", Seq(N("EntraUser", Seq(
        F("email", "mail", required = true), F("fullname", "display_name"))))),
      M("gsuite", Seq(N("GSuiteUser", Seq(
        F("email", "email", required = true), F("active", "suspended"))))),
      M("okta", Seq(N("OktaUser", Seq(
        F("email", "email", required = true), F("fullname", "okta_name"))))))
    val provider = Map(
      "EntraUser" -> Seq(
        ("m1", "a@x", "Alice"), ("m2", "", "Gated"), ("m3", null, "NullMail"))
        .asInstanceOf[Seq[(String, String, String)]]
        .toDF("id", "mail", "display_name"),
      "GSuiteUser" -> Seq(("g1", "a@x", false), ("g2", "b@x", true))
        .toDF("id", "email", "suspended"),
      "OktaUser" -> Seq(("o1", "a@x", "ShouldLose"), ("o2", "c@x", "Carol"))
        .toDF("id", "email", "okta_name"))
    // "entra" aliases to microsoft; okta EXCLUDED by selection
    val sel = CanonicalSync.sourceNodes(mods, provider, "email",
      Seq("entra", "gsuite"))
    val rows = sel.select("email", "fullname", "active").collect()
      .map(r => (r.getString(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getBoolean(2)))).toSet
    // a@x: fullname from microsoft, active BACKFILLED from gsuite's row —
    // field-level merge, not whole-row winner; "" and null emails dropped
    assert(rows == Set(
      ("a@x", Some("Alice"), Some(false)),
      ("b@x", None, Some(true))))
    // empty sourceOfTruth = every module, registration order
    val all = CanonicalSync.sourceNodes(mods, provider, "email")
    assert(all.filter(col("email") === "c@x").count() == 1)
    assert(all.filter(col("email") === "a@x")
      .select("fullname").head.getString(0) == "Alice") // microsoft beats okta
  }

  // utils.py:112-135 — the `_has_ontology` branch of the canonical read
  test("sourceNodes _has_ontology: per-source _ont_source reads merge ahead of provider rows") {
    val ontMod = M("ontology", Seq(N("UserAccount", Seq(
      F("email", "_ont_email", required = true),
      F("fullname", "_ont_fullname"),
      F("active", "_ont_active")))))
    val canon = Seq(
      ("c1", "microsoft", "a@x", "CanonMs", null),
      ("c2", "gsuite", "a@x", "CanonGs", "true"),
      ("c3", "gsuite", "b@x", "CanonB", null),
      ("c4", "slack", "a@x", "SlackLeaks", "false"), // outside the sot
      ("c5", "ontology", "e@x", "OntStamp", null))
      .asInstanceOf[Seq[(String, String, String, String, String)]]
      .toDF("id", "_ont_source", "_ont_email", "_ont_fullname", "_ont_active")

    // users-shape category: ONLY the pseudo-module. Unsupported sources
    // skip silently (no provider modules at all), the canonical reads
    // run per source in sot order, slack rows are filtered out.
    val usersOnly = CanonicalSync.sourceNodes(Seq(ontMod), Map.empty, "email",
      Seq("entra", "gsuite"),
      canonical = Map("UserAccount" -> canon))
    val got = usersOnly.select("email", "fullname", "active").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    // a@x: fullname from microsoft (source order), active backfilled from
    // gsuite; e@x absent (its stamp 'ontology' is not in the selection)
    assert(got == Set(
      ("a@x", "CanonMs", Some("true")),
      ("b@x", "CanonB", None)))

    // mixed category: canonical reads take priority over a provider
    // module read for the SAME source (the reference runs them first)
    val gsProv = M("gsuite", Seq(N("GSuiteUser", Seq(
      F("email", "email", required = true), F("fullname", "name")))))
    val provider = Map("GSuiteUser" ->
      Seq(("g1", "a@x", "ProvLoses"), ("g2", "d@x", "ProvOnly"))
        .toDF("id", "email", "name"))
    val mixed = CanonicalSync.sourceNodes(Seq(ontMod, gsProv), provider,
      "email", Seq("gsuite"), canonical = Map("UserAccount" -> canon))
    val byMail = mixed.select("email", "fullname").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byMail == Map("a@x" -> "CanonGs", "b@x" -> "CanonB",
      "d@x" -> "ProvOnly"))

    // empty sot defaults to every registry key INCLUDING "ontology":
    // the filtered read picks _ont_source='ontology' stamps first, then
    // the provider loop re-reads the canonical label UNFILTERED — every
    // row flows, the 'ontology'-stamped ones win conflicts
    val allDefault = CanonicalSync.sourceNodes(Seq(ontMod), Map.empty,
      "email", Nil, canonical = Map("UserAccount" -> canon))
    val full = allDefault.select("email", "fullname").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(full.keySet == Set("a@x", "b@x", "e@x"))
    assert(full("e@x") == "OntStamp")
    // unfiltered read's own order: (prio, id) — c1 beats c2/c4 on a@x
    assert(full("a@x") == "CanonMs")
  }

  test("hostname matchlink guard: duplicates on EITHER side skip the whole link") {
    // devices.py:55-97 — the guard is whole-relation, not row-wise
    val uniqueDevices = Seq("h1", "h2", "h3").toDF("hostname")
    val dupDevices = Seq("h1", "h1", "h2").toDF("hostname")
    val uniqueTarget = Seq(("t1", "h1"), ("t2", "h9")).toDF("id", "dns")
    val dupTarget = Seq(("t1", "h1"), ("t2", "h1")).toDF("id", "dns")
    val out = CanonicalSync.guardedHostnameLinks(uniqueDevices, "hostname",
      Seq(("Good", uniqueTarget, "dns"), ("Bad", dupTarget, "dns")))
    assert(out.map { case (l, ok, df) => (l, ok, if (ok) df.count() else -1L) } ==
      Seq(("Good", true, 1L), ("Bad", false, -1L)))
    // device-side duplicates veto EVERY target, even unique ones
    val vetoed = CanonicalSync.guardedHostnameLinks(dupDevices, "hostname",
      Seq(("Good", uniqueTarget, "dns")))
    assert(vetoed.map { case (_, ok, _) => ok } == Seq(false))
    // nulls don't count toward uniqueness on either side (WHERE IS NOT NULL)
    assert(CanonicalSync.allValuesUnique(
      Seq(Some("a"), None, None).toDF("h"), "h"))
  }

  test("sourceNodes plans ONE id shuffle (partial-agg merge, no window)") {
    val mods = Seq(
      M("a", Seq(N("A", Seq(F("email", "email", required = true), F("fullname", "n"))))),
      M("b", Seq(N("B", Seq(F("email", "email", required = true), F("active", "x"))))))
    val provider = Map(
      "A" -> (1L to 50L).map(i => (s"a$i", s"u$i@x", s"n$i")).toDF("id", "email", "n"),
      "B" -> (1L to 50L).map(i => (s"b$i", s"u${i % 30}@x", i % 2 == 0))
        .toDF("id", "email", "x"))
    val plan = CanonicalSync.sourceNodes(mods, provider, "email")
      .queryExecution.executedPlan.toString
    // the per-field first-non-null merge is min-over-structs inside ONE
    // hash aggregation — partial agg combines map-side (hot-key safe),
    // one Exchange on the id: the operator's shuffle contract at 100×
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 id shuffle, got $exchanges:\n$plan")
    // struct-typed min plans as SortAggregate; the load-bearing part is
    // the PARTIAL phase below the Exchange — the map-side combine that
    // makes a hot shared email reduce per input partition
    assert(plan.contains("partial_min"),
      s"expected a map-side partial aggregation merge:\n$plan")
  }

  test("relabelWhere moves only matched rows; null predicate stays; strip is a no-op when absent") {
    import graft.graph.{Graph, Migrations}
    val pkgs = Seq(("p1", Some("1.0"), true), ("p2", None, true),
      ("p3", Some("1.1"), false)).toDF("id", "version", "is_ontology")
    val g0 = Graph().withNodes("Package", pkgs)
    val g1 = Migrations.relabelWhere(g0, "Package", "PackageVersion",
      col("version").isNotNull && col("is_ontology"))
    assert(g1.nodeTable("Package").select("id").as[String].collect().toSet ==
      Set("p2", "p3")) // null version and non-ontology both stay
    assert(g1.nodeTable("PackageVersion").select("id").as[String]
      .collect().toSet == Set("p1")) // target created on demand
    // merging into an existing target keeps its rows
    val g2 = Migrations.relabelWhere(
      g1.withNodes("Other", Seq(("o1", Some("x"), true))
        .toDF("id", "version", "is_ontology")),
      "Other", "PackageVersion", col("version").isNotNull)
    assert(g2.nodeTable("PackageVersion").count() == 2)
    // stripping an absent property is a no-op, present one drops the column
    val g3 = Migrations.stripProperty(g2, "Package", "no_such_prop")
    assert(g3.nodeTable("Package").columns.sameElements(
      g2.nodeTable("Package").columns))
    val g4 = Migrations.stripProperty(g3, "Package", "version")
    assert(!g4.nodeTable("Package").columns.contains("version"))
  }

  test("mutualUniqueLink: ambiguity on EITHER side kills the pair") {
    val cands = Seq(
      ("d1", "i1"), ("d1", "i1"),            // dup evidence, one pair
      ("d2", "i2"), ("d2", "i3"),            // device ambiguous
      ("d3", "i4"), ("d4", "i4"),            // instance ambiguous
      ("d5", "i5")).toDF("dev", "inst")
    val out = CanonicalSync.mutualUniqueLink(cands, "dev", "inst")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("d1", "i1"), ("d5", "i5")))
  }
}
