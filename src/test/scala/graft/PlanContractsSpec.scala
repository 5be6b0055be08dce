package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

/** Physical-plan contract tests: the properties the 100 TB design
  * review checks by hand — filters reaching the parquet scan, small
  * sides broadcast, rank-filters becoming WindowGroupLimit, and NO
  * nested-loop/cartesian fallbacks where an equi-join is intended —
  * pinned as assertions so a refactor that silently degrades a plan
  * fails CI instead of a benchmark much later. Markers are stable
  * physical-operator names, not fragile plan text. */
class PlanContractsSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    val p = df.queryExecution.explainString(FormattedMode)
    DriverHygiene.releasePersisted(spark, gc = false)
    p
  }

  test("incremental LSH probe: batch side broadcasts over the index scan, no cartesian") {
    // the 100-TB contract of the persisted growing sinks: the probe may
    // SCAN the accumulated signature store, but must never shuffle it —
    // the batch's band table is the small side and broadcasts, the
    // verification joins stream over the store the same way
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val idxDir = java.nio.file.Files
      .createTempDirectory("plan-probe-idx").toString + "/idx"
    val index = Dedup.lshIndexArtifact(spark,
      Dedup.shingleTable(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text"),
      idxDir)
    val probe = Dedup.incrementalMinhashIndexed(index,
      Dedup.shingleTable(docs.filter(col("doc_id") % 5 === 0).limit(50),
        "doc_id", "text"), 800000L)
    probe.collect() // AQE decides join strategies at runtime
    val p = probe.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), "batch side must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    DriverHygiene.releasePersisted(spark, gc = false)
  }

  test("pruned store probe: batch side broadcasts over the bucket-pruned scan, no cartesian") {
    // the bucketed-store form of the contract above: the probe reads
    // ONLY the batch's band buckets (path-pruned), and what it does read
    // is still scanned-not-shuffled — the batch band table broadcasts
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val st = graft.streaming.GrowingDedupState(java.nio.file.Files
      .createTempDirectory("plan-probe-store").toString, epoch = "seed")
    st.appendSignatures(Dedup.signatures(Dedup.shingleTable(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")), 0L)
    val probe = st.probeIndexed(
      Dedup.shingleTable(docs.filter(col("doc_id") % 5 === 0).limit(50),
        "doc_id", "text"), 800000L)
    probe.collect() // AQE decides join strategies at runtime
    val p = probe.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), "candidate side must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    DriverHygiene.releasePersisted(spark, gc = false)
  }

  test("table reads declare the inferred schema and run no job") {
    val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    // both settings of the nanos switch the events loader flips
    Seq("false", "true").foreach { nanos =>
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanos) {
        names.foreach { n =>
          assert(Tables.table(spark, dir, n).schema ==
            spark.read.parquet(s"$dir/$n.parquet").schema, s"$n, nanosAsLong=$nanos")
        }
      }
    }
    val (_, jobs) = jobStarts(Tables.lineitem(spark, dir))
    assert(jobs.isEmpty, s"building the lineitem read ran ${jobs.size} jobs")
  }

  test("attribution: filters push to the scan, conversions broadcast, rank-filter is a group limit") {
    val p = plan("attribution_multi_touch")
    assert(p.contains("PushedFilters: [In(event_type"), "touch filter must reach parquet")
    assert(p.contains("EqualTo(event_type,purchase)"), "conversion filter must reach parquet")
    assert(p.contains("BroadcastHashJoin"), "user join must broadcast the small side")
    assert(p.contains("WindowGroupLimit"), "rk = 1 must plan as a group limit, not a full sort-rank")
    assert(!p.contains("CartesianProduct"))
  }

  test("core aggregation: projection pruning reaches the scan") {
    val p = plan("core_agg_events")
    assert(p.contains("ReadSchema"), "formatted plan should expose the scan schema")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("graph triangles: equi-joins only, no nested-loop fallback") {
    val p = plan("graph_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("k4 census: the closing ties are in-row adjacency intersects") {
    val p = plan("graph_k4_census")
    assert(p.contains("array_intersect"),
      "ties must close in-row over the adjacency arrays (no candidate join chain)")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("fellegi-sunter classify: the pattern table broadcasts") {
    val pairs = AdvancedQueriesTestHook.fsPairs(spark, dir)
    val table = graft.operators.EntityResolution
      .patternTable(pairs, Seq("name_agree", "seg_agree", "cc_agree"), "is_match")
    val p = graft.operators.EntityResolution
      .classify(pairs, table, Seq("name_agree", "seg_agree", "cc_agree"),
        100000L, 10000000L)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), "classification must broadcast the table side")
  }

  test("t-closeness: sensitive-domain sides broadcast into the class census") {
    val p = plan("privacy_t_closeness")
    assert(p.contains("BroadcastExchange"), "global distribution + total must broadcast")
    assert(!p.contains("SortMergeJoin ") || p.contains("BroadcastExchange"))
  }

  test("tenant attach: the dimension side broadcasts") {
    val p = plan("core_edge_attach_subresource")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("as-of join: no cartesian fallback, group limit applies") {
    val p = plan("join_asof")
    assert(!p.contains("CartesianProduct"))
  }

  // ---- battery-wide sweep ----------------------------------------------
  //
  // Every SparkEntry query plan is audited for the three 100 TB
  // anti-patterns:
  //  * CartesianProduct — never acceptable;
  //  * BroadcastNestedLoopJoin — acceptable ONLY when every cross /
  //    non-equi join in the query has a provably tiny side (logical
  //    maxRows ≤ 1000: broadcast scalars, decile tables, bounded mask
  //    tuples) or the query is on the named theta-join allowlist;
  //  * partition-less Window — acceptable only on the named allowlist of
  //    bounded-domain windows (the "aggregate-then-window" shape where
  //    the windowed axis is a constant, never data-sized).

  /** Theta/cross joins that are nested-loop by design, each with the
    * documented bound that keeps them sane at scale. */
  private val thetaJoinAllow: Map[String, String] = Map(
    "join_fuzzy_contains" -> "fuzzy containment is a documented BNLJ over a capped dimension side",
    "dedup_cosine_neardup" -> "exact all-pairs cosine is the declared EXACTNESS BASELINE the bucketed/LSH variants are judged against (Dedup.cosineNearDup scaladoc)",
    "crosslink_pairs" -> "matchlink cartesian is the reference's explicit cross-product semantics over deduped tiny sides",
    "permission_mapping_file" -> "decision table = distinct (p_masks, r_masks) combos, config-sized by the bitmask design (Permissions.evaluate scaladoc)",
    "permission_relationships" -> "same bounded mask-combo decision table",
    "permission_relationships_sync" -> "same bounded mask-combo decision table",
    "privacy_t_closeness" -> "broadcast global sensitive-value distribution - t-closeness is defined over a small categorical sensitive domain",
    "sim_ann_ivfpq" -> "serving-side coarse-centroid broadcast read back from the persisted K-row index (localCheckpoint erases the maxRows bound)",
    "sim_ann_recall" -> "recall gate joins the K-row centroid table on both legs; bound erased by the checkpoint"
  )

  /** Global windows over provably bounded domains (NOT data-sized) that
    * the maxRows auto-allowance below cannot prove. Empty today: every
    * bounded-domain site went through GlobalOrder.boundedWindow, which
    * carries an explicit constant partition key. */
  private val globalWindowAllow: Map[String, String] = Map.empty

  test("battery sweep: no cartesian, nested-loop, or data-sized global window") {
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, dir)
      val opt = df.queryExecution.optimizedPlan
      val physical = df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      if (physical.contains("CartesianProduct"))
        violations += s"$name: CartesianProduct"
      def hasEqui(j: logical.Join): Boolean = j.condition.exists(_.exists {
        case EqualTo(l, r) =>
          (l.references.subsetOf(j.left.outputSet) &&
            r.references.subsetOf(j.right.outputSet)) ||
            (l.references.subsetOf(j.right.outputSet) &&
              r.references.subsetOf(j.left.outputSet))
        case EqualNullSafe(l, r) =>
          (l.references.subsetOf(j.left.outputSet) &&
            r.references.subsetOf(j.right.outputSet)) ||
            (l.references.subsetOf(j.right.outputSet) &&
              r.references.subsetOf(j.left.outputSet))
        case _ => false
      })
      def hasSmallSide(j: logical.Join): Boolean =
        Seq(j.left, j.right).exists(_.maxRows.exists(_ <= 1000L))
      if (physical.contains("BroadcastNestedLoopJoin") &&
          !thetaJoinAllow.contains(name)) {
        val risky = opt.collect {
          case j: logical.Join if !hasEqui(j) && !hasSmallSide(j) => j
        }
        if (risky.nonEmpty)
          violations += s"$name: data-sized nested-loop join (${risky.size} risky join(s))"
      }
      // a partition-less window whose CHILD is provably tiny (a LIMIT
      // upstream survives into maxRows) is the honest "top-k then rank"
      // shape, not the data-sized anti-pattern
      val globalWins = opt.collect {
        case w: logical.Window if w.partitionSpec.isEmpty &&
          !w.child.maxRows.exists(_ <= 1000L) => w
      }
      if (globalWins.nonEmpty && !globalWindowAllow.contains(name))
        violations += s"$name: ${globalWins.size} partition-less Window(s)"
      DriverHygiene.releasePersisted(spark, gc = false)
    }
    assert(violations.isEmpty,
      "plan-contract violations:\n  " + violations.mkString("\n  "))
  }
}

/** Test-only accessor for the private labeled-pair builder. */
object AdvancedQueriesTestHook {
  def fsPairs(spark: SparkSession, dir: String) = {
    import org.apache.spark.sql.functions._
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("k"),
      floor(col("c_acctbal") * 100).cast("long").cast("string").as("name"),
      col("c_mktsegment").as("seg"),
      (floor(col("c_acctbal") * 100).cast("long") % 25).as("cc"))
    val dup = c.select(col("k"),
      when(col("k") % 4 === 0, substring(col("name"), 1, 3))
        .otherwise(col("name")).as("name2"),
      when(col("k") % 5 === 0, lit("OTHER")).otherwise(col("seg")).as("seg2"),
      col("cc").as("cc2"))
    c.join(dup, Seq("k")).withColumn("is_match", lit(true))
      .select(col("k"), col("is_match"),
        (levenshtein(col("name"), col("name2")) <= 2).as("name_agree"),
        (col("seg") === col("seg2")).as("seg_agree"),
        (col("cc") === col("cc2")).as("cc_agree"))
  }
}
