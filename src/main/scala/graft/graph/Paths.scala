package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Lineage._

/** Path-structure operators over edge lists: s–t betweenness counts,
  * DAG critical-path layering, and bipartite co-occurrence projection.
  *
  * Reference shape: cartography answers "which assets sit on every
  * shortest attack path between an exposed entry point and a crown
  * jewel" with per-pair Cypher path queries (e.g. the shortestPath
  * patterns its read surface encourages over synced AWS graphs); these
  * are the same questions as whole-graph DataFrame programs. The
  * round-based ones run on [[Fixpoint]]'s two frontier loops: a round
  * is one frontier ⋈ edges join + one combinable aggregation, plus the
  * loop's bookkeeping (the anti-join against the visited keys for BFS;
  * the left join against the current values and the full-outer update
  * for relaxation). Under adaptive execution each exchange or
  * broadcast of a round is one Spark job, plus one for the loop test —
  * five jobs per BFS round and seven per relaxation round in the
  * executed sf0.01 plans. The plans scale with |E| per round, not with
  * the number of paths (path COUNTS are aggregated, never enumerated).
  */
object Paths {

  /** Per-node count of shortest s→t paths passing through each node —
    * the exact integer numerator of Brandes' pair dependency
    * (Brandes 2001, §3: sigma_st(v) = sigma_s(v)·sigma_t^rev(v) when
    * dist_s(v) + dist_rev_t(v) = dist_s(t)).
    *
    * Two level-synchronous BFS path-count passes ([[Fixpoint.bfsPathCounts]]):
    * forward from `s` over the edges, backward from `t` over reversed
    * edges, then one equi-join keeps the nodes on SOME shortest path and
    * multiplies the two path counts. Endpoints are included and both
    * carry the total s→t path count (sigma_st·1) — a built-in
    * consistency check the spec asserts.
    *
    * Scale: cost is two BFS fixpoints (O(diameter) rounds of one join +
    * one sum each) + one join; counts are exact longs (sum overflow
    * throws under ANSI rather than wrapping). Returns empty when t is
    * unreachable from s. Output: (node, dist_s, through_paths). */
  def stBetweenness(edges: DataFrame, s: Long, t: Long, maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val fwd = Fixpoint.bfsPathCounts(edges,
      Seq(s).toDF("node"), maxDepth).cut
    val bwd = Fixpoint.bfsPathCounts(
      edges.select(col("dst").as("src"), col("src").as("dst")),
      Seq(t).toDF("node"), maxDepth).cut
    // 1-row broadcast of d(s,t); empty when t was never reached
    val dT = fwd.filter(col("node") === t).select(col("dist").as("d_st"))
    fwd.select(col("node"), col("dist").as("dist_s"), col("sigma").as("sf"))
      .join(bwd.select(col("node"), col("dist").as("db"), col("sigma").as("sb")),
        Seq("node"))
      .crossJoin(broadcast(dT))
      .filter(col("dist_s") + col("db") === col("d_st"))
      .select(col("node"), col("dist_s"),
        (col("sf") * col("sb")).as("through_paths"))
  }

  /** Longest-path layering of a DAG — level(v) = length of the longest
    * path from any source to v (critical-path depth; the topological
    * stage at which v can first be scheduled when every edge is a
    * dependency). The classic build/dependency-graph question over the
    * condensation DAG [[Fixpoint.sccCondensation]] produces.
    *
    * Frontier-relaxed fixpoint ([[Fixpoint.relaxLoop]] with a max
    * comparison): a node re-propagates only in the round after its
    * level grew, so a round is the (frontier ⋈ edges) join, one
    * max-combine, a left join against the current levels, the loop
    * test and the full-outer level update — the plan shape of
    * [[Fixpoint.sssp]]'s round; total work is O(E · depth) worst case
    * but proportional to actual level churn. Cycles never converge —
    * the `maxRounds` budget throws rather than spinning (a DAG of depth
    * < maxRounds is the documented contract: round `maxRounds` may only
    * confirm the fixpoint). Output: (node, level). */
  def topoLevels(edges: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be positive")
    val e = edges.select(col("src"), col("dst"))
    val init = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().withColumn("level", lit(0L)).cut
    // round maxRounds may only confirm the fixpoint: that is the relax
    // loop's confirmation round after maxRounds - 1 growing rounds
    Fixpoint.relaxLoop(init, "level", _ > _, maxRounds - 1,
        s"topoLevels did not converge in $maxRounds rounds - " +
          "cycle in the input or depth past the budget; raise maxRounds") { f =>
      f.join(e, f("node") === e("src"))
        .groupBy(e("dst").as("node")).agg(max(col("level") + 1L).as("level"))
    }
  }

  /** Longest-path layering in O(log depth) driver rounds via max-plus
    * path doubling (the tropical-semiring closure — matrix squaring over
    * (max, +)): D_r(v, a) = longest upward path v→a of length ≤ 2^r;
    * one self-compose join + one max-combine per round squares the
    * reachable length, so a depth-D DAG layers in ceil(log2 D) rounds
    * instead of [[topoLevels]]'s D frontier rounds. level(v) = the max
    * distance to a SOURCE ancestor (every DAG node has one).
    *
    * The trade is the closure size: O(Σ ancestors · depth) intermediate
    * pairs (V·D² worst case) versus the sweep's O(E) per round — the
    * right variant when depth is capped (dependency DAGs, org chains,
    * condensations of bounded diameter) and the round-scheduling fixed
    * cost dominates, i.e. exactly when the per-level sweep crawls.
    * Unbounded or unknown depth stays on [[topoLevels]]. Identical
    * output: (node, level). */
  def topoLevelsLifted(edges: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64, "need 1 <= maxDepth <= 64")
    val e = edges.select(col("src"), col("dst")).cut
    // D: (v, a, d) = longest path from ancestor a down to v, length <= 2^r.
    // A (v, v, ·) pair can only arise from a cycle — the in-plan guard
    // rides the round's aggregation projection, no extra driver action.
    var d = e.select(col("dst").as("v"), col("src").as("a"), lit(1L).as("d"))
      .select(col("v"),
        // a self-loop is a cycle the compose-round guard would only see
        // after the first squaring (never, when maxDepth = 1) — reject at
        // the seed
        when(col("v") === col("a"), expr(
          "raise_error('topoLevelsLifted: cycle in the input')"))
          .otherwise(col("a")).as("a"),
        col("d")).cut
    var covered = 1L
    // `<=` (not `<`): when maxDepth is a power of two the closure must
    // still strictly exceed the budget, or no discovered level could ever
    // be > maxDepth and the over-depth guard below would be dead — an
    // over-deep input would return silently wrong levels instead of
    // raising. One extra squaring round in the power-of-two case only.
    while (covered <= maxDepth) {
      val lower = d.select(col("v"), col("a").as("m"), col("d").as("d1"))
      val upper = d.select(col("v").as("m"), col("a"), col("d").as("d2"))
      val composed = lower.join(upper, Seq("m"))
        .select(col("v"), col("a"), (col("d1") + col("d2")).as("d"))
      d = d.unionByName(composed)
        .groupBy(col("v"), col("a")).agg(max(col("d")).as("d"))
        .select(col("v"), col("a"),
          when(col("v") === col("a"), expr(
            "raise_error('topoLevelsLifted: cycle in the input')"))
            .otherwise(col("d")).as("d")).cut
      covered *= 2
    }
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val sources = nodes.join(e.select(col("dst").as("node")).distinct(),
      Seq("node"), "left_anti")
    val lev = d.join(sources.select(col("node").as("a")), Seq("a"), "left_semi")
      .groupBy(col("v").as("node")).agg(max(col("d")).as("level"))
    nodes.join(lev, Seq("node"), "left")
      .select(col("node"),
        when(col("level") > maxDepth, expr(
          s"raise_error('topoLevelsLifted: depth past the $maxDepth budget')"))
          .otherwise(coalesce(col("level"), lit(0L))).as("level"))
  }

  /** Bipartite co-occurrence projection: from (left, right) associations
    * to a weighted right–right graph where the weight is the number of
    * shared lefts (co-purchase graphs from order lines, co-access graphs
    * from principal→resource edges — the permission-graph shape the
    * reference's RPR data feeds).
    *
    * The pair generation is IN-ROW over each left's sorted distinct
    * right-set — O(degree²) per left with zero join fan-out — so the
    * only shuffles are the distinct and the final pair count. That makes
    * per-left degree the scale knob: `maxDegree` fails loudly (in-plan
    * `raise_error`, no driver action) instead of silently exploding a
    * hot left into millions of pairs; cap or pre-sample hub lefts
    * upstream, the same dominance guard as `Sampling.capPerGroup`.
    * Output: (r_a, r_b, n_shared) with r_a < r_b, filtered to
    * n_shared >= minShared. */
  def bipartiteProject(assoc: DataFrame, leftCol: String, rightCol: String,
                       minShared: Long, maxDegree: Int): DataFrame = {
    val pairs = assoc
      .select(col(leftCol).as("l"), col(rightCol).as("r")).distinct()
      .groupBy(col("l")).agg(sort_array(collect_list(col("r"))).as("rs"))
      .withColumn("rs", when(size(col("rs")) > maxDegree,
        expr(s"raise_error(concat('bipartiteProject: left degree ', " +
          s"cast(size(rs) as string), " +
          s"' exceeds maxDegree $maxDegree - cap hub lefts upstream'))"))
        .otherwise(col("rs")))
      .select(explode(expr(
        "flatten(transform(rs, (x, i) -> " +
          "transform(slice(rs, i + 2, size(rs) - i - 1), y -> struct(x AS a, y AS b))))"))
        .as("p"))
    pairs.groupBy(col("p.a").as("r_a"), col("p.b").as("r_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Upward accumulation over a forest: for every node the sum of
    * `value` over its whole subtree (self included) plus the subtree
    * node count — rollups over org/ownership/dependency hierarchies
    * (the reference's sub-resource ownership chains read upward).
    *
    * Level-synchronous from the deepest level: [[topoLevels]] gives each
    * node's depth, then one (level-slice ⋈ edges) join + sum per level
    * pushes child subtotals into parents — O(E) state per round, never
    * the ancestor closure (whose Σ-depth size is the scale trap on deep
    * hierarchies). Edges are parent→child (src, dst). On a DAG a node's
    * value is counted once per distinct path into it (path semantics);
    * subtree sums in the usual sense require each node to have at most
    * one parent. The level count is one driver scalar read — bounded by
    * depth, not data. Output: (node, level, subtree_sum, n_nodes). */
  def subtreeAggregate(edges: DataFrame, values: DataFrame,
                       maxRounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val levels = topoLevels(e, maxRounds)
    var acc = levels
      .join(values.select(col("node"), col("value")), Seq("node"), "left")
      .select(col("node"), col("level"),
        coalesce(col("value").cast("long"), lit(0L)).as("subtree_sum"),
        lit(1L).as("n_nodes")).cut
    val maxLevel = Option(acc.agg(max(col("level"))).collect().head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    var d = maxLevel
    while (d >= 1) {
      val contrib = acc.filter(col("level") === d)
        .join(e, acc("node") === e("dst"))
        .groupBy(e("src").as("node"))
        .agg(sum(col("subtree_sum")).as("cs"), sum(col("n_nodes")).as("cn"))
      acc = acc.join(contrib, Seq("node"), "left")
        .select(col("node"), col("level"),
          (col("subtree_sum") + coalesce(col("cs"), lit(0L))).as("subtree_sum"),
          (col("n_nodes") + coalesce(col("cn"), lit(0L))).as("n_nodes")).cut
      d -= 1
    }
    acc
  }

  /** Upward accumulation over a FOREST in O(log depth) driver rounds:
    * the same (node, level, subtree_sum, n_nodes) as [[subtreeAggregate]]
    * but via binary-lifting ancestor closure instead of the level-by-level
    * sweep — jump pointers double (child → 2^k-th ancestor, one
    * self-compose per round), the closure accumulates distance-disjoint
    * slices (no dedup needed), and one aggregation per direction reads
    * levels (= ancestor count) and subtree sums (each node's value flows
    * to every ancestor) off the closure.
    *
    * The trade is explicit: ceil(log2 depth) rounds of two frontier-sized
    * joins against a Σ-depth = O(V·depth) closure — linear in V when the
    * depth cap holds (org trees, ownership chains: depth ≤ ~32), which is
    * when this variant wins; unbounded-depth DAGs or path-multiplicity
    * semantics stay on [[subtreeAggregate]]'s O(E)-per-round sweep.
    * Forest contract: at most one parent per node (checked in-plan,
    * raise_error on violation). Output: (node, level, subtree_sum,
    * n_nodes). */
  def subtreeAggregateLifted(edges: DataFrame, values: DataFrame,
                             maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64, "need 1 <= maxDepth <= 64")
    // parent pointer child v -> parent a; >1 parent breaks subtree
    // semantics, fail loudly inside the same aggregation that builds it
    val parent = edges.select(col("src"), col("dst"))
      .groupBy(col("dst").as("v"))
      .agg(min(col("src")).as("a"), count(lit(1)).as("_np"))
      .select(col("v"),
        when(col("_np") > 1, expr(
          "raise_error('subtreeAggregateLifted: node has multiple parents - " +
            "use subtreeAggregate for DAG path semantics')"))
          // a self-parent is a cycle, not a forest — fail as loudly as
          // the sweep variant's round budget would
          .when(col("v") === col("a"), expr(
            "raise_error('subtreeAggregateLifted: self-loop in the input')"))
          .otherwise(col("a")).as("a")).cut
    // invariant after round r: closure = distances 1..2^r - 1 (starts
    // EMPTY), jump = distance exactly 2^r — each round unions three
    // DISJOINT distance slices (1..2^r-1, 2^r, 2^r+1..2^(r+1)-1), so the
    // closure holds every (descendant, proper ancestor) pair exactly once
    // with no dedup shuffle. Fixed ceil(log2(maxDepth+1)) rounds — no
    // per-round convergence job; exhausted jumps make later rounds empty
    // joins.
    var jump = parent
    var closure = parent.limit(0)
    var covered = 0L
    while (covered < maxDepth) {
      val j = jump.select(col("v").as("jv"), col("a").as("ja"))
      val viaClosure = j
        .join(closure.select(col("v").as("ja"), col("a").as("b")), Seq("ja"))
        .select(col("jv").as("v"), col("b").as("a"))
      val nextJump = j
        .join(jump.select(col("v").as("ja"), col("a").as("b")), Seq("ja"))
        .select(col("jv").as("v"), col("b").as("a")).cut
      closure = closure.unionByName(jump.select(col("v"), col("a")))
        .unionByName(viaClosure)
        .select(col("v"), col("a")).cut
      jump = nextJump
      covered = covered * 2 + 1
    }
    // overflow marker: a surviving 2^k jump pointer proves some node has
    // an ancestor past the covered 1..covered range — without this the
    // variant would silently under-count levels and drop descendant
    // contributions (the sweep sibling raises 'did not converge'; this
    // must be as loud). Unioned in-plan: evaluated only if jump has rows,
    // no extra driver job.
    val overflow = jump.select(
      expr(s"raise_error('subtreeAggregateLifted: tree deeper than the " +
        s"$maxDepth budget - raise maxDepth or use subtreeAggregate')")
        .cast(closure.schema("v").dataType).as("v"),
      col("a"))
    val anc = closure.unionByName(overflow)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    val vals = nodes.join(
        values.select(col("node"), col("value")), Seq("node"), "left")
      .select(col("node"), coalesce(col("value").cast("long"), lit(0L)).as("value"))
      .cut
    val levels = anc.groupBy(col("v").as("node")).agg(count(lit(1)).as("_lvl"))
    val sums = anc.join(vals.select(col("node").as("v"), col("value")), Seq("v"))
      .groupBy(col("a").as("node"))
      .agg(sum(col("value")).as("_ds"), count(lit(1)).as("_dn"))
    vals
      .join(levels, Seq("node"), "left")
      .join(sums, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("_lvl"), lit(0L)).as("level"),
        (col("value") + coalesce(col("_ds"), lit(0L))).as("subtree_sum"),
        (lit(1L) + coalesce(col("_dn"), lit(0L))).as("n_nodes"))
  }

  /** Percolation robustness sweep: connectivity structure of the graph
    * under deterministic edge sampling at several survival rates — "how
    * fast does this network shatter as links fail", the resilience curve
    * (Albert–Barabási error tolerance) read as one summary row per rate:
    * (rate_ppm, n_nodes, n_components, max_component). Nodes whose every
    * edge was dropped count as singleton components (the node universe is
    * the ORIGINAL graph's).
    *
    * Edge survival is a portable content hash of "src:dst" — the same
    * sweep on any engine keeps the same edges, so curves are comparable
    * across runs and systems, and sweeping more rates reuses nothing but
    * adds one CC fixpoint each ([[Fixpoint.connectedComponents]],
    * O(log d) pointer-jump rounds per rate). */
  def robustnessSweep(edges: DataFrame, ratesPpm: Seq[Long]): DataFrame = {
    require(ratesPpm.nonEmpty && ratesPpm.forall(r => r >= 0 && r <= 1000000),
      "rates must be ppm in [0, 1000000]")
    require(ratesPpm.size < (1 << 20), "too many rates")
    val e = edges.select(col("src"), col("dst")).cut
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().cut
    val h = graft.functions.HashFunctions.md5_prefix64(
      concat(col("src").cast("string"), lit(":"), col("dst").cast("string")))
    // ONE pointer-jump fixpoint for the whole sweep: every rate's survivor
    // graph lives in a disjoint id range (node' = rate_index·2^40 + node),
    // so the per-rate component structures never interact and the driver
    // pays the O(log d) CC rounds ONCE instead of once per rate — the
    // sweep's round count is max-over-rates, its volume the union (≤
    // |rates|·|E|, each row a frontier-sized shuffle key). Node ids must
    // fit 40 bits; wider ids belong in a dictionary-encoded id space
    // upstream (in-plan raise_error keeps the failure loud, not silent).
    val rateRows = explode(array(ratesPpm.zipWithIndex.map { case (r, i) =>
      struct(lit(i.toLong).as("rix"), lit(r).as("rate_ppm")) }: _*))
    val Off = 1L << 40
    def composite(rix: Column, node: Column): Column =
      when(node >= Off || node < 0, expr(
        "raise_error('robustnessSweep: node ids must fit 40 bits - " +
          "dictionary-encode ids upstream')"))
        .otherwise(rix * Off + node)
    val tagged = e.select(col("src"), col("dst"), rateRows.as("rt"))
      .filter(pmod(h, lit(1000000L)) < col("rt.rate_ppm"))
    val cc = Fixpoint.connectedComponents(tagged.select(
      composite(col("rt.rix"), col("src")).as("a"),
      composite(col("rt.rix"), col("dst")).as("b")))
    val nodeRates = nodes.select(col("node"), rateRows.as("rt"))
      .select(col("node"), col("rt.rix").as("rix"), col("rt.rate_ppm").as("rate_ppm"))
    nodeRates.withColumn("cn", composite(col("rix"), col("node")))
      .join(cc.select(col("node").as("cn"), col("component")), Seq("cn"), "left")
      .select(col("rate_ppm"),
        coalesce(col("component"), col("cn")).as("component"))
      .groupBy(col("rate_ppm"), col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("rate_ppm"))
      .agg(count(lit(1)).as("n_components"), sum(col("sz")).as("n_nodes"),
        max(col("sz")).as("max_component"))
      .select(col("rate_ppm"), col("n_nodes"), col("n_components"),
        col("max_component"))
  }

  /** Edge reciprocity: the fraction of directed edges whose reverse
    * edge also exists (Garlaschelli & Loffredo 2004) — "is this follow
    * graph mutual or broadcast-shaped". Self-loops are excluded and
    * duplicate edges collapse first. One distinct + one self-semi-join
    * on the swapped key + one count — the semi join shuffles on
    * (src, dst)/(dst, src), map-side combinable. Output one row:
    * (n_edges, n_reciprocal, reciprocity_ppm). */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().cut
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_reciprocal"))))
      .select(col("n_edges"), col("n_reciprocal"),
        when(col("n_edges") === 0, lit(0L))
          .otherwise(expr("(n_reciprocal * 1000000) div n_edges"))
          .as("reciprocity_ppm"))
  }
}
