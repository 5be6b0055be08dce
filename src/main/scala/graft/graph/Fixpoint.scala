package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Lineage._

/** Variable-length path evaluation — the reference's `[:REL*1..]` Cypher
  * patterns (ECR layer ancestry cartography/client/aws/ecr.py:46, Route53
  * sub-zone chains route53.py:470-505) — as an iterative DataFrame
  * fixpoint.
  *
  * Uses path doubling: after k rounds every path of length ≤ 2^k is
  * present, so the loop runs O(log diameter) rounds, not O(diameter) —
  * the difference between 14 and 16k joins on a 100 TB graph with long
  * chains. Each round localCheckpoints to truncate lineage (otherwise the
  * logical plan doubles every round and Catalyst analysis time explodes)
  * and the loop exits when the pair count stops growing.
  *
  * Per-round cost is mostly job count, not compute: under adaptive
  * execution every exchange or broadcast of a round runs as its own
  * Spark job and replan. The vertex-state fixpoints
  * ([[connectedComponents]], [[greedyColoring]], and PageRank in
  * [[Centrality]]) therefore keep one (node, state…) table whose rows
  * carry O(degree) adjacency, union each round's messages with it and
  * aggregate once by node (the Pregel superstep), and read their loop
  * test off the round's own materialization ([[loopSums]]) instead of a
  * global aggregate: coloring runs two jobs per round, components three.
  *
  * The frontier fixpoints share two loops. [[levelLoop]] is
  * level-synchronous BFS — expand the frontier one hop, anti-join the
  * visited keys, stamp the level — behind [[bfsDistances]],
  * [[seedDistances]], [[bfsPathCounts]], [[nearestSeed]],
  * [[regularPathQuery]], [[reachWithin]] and the SCC extraction.
  * [[relaxLoop]] is monotone relaxation of a per-node best value — only
  * improved nodes re-propagate — behind [[sssp]], [[widestPath]],
  * [[temporalReach]] and [[Paths.topoLevels]]. Both read the loop test
  * off the round's own cut ([[loopSums]]), so a round costs its
  * exchanges and broadcasts plus ONE job. In the executed plans at
  * sf0.01 (4 partitions, adaptive execution) a BFS round of
  * `graph_bfs_distances` is five jobs: the edge broadcast, the
  * distinct's shuffle, shuffle and broadcast of the visited keys, the
  * loop test. A relaxation round of `graph_sssp` is seven: the edge
  * broadcast, the min-aggregation's shuffle, shuffle and broadcast of
  * the current values, the loop test, and the two shuffles of the
  * full-outer update.
  */
object Fixpoint {

  /** All (src, dst) pairs with a directed path src→dst. */
  def transitiveClosure(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    // lazy checkpoints: the count() right after is the materializing action,
    // so each round runs ONE job instead of checkpoint-job + count-job
    var paths = edges.select(col("src"), col("dst")).distinct()
      .pin
    var n = paths.count()
    var round = 0
    var grown = true
    while (grown && round < maxRounds) {
      val doubled = paths.alias("a")
        .join(paths.alias("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
      val next = paths.unionByName(doubled).distinct().cut
      val m = next.count()
      grown = m > n
      paths = next
      n = m
      round += 1
    }
    // A final permitted round that still grew may nonetheless have REACHED
    // the fixpoint (growth in round maxRounds, zero growth after) — one
    // confirmation join distinguishes that from genuine non-convergence
    // instead of throwing a spurious failure at the boundary.
    if (grown) {
      val doubled = paths.alias("a")
        .join(paths.alias("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
      val m = paths.unionByName(doubled).distinct().count()
      if (m > n)
        throw new IllegalStateException(
          s"transitiveClosure did not converge in $maxRounds rounds " +
            s"(paths of length > 2^$maxRounds exist); raise maxRounds")
    }
    paths
  }

  /** Connected components over an undirected pair set (a, b) → (node,
    * component) with component = the smallest node id reachable. The
    * clustering step a dedup pipeline needs after near-dup PAIR detection
    * (pairs → clusters → one canonical doc per cluster).
    *
    * Min-label propagation with pointer jumping: each round every node
    * takes the min of its own label and its neighbors' labels, then
    * shortcuts through its label's label (path halving). The label's
    * reach roughly doubles per round, so convergence is O(log diameter)
    * — a 2M-hop chain closes in ~20 rounds — with O(E) work per round,
    * no closure materialization and no O(cluster²) pair space.
    *
    * Vertex-state rounds (the Pregel shape): one (node, component, nbrs)
    * table carries each node's symmetrized adjacency in its row —
    * O(degree) per row, the bound of the mex arrays in
    * [[greedyColoring]]. A round unions the label messages (one per
    * adjacency entry) with the state rows and aggregates ONCE by node;
    * the pointer jump is one self-join of that aggregate, whose node-
    * keyed side reuses the aggregation's exchange, so a round plans two
    * exchanges (or one plus a broadcast when adaptive execution sees a
    * small label table). The convergence test counts the labels a
    * round moved, on the round's own materialization ([[loopSums]]):
    * three jobs per round, and the state build needs no job of its own
    * — it materializes inside the first round's. Lineage is cut per
    * round. Non-convergence within maxRounds throws
    * instead of silently returning split components. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    // checkpoint the PAIR input before symmetrizing: the union otherwise
    // embeds the caller's (possibly huge) pair-generation plan twice
    val p = pairs.select(col("a"), col("b")).pin
    // init fuses the first min-propagation: label = min(self, neighbors) —
    // every node appears as `a` in the symmetrized set, so the groupBy
    // covers all nodes; collect_set dedups without a distinct exchange.
    // A null id is not a node.
    var state = p.unionByName(p.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a").isNotNull)
      .groupBy(col("a").as("node"))
      .agg(collect_set(col("b")).as("nbrs"))
      .select(col("node"), least(col("node"), array_min(col("nbrs"))).as("component"),
        col("nbrs"))
      .cut
    // min over own label and every neighbor's label, adjacency carried
    // along, and the node's label before the round (`_old`, from its own
    // state row: every message goes to a node that has one). The (always
    // true) null filter is the one the pointer jump's join infers for
    // its right side: stating it here keeps both join sides the same
    // plan, so they share one exchange.
    def propagate(s: DataFrame): DataFrame =
      s.select(explode(col("nbrs")).as("node"), col("component"),
          lit(null).cast(s.schema("nbrs").dataType).as("nbrs"))
        .unionByName(s.select(col("node"), col("component"), col("nbrs")))
        .groupBy(col("node"))
        .agg(min(col("component")).as("component"), max(col("nbrs")).as("nbrs"),
          max(when(col("nbrs").isNotNull, col("component"))).as("_old"))
        .filter(col("node").isNotNull)
    // labels only ever DECREASE, so a round changed the labeling exactly
    // when some node's label moved: the count rides on the round's cut
    def changed(df: DataFrame): BigInt =
      loopSums(df, (col("component") =!= col("_old")).cast("long")).head
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val propagated = propagate(state)
      // pointer jump (path halving): component := component's component.
      // Every label value is itself a node id (mins over node ids), so the
      // self-join resolves; coalesce is belt-and-braces for the root. The
      // right side keeps `nbrs` and `_old` too (never reached: every state
      // row has both) so column pruning cannot turn it into a second,
      // narrower aggregation — both sides share the one exchange.
      state = propagated
        .join(propagated.select(col("node").as("component"),
          col("component").as("_jumped"), col("nbrs").as("_nbrs"),
          col("_old").as("_old_r")), Seq("component"), "left")
        .select(col("node"), coalesce(col("_jumped"), col("component")).as("component"),
          coalesce(col("nbrs"), col("_nbrs")).as("nbrs"),
          coalesce(col("_old"), col("_old_r")).as("_old"))
        .cut
      converged = changed(state) == 0
      round += 1
    }
    // Same boundary case as transitiveClosure: the last permitted round may
    // have landed exactly on the fixpoint. Confirm with one more
    // propagation before declaring failure.
    if (!converged && changed(propagate(state)) != 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds; " +
          "raise maxRounds (labels would be silently wrong otherwise)")
    state.select(col("node"), col("component"))
  }

  /** Incremental connected components: fold a NEW batch of pairs into an
    * EXISTING labeling without re-walking the old graph — the cross-epoch
    * companion of [[connectedComponents]] for a continuously-ingesting
    * corpus (each sync's near-dup matches update the dedup clusters; the
    * graph analog of [[graft.dedup.Dedup.incrementalMinhash]]).
    *
    * The previous labeling IS a contraction of the old graph: every old
    * component collapses to a depth-1 star (node → its component root,
    * roots kept as self-edges so untouched singletons survive in the
    * output). Union the stars with the new pairs and run the ordinary
    * min-label fixpoint — convergence now takes O(log d') rounds where
    * d' is the diameter of the CONTRACTED graph (old components as
    * supernodes + new edges), independent of the old graph's structure.
    * A 10⁹-node history whose components are already labeled costs one
    * star-table scan per sync, never a re-traversal; labels remain
    * min-node-id, so output ≡ full [[connectedComponents]] over
    * (old edges ∪ new pairs) exactly (spec'd: equality on seeded random
    * graphs, and a 60-hop path labels in ≤3 rounds where the full
    * recompute provably cannot).
    *
    * `prevLabels`: (node, component) with component = min node id of the
    * old component — [[connectedComponents]] output verbatim. */
  def incrementalComponents(prevLabels: DataFrame, newPairs: DataFrame,
                            maxRounds: Int = 20): DataFrame = {
    val stars = prevLabels.select(col("node").as("a"), col("component").as("b"))
    connectedComponents(
      stars.unionByName(newPairs.select(col("a"), col("b"))), maxRounds)
  }

  /** PER-SEED hop distances — [[bfsDistances]] keyed by (seed, node), the
    * primitive behind sampled-landmark centralities
    * ([[Centrality.harmonicCentrality]]) and landmark-distance
    * embeddings: each seed's BFS runs in the same synchronized rounds,
    * frontier rows keyed (seed, node). State is O(k·|V_reached|) —
    * sample seeds at 100 TB; rounds = maxDepth. */
  def seedDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be non-negative")
    val e = edges.select(col("src"), col("dst")).pin
    val start = seeds.select(col("node").as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
      .pin
    levelLoop(start, Seq("seed", "node"), Some("dist"), maxDepth) { f =>
      f.join(e, f("node") === e("src")).select(col("seed"), col("dst").as("node")).distinct()
    }._1
  }

  /** Single-source (or multi-seed) shortest paths over positively
    * weighted edges (src, dst, w) — Bellman-Ford rounds as DataFrame
    * joins: each round relaxes every edge whose source is labeled and
    * keeps the min distance per node. Rounds needed = the hop count of
    * the longest shortest path, so this is the right tool for shallow
    * weighted graphs (dependency DAGs, containment hierarchies with
    * costs); convergence = an empty improvement frontier. One
    * [[relaxLoop]] round: the frontier ⋈ edges equi-join, one min
    * aggregation, a left join against the current distances, the loop
    * test and a full-outer distance update — seven jobs per round in
    * the executed `graph_sssp` plans (the pinned edges are re-broadcast
    * every round; see the object header). Work is proportional to the
    * relaxations that actually happen, lineage cut per round. Weights
    * must be non-negative (Bellman-Ford with a round budget would
    * silently miss longer negative-cost paths). Throws on
    * non-convergence after a confirmation round. */
  def sssp(edges: DataFrame, seeds: DataFrame, maxRounds: Int = 30): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w")).pin
    val init = seeds.select(col("node")).distinct().withColumn("dist", lit(0L)).pin
    relaxLoop(init, "dist", _ < _, maxRounds,
        s"sssp did not converge in $maxRounds rounds; raise maxRounds " +
          "(distances would be silently non-minimal otherwise)") { f =>
      e.join(f.select(col("node").as("src"), col("dist").as("_sd")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(min(col("_sd") + col("w")).as("dist"))
    }
  }

  /** Incremental connected-components maintenance: fold NEW edges into
    * an existing (node, component) labeling WITHOUT re-running CC on the
    * full graph — the edge-arrival form of the incremental-view family
    * ([[graft.operators.Changelog.maintainJoin]] for joins, this for
    * connectivity). New edges project onto component ids (nodes never
    * seen before label themselves), and [[connectedComponents]] runs on
    * that QUOTIENT graph — |affected components| super-nodes, not |V| —
    * then one join relabels. Because stored labels are component-minimum
    * node ids and the quotient fixpoint again takes minima, the result
    * is IDENTICAL to a full recompute over old ∪ new edges (the property
    * the gate checks). Deletions are out of scope by design — removing
    * an edge can split a component, which needs a full (or
    * spanning-tree-assisted) recompute. */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame): DataFrame = {
    // the labeling is read three times below (two projections and the
    // final relabel), so an unpinned input gets one cut — but a caller that already holds a pinned labeling (the
    // streaming sink re-pins its state every micro-batch) must NOT pay
    // a fresh |labels| re-materialization per fold on top: re-reading
    // pinned blocks is a cheap scan, re-cutting them writes a whole new
    // copy each batch (Bridge.isTruncated; measured in PROGRESS r15)
    val lab0 = labels.select(col("node"), col("component"))
    val lab =
      if (org.apache.spark.sql.graftbridge.Bridge.isTruncated(labels)) lab0
      else lab0.cut
    def proj(k: String) = lab.select(col("node").as(k), col("component").as(s"_c$k"))
    // each edge end with its old component, null for a node the labeling
    // has never seen — pinned, because it yields both the quotient edges
    // and the new nodes: one lookup of the labeling per fold, and the
    // relabel below reads no labeling-sized build side a second time
    val ends = newEdges.select(col("a"), col("b"))
      .join(proj("a"), Seq("a"), "left")
      .join(proj("b"), Seq("b"), "left")
      .pin
    val superEdges = ends
      .select(coalesce(col("_ca"), col("a")).as("a"),
        coalesce(col("_cb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    val quotient = connectedComponents(superEdges)
      .select(col("node").as("old_component"), col("component").as("merged"))
    val newNodes = ends.filter(col("_ca").isNull).select(col("a").as("node"))
      .unionByName(ends.filter(col("_cb").isNull).select(col("b").as("node"))).distinct()
      .select(col("node"), col("node").as("component"))
    lab.unionByName(newNodes)
      .join(quotient, col("component") === col("old_component"), "left")
      .select(col("node"),
        coalesce(col("merged"), col("component")).as("component"))
  }

  /** Widest-path (bottleneck) routing: for every node the maximum over
    * paths from the seeds of the MINIMUM edge capacity along the path —
    * the max-min semiring twin of [[sssp]] ("how much bandwidth/trust
    * survives the best route", Pollack 1960). Seeds start at
    * `sourceWidth` (pick it above every edge capacity for "unlimited at
    * the source"). Same frontier-relaxation shape and budget-throw as
    * sssp; keeping only the max width per node is lossless because a
    * wider arrival dominates for every downstream min. Output:
    * (node, width). */
  def widestPath(edges: DataFrame, seeds: DataFrame, sourceWidth: Long,
                 maxRounds: Int = 30): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("cap")).pin
    val init = seeds.select(col("node")).distinct().withColumn("width", lit(sourceWidth)).pin
    relaxLoop(init, "width", _ > _, maxRounds,
        s"widestPath did not converge in $maxRounds rounds; raise maxRounds " +
          "(widths would be silently non-maximal otherwise)") { f =>
      e.join(f.select(col("node").as("src"), col("width").as("_w")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(max(least(col("_w"), col("cap"))).as("width"))
    }
  }

  /** Regular path query evaluation: reachability over labeled edges
    * constrained to paths whose label word is accepted by an NFA — the
    * engine form of Cypher's `-[:X*]->(:B)-[:Y]` variable-length typed
    * patterns (the reference's read surface runs these on Neo4j;
    * product-automaton BFS is the classic distributed evaluation:
    * Mendelzon & Wood 1995).
    *
    * State = (graph node, automaton state) pairs; one round expands the
    * frontier over edges joined with the (tiny, broadcast) transition
    * table on the label, anti-joins the visited set, repeats to
    * fixpoint ([[levelLoop]] keyed (node, state)) — O(V·|states|)
    * visited entries, O(diameter·|states|) rounds, the budget-throw
    * convention of the other fixpoints.
    * `nfa` columns: (s_from, label, s_to); `starts` seeds every listed
    * node in automaton state 0. Returns ALL visited (node, state)
    * pairs — filter `state` to the accepting set for the answer, keep
    * the rest for explain/debug ("how far did the pattern get"). */
  def regularPathQuery(edges: DataFrame, nfa: DataFrame, starts: DataFrame,
                       maxRounds: Int = 30): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("label"))
      .pinHot // loop-static: one read per NFA round
    val t = broadcast(nfa.select(col("s_from"), col("label"), col("s_to")))
    val start = starts.select(col("node")).distinct().withColumn("state", lit(0L)).pin
    // the maxRounds-th expansion may only confirm the fixpoint
    val (visited, dry) = levelLoop(start, Seq("node", "state"), None, math.max(maxRounds, 1)) { f =>
      f.join(e, f("node") === e("src"))
        .join(t, f("state") === t("s_from") && e("label") === t("label"))
        .select(e("dst").as("node"), t("s_to").as("state"))
        .distinct()
    }
    if (!dry)
      throw new IllegalStateException(
        s"regularPathQuery did not converge in $maxRounds rounds; " +
          "raise maxRounds (results would be silently incomplete)")
    visited
  }

  /** Time-respecting earliest-arrival reachability over a temporal edge
    * list (src, dst, t): a path is valid only if edge times are
    * non-decreasing along it (Holme & Saramäki 2012) — the attack-chain
    * / information-flow question a static reachability silently
    * overstates (an edge that fired BEFORE you arrived cannot carry
    * you). Seeds start at arrival 0; returns (node, arrival) = the
    * earliest time each reachable node can be reached.
    *
    * Keeping only the minimum arrival per node is lossless: a smaller
    * arrival satisfies `t >= arrival` for a superset of outgoing edges,
    * so the greedy min-relaxation converges to the true fixpoint — the
    * same monotonicity argument as [[sssp]], whose frontier-relaxation
    * shape (and convergence budget-throw) this reuses. */
  def temporalReach(edges: DataFrame, seeds: DataFrame,
                    maxRounds: Int = 30): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("t")).pin
    val init = seeds.select(col("node")).distinct().withColumn("arrival", lit(0L)).pin
    relaxLoop(init, "arrival", _ < _, maxRounds,
        s"temporalReach did not converge in $maxRounds rounds; raise maxRounds " +
          "(arrivals would be silently non-minimal otherwise)") { f =>
      e.join(f.select(col("node").as("src"), col("arrival").as("_a")), Seq("src"))
        .filter(col("t") >= col("_a"))
        .groupBy(col("dst").as("node")).agg(min(col("t")).as("arrival"))
    }
  }

  /** Hop-distance labeling from a seed set: level-synchronous BFS
    * (the Pregel shape) — each round expands the current frontier one
    * hop, anti-joins away everything already labeled, and stamps the
    * round number as the distance. Returns (node, dist) for every node
    * within `maxDepth` hops of a seed; distances are exact minima
    * because a node is labeled the FIRST round it appears.
    *
    * One [[levelLoop]] round per level: the frontier ⋈ edges join, one
    * distinct, the anti-join against the visited keys and the loop
    * test — O(E) work and five jobs per level in the executed
    * `graph_bfs_distances` plans (the edges, pinned once, are broadcast
    * every level; the visited keys are shuffled and broadcast). The
    * right tool for small diameters / bounded neighborhoods
    * (blast-radius queries, k-hop enrichment). For full reachability
    * over long chains use [[transitiveClosure]]'s path doubling instead:
    * BFS pays a round per hop, doubling pays log₂. Lineage is cut per
    * level. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be non-negative")
    val e = edges.select(col("src"), col("dst")).pin
    val start = seeds.select(col("node")).distinct().withColumn("dist", lit(0L)).pin
    levelLoop(start, Seq("node"), Some("dist"), maxDepth) { f =>
      f.join(e, f("node") === e("src")).select(col("dst").as("node")).distinct()
    }._1
  }

  /** Shortest-path COUNTS from a seed set (the integer-exact forward
    * pass of Brandes' betweenness algorithm, 2001): level-synchronous
    * BFS where each newly discovered node's σ = Σ σ(parents at the
    * previous level) — the number of distinct shortest paths from the
    * seeds. The backward δ-accumulation needs per-level rational
    * division (engine-dependent rounding), so the library gates the
    * exact half and leaves the float weighting to the consumer; σ
    * itself is the useful redundancy signal (σ = 1 along a route means
    * a single point of failure, large σ means path diversity).
    *
    * Same [[levelLoop]] as [[bfsDistances]] — one join + one
    * map-side-combinable sum + one anti-join per level, lineage cut per
    * round. σ grows multiplicatively on braided DAGs; longs hold ~2^63
    * path multiplicity, assert upstream when levels × branching could
    * exceed it. Output: (node, dist, sigma). */
  def bfsPathCounts(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be non-negative")
    val e = edges.select(col("src"), col("dst")).pin
    val start = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).withColumn("sigma", lit(1L))
      .pin
    levelLoop(start, Seq("node"), Some("dist"), maxDepth) { f =>
      f.join(e, f("node") === e("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("sigma")).as("sigma"))
    }._1
  }

  /** Nearest-seed labeling: multi-source BFS that assigns every node
    * within `maxDepth` hops of a seed the LABEL of its nearest seed
    * (ties → smallest label). The propagation step of label spreading
    * over a link graph — stamping crawl documents with the topic/quality
    * label of the closest curated hub, blast-radius ownership attribution
    * in the asset graph, etc.
    *
    * Level-synchronous like [[bfsDistances]] (distances are exact minima
    * because a node is labeled the first round it appears), with the
    * frontier carrying (node, label) and a per-round min(label) aggregate
    * resolving same-distance ties deterministically. One [[levelLoop]]
    * round per level: one join + one map-side-combinable min + one
    * anti-join, lineage cut per level. Seeds listed twice keep their smallest
    * label; a seed's own label always wins at distance 0. */
  def nearestSeed(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be non-negative")
    val e = edges.select(col("src"), col("dst")).pin
    val start = seeds.select(col("node"), col("label"))
      .groupBy(col("node")).agg(min(col("label")).as("label"))
      .withColumn("dist", lit(0L)).pin
    levelLoop(start, Seq("node"), Some("dist"), maxDepth) { f =>
      f.join(e, f("node") === e("src"))
        .groupBy(col("dst").as("node")).agg(min(col("label")).as("label"))
    }._1
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for community
    * detection over an undirected edge set, made DETERMINISTIC: every
    * node starts labeled with its own id, and each round adopts the
    * label most frequent among its neighbors, ties to the SMALLEST
    * label (the classic formulation breaks ties randomly, which is
    * neither reproducible nor oracle-checkable; min-label ties converge
    * to the same partition families in practice). Each node's OWN label
    * joins the vote: pure synchronous LPA label-swaps forever on
    * bipartite structure (a single edge oscillates 1↔2), and the
    * self-vote is the standard damping that lets it settle — it also
    * makes "no neighbors" a non-case, every node has at least one vote.
    * Fixed `rounds` — LPA has no monotone convergence measure, so a
    * bounded round count IS the standard stopping rule.
    *
    * Scale shape per round: one edges⋈labels equi-join, one
    * (node, label) count — map-side combinable — and one argmax via
    * `max(struct(count, -label))` (no window, no sort), then a left
    * join back to the node set. O(E) per round; lineage truncated per
    * round like every fixpoint here. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"labelPropagation wants 1..8 synchronous rounds, got $rounds")
    val p = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().pin
    val nodes = und.select(col("src").as("node")).distinct().pin
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val votes = und
        .join(labels.select(col("node").as("src"), col("label")), Seq("src"))
        .select(col("dst").as("node"), col("label"))
        .unionByName(labels)
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
      labels = votes
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("w"))
        .select(col("node"), (-col("w.nl")).as("label"))
        .cut
    }
    labels
  }

  /** Weisfeiler–Lehman color refinement (the 1-WL graph-isomorphism
    * test): every node starts with color 1; each round a node's new
    * color is a 56-bit hash of (own color, SORTED MULTISET of neighbor
    * colors). After k rounds two nodes share a color iff their
    * k-hop unfolded neighborhoods are indistinguishable — the
    * structural-role fingerprint behind graph dedup, role discovery
    * and GNN expressiveness checks (Weisfeiler & Leman 1968; Shervashidze
    * et al. 2011 WL kernels).
    *
    * Per round: one equi-join (colors onto edge endpoints) + one
    * sorted-multiset agg + the hash — O(E) work, map-side combinable
    * up to the sort; the signature string is bounded by
    * max-degree × digits, never materialized beyond the agg. Colors are
    * md5-prefix longs so a SQL oracle reproduces them exactly
    * (`conv(substring(md5(sig),1,14),16,10)` — the [[graft.functions.Md5Prefix64]]
    * contract). Lineage cut per round. Output: (node, wl_color). */
  def wlRefine(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"wlRefine wants 1..8 refinement rounds, got $rounds")
    val p = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().pin
    val nodes = und.select(col("src").as("node")).distinct().pin
    var colors = nodes.select(col("node"), lit(1L).as("wl_color"))
    for (_ <- 1 to rounds) {
      val sigs = und
        .join(colors.select(col("node").as("dst"), col("wl_color").as("nc")),
          Seq("dst"))
        .groupBy(col("src"))
        .agg(concat_ws(",",
          transform(array_sort(collect_list(col("nc"))), x => x.cast("string")))
          .as("sig"))
      colors = colors
        .join(sigs.withColumnRenamed("src", "node"), Seq("node"), "left")
        .select(col("node"),
          graft.functions.HashFunctions.md5_prefix64(
            concat(col("wl_color").cast("string"), lit("|"),
              coalesce(col("sig"), lit("")))).as("wl_color"))
        .cut
    }
    colors
  }

  /** Minimum spanning forest by Borůvka contraction: each round every
    * component selects its lightest incident inter-component edge under
    * the TOTAL order (weight, min-endpoint, max-endpoint) — so ties are
    * deterministic and the forest is unique even with equal weights —
    * then the selected partner pointers contract via pointer-jump
    * doubling. Component count at least halves per round: O(log V)
    * rounds, each O(E) join work, the only MSF algorithm whose rounds
    * don't grow with the diameter (Prim/Kruskal are driver-sequential
    * by nature and can never run at 100 TB).
    *
    * Duplicate (a, b) edges collapse to their min weight first; self
    * loops drop. Output: one row per forest edge (edge_u, edge_v,
    * weight) with edge_u < edge_v. */
  def minimumSpanningForest(edges: DataFrame, maxRounds: Int = 25): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        col("weight").cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .pin
    val spark = canon.sparkSession
    var comp = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .distinct()
      .select(col("node"), col("node").as("comp"))
      .pin
    var msf = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("edge_u", "long").add("edge_v", "long").add("weight", "long"))
    var round = 0
    var live = true
    while (live && round < maxRounds) {
      round += 1
      // inter-component candidates under current labels
      val cand = canon
        .join(comp.select(col("node").as("a"), col("comp").as("ca")), Seq("a"))
        .join(comp.select(col("node").as("b"), col("comp").as("cb")), Seq("b"))
        .filter(col("ca") =!= col("cb"))
        .pin
      if (cand.isEmpty) { live = false }
      else {
        // each component's lightest incident edge: explode both directions,
        // min(struct) gives the (w, a, b) total order and carries the partner
        val chosen = cand
          .select(col("ca").as("c"), struct(col("w"), col("a"), col("b"),
            col("cb").as("partner")).as("e"))
          .unionByName(cand.select(col("cb").as("c"), struct(col("w"), col("a"),
            col("b"), col("ca").as("partner")).as("e")))
          .groupBy(col("c")).agg(min(col("e")).as("e"))
          .select(col("c"), col("e.w").as("w"), col("e.a").as("a"),
            col("e.b").as("b"), col("e.partner").as("p"))
          .pin
        msf = msf.unionByName(
          chosen.select(col("a").as("edge_u"), col("b").as("edge_v"),
            col("w").as("weight")).distinct())
          .pin
        // partner pointers; mutual pairs (a↔b) root at the smaller id
        var parent = chosen
          .join(chosen.select(col("c").as("p"), col("p").as("pp")), Seq("p"), "left")
          .select(col("c"),
            when(col("pp") === col("c") && col("c") < col("p"), col("c"))
              .otherwise(col("p")).as("parent"))
          .pin
        // pointer-jump doubling to the star fixpoint
        var jumping = true
        while (jumping) {
          val jumped = parent
            .join(parent.select(col("c").as("parent"), col("parent").as("gp")),
              Seq("parent"), "left")
            .select(col("c"), coalesce(col("gp"), col("parent")).as("parent"))
            .pin
          val moved = jumped.join(parent.withColumnRenamed("parent", "old"),
            Seq("c")).filter(col("parent") =!= col("old")).isEmpty
          parent = jumped
          jumping = !moved
        }
        comp = comp
          .join(parent.select(col("c").as("c2"), col("parent")),
            comp("comp") === col("c2"), "left")
          .select(col("node"), coalesce(col("parent"), col("comp")).as("comp"))
          .cut
      }
    }
    require(!live || round < maxRounds,
      s"minimumSpanningForest did not converge in $maxRounds rounds")
    msf
  }

  /** Deterministic Luby maximal independent set: each round every live
    * node whose (hash, id) priority beats every live neighbor's joins
    * the MIS, then winners AND their neighbors leave the live set —
    * O(log V) expected rounds under the md5 priorities (Luby 1986 with
    * the random bits replaced by a deterministic 56-bit hash so the
    * result is reproducible run-to-run and in a SQL oracle). The
    * conflict-free scheduling / landmark-selection primitive.
    *
    * Each round: one neighbor-min join + two semi/anti joins, O(E)
    * work, lineage cut. A node with no live neighbor always wins.
    * Throws past `maxRounds` (budget-throw, not silent truncation). */
  def maximalIndependentSet(edges: DataFrame, maxRounds: Int = 24): DataFrame = {
    val p = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().pin
    def prio(c: Column): Column =
      struct(graft.functions.HashFunctions.md5_prefix64(c.cast("string")).as("h"),
        c.as("id"))
    var live = und.select(col("src").as("node")).distinct().pin
    var cur = und
    val spark = und.sparkSession
    var mis = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType().add("node", "long"))
    var round = 0
    while (!live.isEmpty) {
      round += 1
      require(round <= maxRounds,
        s"maximalIndependentSet did not converge in $maxRounds rounds")
      val minNbr = cur.groupBy(col("src").as("node"))
        .agg(min(prio(col("dst"))).as("mn"))
      val winners = live.join(minNbr, Seq("node"), "left")
        .filter(col("mn").isNull || prio(col("node")) < col("mn"))
        .select(col("node")).pin
      mis = mis.unionByName(winners).pin
      val killed = winners.unionByName(
        cur.join(winners.select(col("node").as("src")), Seq("src"), "left_semi")
          .select(col("dst").as("node"))).distinct()
      live = live.join(killed, Seq("node"), "left_anti").cut
      cur = cur
        .join(live.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(live.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")).cut
    }
    mis
  }

  /** Deterministic hash-driven random walks (the DeepWalk/node2vec
    * corpus-generation step, Perozzi et al. 2014, with the RNG replaced
    * by a per-(walk, step) md5 pick so the corpus is reproducible
    * run-to-run and in a SQL oracle): each walk at step s moves to
    * `sorted_neighbors[h(walk, s) mod degree]`. A walk reaching a node
    * with no out-neighbor stops (emits no further rows).
    *
    * Adjacency materializes once as sorted arrays (degree-bounded rows
    * — at 100 TB cap hub degree upstream or the hub row IS the skew);
    * each step is one equi-join + in-row element pick, `steps` total
    * joins. Output: (walk_id, step, node), step 0 = the start. */
  def randomWalks(edges: DataFrame, starts: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1 && steps <= 32, "need 1 <= steps <= 32")
    import graft.functions.HashFunctions.md5_prefix64
    val adj = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .groupBy(col("src")).agg(array_sort(collect_set(col("dst"))).as("nbrs"))
      .pin
    var cur = starts.select(col("walk_id"), col("node"))
      .withColumn("step", lit(0L))
    var out = cur
    for (s <- 1 to steps) {
      cur = cur
        .join(adj.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("walk_id"), lit(s.toLong).as("step"),
          element_at(col("nbrs"),
            (md5_prefix64(concat(col("walk_id").cast("string"), lit("@"),
              lit(s).cast("string"))) % size(col("nbrs")) + 1).cast("int"))
            .as("node"))
        .pin
      out = out.unionByName(cur.select(col("walk_id"), col("node"), col("step")))
    }
    out.select(col("walk_id"), col("step"), col("node"))
  }

  /** Condensation DAG: the quotient graph over strongly connected
    * components — one node per SCC (labeled by its max member, the
    * [[stronglyConnectedComponents]] canon), one distinct edge per
    * inter-component dependency. THE cycle-free view dependency
    * planners walk (topological processing order, impact analysis);
    * always acyclic by construction. Cost: the SCC fixpoint + two
    * component-label equi-joins + one distinct. */
  def condensationEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).pin
    condensationEdges(stronglyConnectedComponents(e), e)
  }

  /** Condensation from PRECOMPUTED component labels — the quotient step
    * alone (two label equi-joins + one distinct), for pipelines that
    * already ran [[stronglyConnectedComponents]] (or read its persisted
    * assignment via [[sccArtifact]]) and must not pay the multi-fixpoint
    * a second time. `labels` is the (node, component) assignment. */
  def condensationEdges(labels: DataFrame, edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .join(labels.select(col("node").as("src"), col("component").as("comp_src")),
        Seq("src"))
      .join(labels.select(col("node").as("dst"), col("component").as("comp_dst")),
        Seq("dst"))
      .filter(col("comp_src") =!= col("comp_dst"))
      .select(col("comp_src"), col("comp_dst")).distinct()

  /** Build-or-load a persisted SCC assignment, exactly like
    * [[graft.similarity.Similarity.kmeansArtifact]] persists the Lloyd
    * clustering: the FW-BW fixpoint runs once per graph version and
    * every consumer (the condensation quotient, topo processing over
    * it, impact analysis) reads the KB-to-GB-sized (node, component)
    * parquet back. [[stronglyConnectedComponents]] is deterministic, so
    * a cached artifact is byte-identical to a fresh run — callers key
    * `artifactDir` by a fingerprint of the edge source so a regenerated
    * graph at the same path can never serve stale labels. Marker probe
    * and publication go through [[graft.sources.Artifacts]]: the
    * `_SUCCESS` check resolves the path's own FileSystem (HDFS/S3
    * artifactDirs are seen, not just local disk) and the write is
    * staged-then-renamed so concurrent readers never observe a
    * half-written directory. */
  def sccArtifact(spark: org.apache.spark.sql.SparkSession, edges: DataFrame,
                  artifactDir: String): DataFrame =
    graft.sources.Artifacts.buildOrLoad(spark, artifactDir) { staging =>
      stronglyConnectedComponents(edges)
        .write.mode("overwrite").parquet(staging)
    }

  /** Jones–Plassmann greedy graph coloring: a node colors itself the
    * round after every higher-priority neighbor has colored, taking the
    * smallest color its already-colored neighbors don't use (mex) —
    * with deterministic (hash, id) priorities the per-round color sets
    * are independent sets, so no conflicts ever need repair, and
    * expected rounds are O(log V) (Jones & Plassmann 1993). Colors are
    * dense small ints ≤ max-degree — the register-allocation /
    * conflict-scheduling / mutex-partitioning primitive.
    *
    * Vertex-state rounds (the Pregel shape): the priority is a function
    * of the id, so each node's LOWER-priority neighbors (`down`) are
    * fixed once, in-row, when the state is built — and that build is
    * round 1 (a node is blocked iff a neighbor outranks it). A state row
    * (node, down, used, color) is O(degree): `down` plus the colors its
    * colored neighbors use, the mex array. Each round, every row
    * messages its `down` set — "blocked" while uncolored, its color in
    * the round after it colored — and one aggregation by node folds the
    * messages into the uncolored rows: unblocked rows take
    * `array_min(array_except(sequence(0, n), used))` (exact mex, no
    * UDF). Rows that have sent their color leave the state. One exchange
    * per round; the live count rides on the round's own materialization
    * ([[loopSums]]): two jobs per round. Throws past `maxRounds`.
    * Output: (node, color). */
  def greedyColoring(edges: DataFrame, maxRounds: Int = 24): DataFrame = {
    val p = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    def prio(c: Column): Column =
      struct(graft.functions.HashFunctions.md5_prefix64(c.cast("string")).as("h"),
        c.as("id"))
    def mex(used: Column): Column =
      array_min(array_except(sequence(lit(0L), size(used).cast("long")), used))
    // round 1: collect_set dedups the symmetrized edges without a distinct
    var state = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("src").as("node"))
      .agg(collect_set(when(prio(col("dst")) < prio(col("src")), col("dst"))).as("down"),
        max(prio(col("dst")) > prio(col("src"))).as("blocked"))
      .select(col("node"), col("down"), typedLit(Seq.empty[Long]).as("used"),
        when(!col("blocked"), lit(0L)).as("color"))
      .cut
    // a colored neighbor is always of HIGHER priority (it blocked this
    // node until it colored), so blocks and colors both flow along `down`
    def step(s: DataFrame): DataFrame =
      s.filter(col("color").isNull)
        .select(col("node"), col("down"), col("used"), lit(false).as("blocked"))
        .unionByName(s.select(explode(col("down")).as("node"),
          lit(null).cast(s.schema("down").dataType).as("down"),
          when(col("color").isNotNull, array(col("color"))).as("used"),
          col("color").isNull.as("blocked")))
        .groupBy(col("node"))
        .agg(max(col("down")).as("down"),
          array_distinct(flatten(collect_list(col("used")))).as("used"),
          max(col("blocked")).as("blocked"))
        .select(col("node"), col("down"), col("used"),
          when(!col("blocked"), mex(col("used"))).as("color"))
    def counts(s: DataFrame): (BigInt, BigInt) = {
      val c = loopSums(s, lit(1L), col("color").isNull)
      (c(0), c(1))
    }
    def budget(round: Int): Unit =
      require(round <= maxRounds, s"greedyColoring did not converge in $maxRounds rounds")
    // per-round output as a LIST of the rounds' colored rows, read from
    // the cut states: nothing is re-pinned, the final union reads the
    // same cached blocks
    var coloredParts = List(state.filter(col("color").isNotNull))
    val (nodes, live0) = counts(state)
    var nLive = live0
    var round = if (nodes > 0) 1 else 0
    budget(round)
    while (nLive > 0) {
      round += 1
      budget(round)
      state = step(state).cut
      nLive = counts(state)._2
      coloredParts = state.filter(col("color").isNotNull) :: coloredParts
    }
    coloredParts.reduce(_ unionByName _)
      .select(col("node").cast("long").as("node"), col("color"))
  }

  /** Greedy maximal matching by mutual-minimum edges: each round an
    * edge whose (hash, endpoints) priority is the minimum for BOTH its
    * endpoints joins the matching, matched nodes leave, repeat —
    * deterministic O(log V) expected rounds (the Israeli–Itai shape
    * with hash priorities; lexicographic order would serialize a path
    * into O(V) rounds, which is why the hash is load-bearing). The
    * conflict-free pairing primitive (co-scheduling, dedup pairing).
    *
    * Output: one row per matched edge (edge_u, edge_v), edge_u <
    * edge_v. Throws past `maxRounds`. */
  def maximalMatching(edges: DataFrame, maxRounds: Int = 24): DataFrame = {
    val canon = Centrality.undirected(edges)
      .withColumn("ep", struct(
        graft.functions.HashFunctions.md5_prefix64(
          concat(col("a").cast("string"), lit(":"), col("b").cast("string")))
          .as("h"),
        col("a").as("pa"), col("b").as("pb")))
      .pin
    var cur = canon
    val spark = canon.sparkSession
    var matched = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("edge_u", "long").add("edge_v", "long"))
    var round = 0
    while (!cur.isEmpty) {
      round += 1
      require(round <= maxRounds,
        s"maximalMatching did not converge in $maxRounds rounds")
      val nodeMin = cur
        .select(col("a").as("node"), col("ep"))
        .unionByName(cur.select(col("b").as("node"), col("ep")))
        .groupBy(col("node")).agg(min(col("ep")).as("mn"))
      val winners = cur
        .join(nodeMin.select(col("node").as("a"), col("mn").as("ma")), Seq("a"))
        .join(nodeMin.select(col("node").as("b"), col("mn").as("mb")), Seq("b"))
        .filter(col("ep") === col("ma") && col("ep") === col("mb"))
        .select(col("a"), col("b")).pin
      matched = matched.unionByName(
        winners.select(col("a").as("edge_u"), col("b").as("edge_v")))
        .pin
      val touched = winners.select(col("a").as("node"))
        .unionByName(winners.select(col("b").as("node"))).distinct()
      cur = cur
        .join(touched.select(col("node").as("a")), Seq("a"), "left_anti")
        .join(touched.select(col("node").as("b")), Seq("b"), "left_anti")
        .cut
    }
    matched
  }

  /** SCAN structural clustering (Xu, Yuruk, Feng & Schweiger, KDD
    * 2007): communities from STRUCTURAL similarity instead of label
    * voting, with the hub/outlier distinction LPA can't make. Per edge,
    * σ(u,v) = |Γ[u]∩Γ[v]| / √(|Γ[u]||Γ[v]|) over CLOSED neighborhoods
    * (= edge triangle support + 2 over the degree product); an edge is
    * ε-similar when σ ≥ ε — tested as
    * (support+2)²·10⁶ ≥ eps²·(du+1)(dv+1), exact integers, no sqrt.
    * A node is a CORE when its ε-neighborhood (itself included, σ(v,v)
    * = 1) reaches `mu`; clusters are connected components of ε-edges
    * between cores; a non-core ε-similar to a core joins as BORDER
    * (smallest candidate cluster — the deterministic version of the
    * paper's arbitrary choice); the rest split into HUBs (adjacent to
    * ≥ 2 distinct clusters — the bridges curation wants kept) and
    * OUTLIERs.
    *
    * Cost: one [[Centrality.edgeSupport]] adjacency intersect (O(E^1.5)
    * via degree orientation), one degree agg, the ε filter, a CC fixpoint
    * over the (sparse) core ε-edges, two attachment joins. Cluster id =
    * smallest member core id. Output: (node, role, cluster), cluster
    * null for hub/outlier. */
  def scanClusters(edges: DataFrame, epsX1e3: Long, mu: Int): DataFrame = {
    require(epsX1e3 >= 1 && epsX1e3 <= 1000, "eps is (0, 1] scaled by 1e3")
    require(mu >= 2, "mu must be >= 2 (mu = 1 makes every node a core)")
    val und = Centrality.undirected(edges)
      .pinHot // read 4x: degree union, support, undSym, rest
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val simEdges = Centrality.edgeSupportOn(und)
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .filter((col("support") + 2) * (col("support") + 2) * 1000000L >=
        lit(epsX1e3 * epsX1e3) * (col("da") + 1) * (col("db") + 1))
      .select(col("a"), col("b")).pinHot // read 4x below
    val epsCnt = simEdges.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_eps"))
    val cores = epsCnt.filter(col("n_eps") + 1 >= mu).select(col("node"))
      .pinHot // read 3x: two semi-joins + the cluster join
    val coreEdges = simEdges
      .join(cores.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
      .join(cores.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
    val comps = connectedComponents(coreEdges.select(col("a"), col("b")))
    val coreClusters = cores.join(comps, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("cluster"))
      .pinHot // read 4x: borders both sides, clustered union, rest probe
    val simSym = simEdges.unionByName(
      simEdges.select(col("b").as("a"), col("a").as("b")))
    val borders = simSym
      .join(coreClusters.select(col("node").as("b"), col("cluster")), Seq("b"))
      .join(coreClusters.select(col("node").as("a")), Seq("a"), "left_anti")
      .groupBy(col("a").as("node")).agg(min(col("cluster")).as("cluster"))
    val clustered = coreClusters.select(col("node"), col("cluster"),
        lit("core").as("role"))
      .unionByName(borders.select(col("node"), col("cluster"),
        lit("border").as("role")))
    val undSym = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("node"), col("a").as("nbr")))
    val rest = undSym.select(col("node")).distinct()
      .join(clustered.select(col("node")), Seq("node"), "left_anti")
    val restRoles = rest
      .join(undSym, Seq("node"), "left")
      .join(clustered.select(col("node").as("_cn"), col("cluster").as("_cc"))
        .distinct(), col("nbr") === col("_cn"), "left")
      .groupBy(col("node"))
      .agg(countDistinct(col("_cc")).as("_nadj"))
      .select(col("node"), lit(null).cast("long").as("cluster"),
        when(col("_nadj") >= 2, lit("hub")).otherwise(lit("outlier")).as("role"))
    clustered.unionByName(restRoles)
      .select(col("node"), col("role"), col("cluster"))
  }

  /** Max-priority propagation to fixpoint along `edges` (src→dst):
    * every node ends with the (hash-priority, id) pair of the highest-
    * priority node that has a path to it (itself included); returns
    * (node, croot) with croot = that node's id. Priorities are salted
    * 64-bit hashes (ties broken by id via lexicographic struct max), so
    * an adversarially ORDERED graph behaves like a randomly ordered one
    * — the salt changes per [[stronglyConnectedComponents]] outer round.
    *
    * Adaptive depth: plain one-hop rounds early (cheapest while the
    * propagation frontier is shallow — the common case), and past
    * `jumpAfter` rounds each round adds a pointer-jump doubling step
    * (color(v) := max(color(v), color(color(v).n)) — sound because
    * color(v).n reaches v and anything reaching it reaches v), so depth
    * D costs O(jumpAfter + log D) rounds, never O(D). Convergence test:
    * colors only grow lexicographically, so the pair of exact sums
    * (Σh, Σn) is stationary exactly at the fixpoint; it rides on each
    * round's own materialization ([[loopSums]]). */
  private def maxPropagate(edges: DataFrame, nodes: DataFrame, pri: Column,
                           maxRounds: Int, jumpAfter: Int = 8): Option[DataFrame] = {
    def sums(df: DataFrame): IndexedSeq[BigInt] = loopSums(df, col("color.h"), col("color.n"))
    var colors = nodes.select(col("node"), pri.as("color")).cut
    var prev = sums(colors)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val inMax = edges
        .join(colors.select(col("node").as("src"), col("color").as("_c")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(max(col("_c")).as("_inmax"))
      var cur = colors.join(inMax, Seq("node"), "left")
        .select(col("node"),
          greatest(col("color"), coalesce(col("_inmax"), col("color"))).as("color"))
        .cut
      if (round >= jumpAfter) {
        // look up the color CURRENTLY held by the node this color points
        // at — classic doubling: next color covers 2x the path depth
        val ptr = cur.select(col("node").as("_jn"), col("color").as("_jc"))
        cur = cur.join(ptr, col("color").getField("n") === col("_jn"), "left")
          .select(col("node"),
            greatest(col("color"), coalesce(col("_jc"), col("color"))).as("color"))
          .cut
      }
      colors = cur
      val s = sums(colors)
      converged = s == prev
      prev = s
      round += 1
    }
    if (converged) Some(colors.select(col("node"), col("color.n").as("croot")))
    else None
  }

  /** Strongly connected components of a directed edge set (src, dst) —
    * the FW-BW coloring scheme (Orzan 2004 / Hong et al. 2013) with a
    * trim pass, entirely as DataFrame fixpoints:
    *
    * per outer round,
    *  1. TRIM: any remaining node with no in-edge or no out-edge is a
    *     singleton SCC — assigned immediately (one degree semi-join, no
    *     fixpoint). Kills tree/chain regions fast.
    *  2. COLOR forward ([[maxPropagate]]): croot(v) = the max-PRIORITY
    *     node with a path to v — raw node ids on the first attempt (the
    *     structure-correlated fast path), salted hashes on retries and
    *     later rounds (see the mode comment in the body). Every color
    *     class contains its root r, and pri(r) is the max priority in
    *     the class.
    *  3. EXTRACT: SCC(r) = {v in class : v →* r} — BFS backward closure
    *     from the roots over class-internal edges ([[levelLoop]]; rounds
    *     = SCC diameter, the cheap common case), falling back past the BFS
    *     budget to a second [[maxPropagate]] over the class edges
    *     REVERSED with the SAME priorities: backward croot == forward
    *     croot exactly on the root's SCC. Both directions are
    *     depth-adaptive, so a deep chain inside a class costs
    *     O(log depth) rounds, not O(depth).
    *
    * Extracted nodes leave the graph and the remainder recolors next
    * round. Salted priorities make the outer-round count O(log n)
    * EXPECTED on chain-shaped condensations regardless of how ids are
    * laid out along the chain (with raw ids, a descending chain of k
    * cycles needs k rounds — each round extracts only the head cycle;
    * re-salting each round makes every round extract the prefix maxima
    * of every remaining chain fragment and split it). The budget-throw
    * stays: a pathological graph fails loudly, never silently partial.
    *
    * Output: (node, component) with component = the max member id of
    * the node's SCC — canonical regardless of extraction order or
    * salt (roots are relabeled to their SCC max at the end).
    *
    * Scale shape: every step is an equi-join + aggregation on (src) or
    * (dst) — no closure table, no per-node adjacency state; pair volume
    * never exceeds |E|. Lineage truncated per round via localCheckpoint
    * like every fixpoint here. */
  def stronglyConnectedComponents(edges: DataFrame, maxOuterRounds: Int = 12,
                                  maxInnerRounds: Int = 60): DataFrame = {
    val e0 = edges.select(col("src"), col("dst")).distinct().pin
    val emptyAssign = e0.select(col("src").as("node"), col("src").as("component")).limit(0)
    var assigned = emptyAssign
    var remaining = e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node"))).distinct().pin
    var remainingEdges = e0
    var remainingCount = remaining.count()
    var outer = 0
    while (remainingCount > 0 && outer < maxOuterRounds) {
      // ---- 1. trim (one pass per outer round): chain ENDS go straight
      // to singleton SCCs; interior chain nodes either fall to a later
      // trim or come out as color roots of the same color fixpoint the
      // cyclic nodes already pay for — measured on the gate graph, a
      // trim-to-fixpoint variant only added driver rounds (11.0s vs
      // 8.2s at sf0.1) because no outer round was actually saved
      val noIn = remaining.join(
        remainingEdges.select(col("dst").as("node")), Seq("node"), "left_anti")
      val noOut = remaining.join(
        remainingEdges.select(col("src").as("node")), Seq("node"), "left_anti")
      val trimmed = noIn.unionByName(noOut).distinct()
        .select(col("node"), col("node").as("component"))
        .cut
      if (trimmed.count() > 0) {
        assigned = assigned.unionByName(trimmed).cut
        remaining = remaining.join(trimmed, Seq("node"), "left_anti").cut
        remainingEdges = remainingEdges
          .join(remaining.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(remaining.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .cut
        remainingCount = remaining.count()
      }
      if (remainingCount > 0) {
        // ---- 2 + 3. color forward, then extract SCC(root) per class.
        // The whole round runs in a MODE, because forward coloring and
        // backward extraction must share one priority space (mixed
        // spaces stay sound — croots are genuine ancestors/descendants
        // whichever priority picked them — but lose the progress
        // guarantee):
        //   mode 0 (outer round 0 only): RAW node-id priorities + BFS
        //     extraction. Real graphs assign ids in structure-correlated
        //     order and the id-max coloring routinely collapses most of
        //     the graph immediately (measured on the gate graph: raw
        //     ids leave 7% after round 0). But raw ids can STALL the
        //     doubling — ids ascending along edges make every node's
        //     best-known ancestor itself, so jump pointers self-loop
        //     and the max moves one hop per round — hence the small
        //     budget and the retry.
        //   mode 1: salted-hash priorities (xxhash64(node, outer)) —
        //     random priorities break self-pointer alignment, restoring
        //     O(log depth) shortcutting w.h.p., and re-salting per outer
        //     round turns the adversarial descending-chain layout
        //     (one SCC per round, Θ(n) rounds) into the random layout
        //     (prefix maxima per fragment, O(log n) expected). BFS
        //     extraction first (rounds = SCC diameter, the cheap common
        //     case); past the BFS budget, backward max-propagation over
        //     the REVERSED class edges, same priorities: bwd croot ==
        //     fwd croot exactly on nodes that reach their class root.
        val rawPri = struct(col("node").as("h"), col("node").as("n"))
        val hashedPri = struct(
          xxhash64(col("node"), lit(outer)).as("h"), col("node").as("n"))
        var marked: DataFrame = null
        var mode = if (outer == 0) 0 else 1
        while (marked == null) {
          val pri = if (mode == 0) rawPri else hashedPri
          val budget = if (mode == 0) math.min(20, maxInnerRounds) else maxInnerRounds
          maxPropagate(remainingEdges, remaining, pri, budget) match {
            case None if mode == 0 => mode = 1
            case None => throw new IllegalStateException(
              s"SCC coloring did not converge in $maxInnerRounds rounds; " +
                "raise maxInnerRounds")
            case Some(f) =>
              val fwd = f.cut
              val ce = remainingEdges
                .join(fwd.select(col("node").as("src"), col("croot").as("_cs")), Seq("src"))
                .join(fwd.select(col("node").as("dst"), col("croot").as("_cd")), Seq("dst"))
                .filter(col("_cs") === col("_cd"))
                .select(col("src"), col("dst"))
                .cut
              val roots = fwd.filter(col("node") === col("croot"))
                .select(col("node"), col("croot").as("component")).cut
              val (bfsMarked, dry) =
                levelLoop(roots, Seq("node"), None, math.min(15, maxInnerRounds)) { f =>
                  ce.join(f.select(col("node").as("dst"), col("component")), Seq("dst"))
                    .select(col("src").as("node"), col("component")).distinct()
                }
              if (dry) marked = bfsMarked
              else if (mode == 0) mode = 1 // deep SCC: redo the round hashed
              else {
                val bwd = maxPropagate(
                  ce.select(col("dst").as("src"), col("src").as("dst")),
                  remaining, pri, maxInnerRounds).getOrElse(
                  throw new IllegalStateException(
                    s"SCC extraction did not converge in $maxInnerRounds rounds; " +
                      "raise maxInnerRounds"))
                marked = fwd
                  .join(bwd.select(col("node"), col("croot").as("_b")), Seq("node"))
                  .filter(col("croot") === col("_b"))
                  .select(col("node"), col("croot").as("component"))
                  .cut
              }
          }
        }
        assigned = assigned.unionByName(marked).cut
        remaining = remaining.join(marked, Seq("node"), "left_anti").cut
        remainingEdges = remainingEdges
          .join(remaining.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(remaining.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .cut
        remainingCount = remaining.count()
      }
      outer += 1
    }
    if (remainingCount > 0) throw new IllegalStateException(
      s"SCC did not settle in $maxOuterRounds outer rounds (condensation chain " +
        "deeper than the budget); raise maxOuterRounds")
    // canonical labels: component id = max member of the SCC (salted
    // roots are arbitrary; trim-assigned singletons are already canon)
    val canon = assigned.groupBy(col("component")).agg(max(col("node")).as("_cmax"))
    assigned.join(canon, Seq("component"))
      .select(col("node"), col("_cmax").as("component"))
  }

  /** Bounded-depth reachability (the `*1..k` form): a per-source BFS
    * over (src, dst) pairs ([[levelLoop]]) — at most k − 1 expansions
    * of the one-hop pairs, fewer when the frontier runs dry, no closure
    * materialization. */
  def reachWithin(edges: DataFrame, depth: Int): DataFrame = {
    val base = edges.select(col("src"), col("dst")).distinct().pin
    levelLoop(base, Seq("src", "dst"), None, depth - 1) { f =>
      f.join(base.select(col("src").as("_m"), col("dst").as("_d")), col("dst") === col("_m"))
        .select(col("src"), col("_d").as("dst")).distinct()
    }._1
  }

  /** The level-synchronous frontier loop (BFS shape). Each round
    * expands the frontier one hop (`expand`: keys plus payload, one row
    * per key), anti-joins away every key already visited and cuts the
    * result; the round's row count rides on that cut's own
    * materialization ([[loopSums]]). A non-empty level joins the visited
    * set, stamped with the round number in `level` when given, and
    * becomes the next frontier. `start` holds the level-0 rows (keys,
    * payload, `level` at 0); the first frontier is `start` without
    * `level`. Runs at most `maxLevels` rounds; returns the visited frame
    * and whether the frontier ran dry (a round came back empty) within
    * them. */
  private[graph] def levelLoop(start: DataFrame, keys: Seq[String], level: Option[String],
                               maxLevels: Int)(expand: DataFrame => DataFrame)
      : (DataFrame, Boolean) = {
    var visited = start
    var frontier = level.fold(start)(start.drop)
    var d = 1L
    var dry = false
    while (!dry && d <= maxLevels) {
      val next = expand(frontier)
        .join(visited.select(keys.map(col): _*), keys, "left_anti")
        .cut
      dry = loopSums(next, lit(1L)).head == 0
      if (!dry) {
        // lazy: the next round's anti-join (or the caller) materializes it
        visited = visited.unionByName(level.fold(next)(l => next.withColumn(l, lit(d)))).cut
        frontier = next
      }
      d += 1
    }
    (visited, dry)
  }

  /** The monotone-relaxation frontier loop (SPFA shape) over a per-node
    * best value: only nodes IMPROVED last round re-propagate, so total
    * work follows the relaxations that actually happen, not rounds ×
    * O(E + V). `candidates(frontier)` yields (node, `value`), one row per
    * node; a candidate survives when the node has no value yet or
    * `better(candidate, current)` holds, and the survivors, cut, are the
    * next frontier and overwrite `best` (one full-outer join). The
    * round's row count rides on the cut's own materialization
    * ([[loopSums]]). After `maxRounds` non-empty rounds one confirmation
    * round tells "the last round landed exactly on the fixpoint" from a
    * truncated relaxation, which throws `failure`. Output: `init`'s
    * (node, `value`) columns. */
  private[graph] def relaxLoop(init: DataFrame, value: String, better: (Column, Column) => Column,
                               maxRounds: Int, failure: String)
                              (candidates: DataFrame => DataFrame): DataFrame = {
    var best = init
    def improvements(front: DataFrame): DataFrame =
      candidates(front)
        .join(best.select(col("node"), col(value).as("_old")), Seq("node"), "left")
        .filter(col("_old").isNull || better(col(value), col("_old")))
        .select(col("node"), col(value))
    var frontier = init
    var round = 0
    var settled = false
    while (!settled && round < maxRounds) {
      val improved = improvements(frontier).cut
      settled = loopSums(improved, lit(1L)).head == 0
      if (!settled) {
        best = best.join(improved.withColumnRenamed(value, "_new"), Seq("node"), "full")
          .select(col("node"), coalesce(col("_new"), col(value)).as(value))
          .cut
        frontier = improved
      }
      round += 1
    }
    if (!settled && loopSums(improvements(frontier), lit(1L)).head > 0)
      throw new IllegalStateException(failure)
    best
  }

  /** Column sums (as longs, summed exactly) over `df` in ONE job that
    * also materializes a lazily cut frame: the loop-control statistic of
    * a vertex-state round rides on the round's own materialization
    * instead of a global-aggregate exchange (an aggregate is two jobs
    * under AQE). Null cells count 0; an empty frame sums to zeros. */
  private[graph] def loopSums(df: DataFrame, cols: Column*): IndexedSeq[BigInt] = {
    val n = cols.length
    df.select(cols.map(_.cast("long")): _*).queryExecution.toRdd
      .mapPartitions { rows =>
        val acc = Array.fill(n)(BigInt(0))
        rows.foreach { r =>
          var i = 0
          while (i < n) { if (!r.isNullAt(i)) acc(i) += r.getLong(i); i += 1 }
        }
        Iterator(acc.toIndexedSeq)
      }
      .fold(IndexedSeq.fill(n)(BigInt(0)))((x, y) => x.zip(y).map { case (a, b) => a + b })
  }
}
