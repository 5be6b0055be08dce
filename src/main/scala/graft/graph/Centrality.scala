package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Lineage._

/** Link-centrality over an edge set (src, dst) — the PageRank-style
  * quality signal a web-corpus curation pipeline attaches to documents
  * (pages linked from many well-linked pages rank higher than orphan
  * spam). The reference has no graph-analytic operators; this extends the
  * iterative family ([[Fixpoint]]) with a weighted numeric fixpoint.
  *
  * All arithmetic is scaled integer (ranks in millionths): contributions
  * are `r div outdeg`, the damping step is `150000 + (85 * Σ) div 100` —
  * exact long math, summation-order-independent, so results are
  * bit-identical under any partitioning and reproducible in the SQL
  * oracle (which unrolls the same iterations as chained CTEs). Dangling
  * nodes (no outlinks) leak their mass by default — the standard
  * simplification; `redistributeDangling = true` adds the per-round
  * dangling-sum share (S div N, floor) to every node's incoming mass
  * before damping, restoring (floor-exact) mass conservation. Web-style
  * corpora are sink-heavy, and without the term their ranks bias low.
  *
  * Scale shape per iteration (unweighted and personalized PageRank): one
  * vertex-state aggregation — rank-share messages unioned with the
  * (node, rank, out-neighbors) rows, one exchange, a map-side combinable
  * sum. O(E) work per round, no closure materialization; lineage
  * truncated per round with a lazy cut exactly like [[Fixpoint]].
  */
object Centrality {

  /** Ranks in millionths after `iterations` damped rounds (d = 0.85).
    * Output: (node, rank_x1e6). */
  def pagerank(edges: DataFrame, iterations: Int,
               redistributeDangling: Boolean = false): DataFrame = {
    val e = edges.select(col("src"), col("dst")).pin
    val state = e.unionByName(e.select(col("dst").as("src"), nullOf(e, "dst").as("dst")))
      .groupBy(col("src").as("node"))
      .agg(collect_set(col("dst")).as("out"))
      .select(col("node"), lit(1000000L).as("r"), lit(150000L).as("tel"), col("out"))
    dampedRank(state, iterations, redistributeDangling)
  }

  /** Shared damped-fixpoint loop under both PageRank variants over the
    * vertex state (node, r, tel, out): current rank and per-node
    * teleport mass in ppm, and the node's distinct out-neighbors — an
    * O(out-degree) row, built by the caller in one aggregation. A round
    * unions the rank shares `r div |out|` (one message per out-edge)
    * with the state rows and aggregates once by node (map-side
    * combinable sum): one exchange, so one job per iteration under the
    * lazy lineage cut. With redistribution, the dangling share `S div N`
    * (S = rank held by nodes without out-edges) is one tiny per-round
    * sum ([[Fixpoint.loopSums]]) on the job that materializes the
    * previous round — exact integer math, so determinism is preserved. */
  private def dampedRank(init: DataFrame, iterations: Int,
                         redistributeDangling: Boolean): DataFrame = {
    var state = init.cut
    (1 to iterations).foreach { _ =>
      val mass = coalesce(col("m"), lit(0L))
      val shared = if (!redistributeDangling) mass else {
        val s = Fixpoint.loopSums(state, when(size(col("out")) === 0, col("r")), lit(1L))
        mass + lit((s(0) / s(1).max(1)).toLong)
      }
      state = state
        .select(explode(col("out")).as("node"), nullOf(state, "tel").as("tel"),
          nullOf(state, "out").as("out"), expr("r div size(out)").as("c"))
        .unionByName(state.select(col("node"), col("tel"), col("out"),
          nullOf(state, "r").as("c")))
        .groupBy(col("node"))
        .agg(max(col("tel")).as("tel"), max(col("out")).as("out"), sum(col("c")).as("m"))
        .withColumn("m", shared)
        .select(col("node"), expr("tel + (85 * m) div 100").as("r"), col("tel"), col("out"))
        .cut
    }
    state.select(col("node"), col("r").as("rank_x1e6"))
  }

  /** Personalized (topic-sensitive) PageRank: the teleport mass returns
    * to the SEED set instead of everywhere, so rank measures weighted
    * proximity to the seeds — the "more like these" expansion signal
    * (seed documents → related documents) quality-propagation curation
    * uses. Identical exact-integer arithmetic and per-round shape to
    * [[pagerank]]; only the teleport vector differs: seeds restart with
    * 150000 ppm, non-seeds with 0, so an unreachable node's rank is
    * exactly 0 (never the uniform floor). */
  def pagerankPersonalized(edges: DataFrame, seeds: DataFrame,
                           iterations: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).pin
    // node universe = edge endpoints ∪ seeds: a seed with no incident
    // edges still ranks at its teleport floor instead of vanishing
    val state = e.withColumn("_s", lit(0L))
      .unionByName(e.select(col("dst").as("src"), nullOf(e, "dst").as("dst"), lit(0L).as("_s")))
      .unionByName(seeds.select(col("node").as("src"), nullOf(e, "dst").as("dst"),
        lit(1L).as("_s")))
      .groupBy(col("src").as("node"))
      .agg(collect_set(col("dst")).as("out"), max(col("_s")).as("_s"))
      .select(col("node"), (col("_s") * 1000000L).as("r"), (col("_s") * 150000L).as("tel"),
        col("out"))
    dampedRank(state, iterations, redistributeDangling = false)
  }

  /** WEIGHTED PageRank: each node's rank splits across its out-edges in
    * proportion to edge weight — contribution along (u, v, w) is
    * `(r_u * w) div Σ_out w(u)` — the link-weighted quality propagation
    * used when edges carry interaction counts / similarity scores
    * instead of bare existence. Exact long arithmetic like [[pagerank]]
    * (per-edge floor, order-independent sums), so results are
    * bit-identical under any partitioning and SQL-oracle-reproducible.
    * Weights must be POSITIVE longs; parallel edges merge by weight sum
    * first. Overflow headroom: r ≤ 1e6·|V| and r·w must stay under 2^63
    * — at |V| = 1e9 that allows weights to ~9e3; pre-scale weights down
    * if yours are larger. Per round: one edges⋈ranks join co-partitioned
    * with the out-weight join, one map-side-combinable sum, one left
    * join back to the node set. */
  def pagerankWeighted(edges: DataFrame, iterations: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .pin
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .pin
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    var r = nodes.withColumn("r", lit(1000000L))
    (1 to iterations).foreach { _ =>
      val contrib = e.join(r.withColumnRenamed("node", "src"), Seq("src"))
        .join(outw, Seq("src"))
        .select(col("dst").as("node"), expr("(r * w) div ow").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr("150000 + (85 * coalesce(m, CAST(0 AS BIGINT))) div 100").as("r"))
        .cut
    }
    r.select(col("node"), col("r").as("rank_x1e6"))
  }

  /** Harmonic centrality from a SAMPLED seed set (Boldi–Vigna's
    * recommended closeness variant — sums 1/d, so disconnected pairs
    * contribute 0 instead of poisoning the mean): for every reached
    * node, Σ_seeds floor(1e6 / d(seed, node)) over seeds at distance
    * 1..maxDepth. Exact integers (per-term floor, order-independent
    * sum) → SQL-oracle-reproducible. Built on [[Fixpoint.seedDistances]];
    * at 100 TB the seed SAMPLE size is the cost knob (the standard
    * landmark approximation), maxDepth bounds state like any k-hop
    * operator. Pass a symmetrized edge set for the undirected form. */
  def harmonicCentrality(edges: DataFrame, seeds: DataFrame,
                         maxDepth: Int): DataFrame =
    Fixpoint.seedDistances(edges, seeds, maxDepth)
      .filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(sum(expr("1000000 div dist")).as("harmonic_x1e6"))

  /** Newman modularity of a GIVEN partition (Newman & Girvan 2004):
    * Q = Σ_c [ e_c/m − (d_c / 2m)² ] where e_c = intra-community edge
    * count, d_c = total degree inside community c, m = undirected edge
    * count — the standard "is this clustering better than chance"
    * score for any community assignment (connected components, label
    * propagation, an attribute partition). Emitted as the exact ppm
    * integer Q·10⁶ = (10⁶·(4m·Σe_c − Σd_c²)) div (4m²) in
    * decimal(38,0) — no float accumulation, any engine reproduces it.
    *
    * One degree agg + one broadcast assignment join per endpoint + two
    * community aggs; nodes absent from `assignment` count as singleton
    * communities of their own id (their d² still enters the null
    * model — silently dropping them would inflate Q). Output one row:
    * (n_communities, m_edges, q_ppm). */
  def modularity(edges: DataFrame, assignment: DataFrame): DataFrame = {
    val und = undirected(edges).pin
    val asg = assignment.select(col("node"), col("community"))
    def lab(end: Column) = coalesce(col("community"), end)
    val aLab = und.join(asg.withColumnRenamed("node", "a"), Seq("a"), "left")
      .select(col("a"), col("b"), lab(col("a")).as("ca")).drop("community")
    val both = aLab.join(asg.withColumnRenamed("node", "b"), Seq("b"), "left")
      .select(col("ca"), lab(col("b")).as("cb"))
      .pin
    val m = both.count()
    require(m > 0, "modularity needs at least one non-loop edge")
    val intra = both.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("e_c"))
    val degree = both.select(col("ca").as("c"))
      .unionByName(both.select(col("cb").as("c")))
      .groupBy(col("c")).agg(count(lit(1)).as("d_c"))
    degree.join(intra, Seq("c"), "left")
      .agg(count(lit(1)).as("n_communities"),
        sum(coalesce(col("e_c"), lit(0L))).as("_se"),
        sum(col("d_c").cast("decimal(38,0)") * col("d_c")).as("_sd2"))
      .select(col("n_communities"), lit(m).as("m_edges"),
        expr(s"cast((1000000 * (4 * $m * cast(_se as decimal(38,0)) - _sd2)) " +
          s"div (4 * cast($m as decimal(38,0)) * $m) as bigint)").as("q_ppm"))
  }

  /** Rich-club coefficient curve (Zhou & Mondragón 2004): for each
    * degree threshold k, φ(k) = 2·E_k / (N_k·(N_k−1)) in exact ppm,
    * where N_k = nodes of degree > k and E_k = edges between two such
    * nodes — "do the hubs wire to each other more than chance", the
    * elite-interconnection fingerprint (core-periphery vs decentralized
    * topologies). One degree agg + one threshold explode per edge
    * (|ks| rows each — thresholds are a small literal list) + one agg
    * per k; decimal(38,0) so web-scale N_k² cannot wrap. Thresholds
    * with N_k < 2 emit NULL φ (undefined). Output: (k, n_nodes,
    * n_edges, phi_ppm). */
  def richClub(edges: DataFrame, ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 0), "need non-negative thresholds")
    require(ks.distinct.size == ks.size, "duplicate thresholds")
    val und = undirected(edges).pin
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .pin
    val kArr = array(ks.map(lit): _*)
    val nodesPerK = deg
      .select(explode(filter(kArr, k => col("deg") > k)).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val edgesPerK = und
      .join(deg.select(col("node").as("a"), col("deg").as("_da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("_db")), Seq("b"))
      .select(explode(filter(kArr,
        k => col("_da") > k && col("_db") > k)).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    val spark = edges.sparkSession
    import spark.implicits._
    ks.toDF("k").join(nodesPerK, Seq("k"), "left")
      .join(edgesPerK, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi_ppm",
        when(col("n_nodes") < 2, lit(null).cast("long"))
          .otherwise(expr(
            """cast((2 * cast(n_edges as decimal(38,0)) * 1000000) div
               (cast(n_nodes as decimal(38,0)) * (n_nodes - 1)) as bigint)""")))
  }

  /** Weighted Newman modularity: Q_w = Σ_c [ w_c/W − (s_c/2W)² ] with
    * W = total undirected edge weight, w_c = intra-community weight,
    * s_c = community strength (Σ member weighted degrees) — the
    * [[modularity]] generalization for co-occurrence counts, shared-run
    * lengths, traffic volumes. Parallel edge rows sum their weights
    * into one undirected edge first (the multigraph reading);
    * non-positive total weight is rejected loudly. Exact ppm via
    * decimal(38,0): (10⁶·(4W·Σw_c − Σs_c²)) div 4W². Output one row:
    * (n_communities, total_weight, q_ppm). */
  def modularityWeighted(edges: DataFrame, assignment: DataFrame,
                         weightCol: String): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        col(weightCol).cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      .pin
    val asg = assignment.select(col("node"), col("community"))
    def lab(end: Column) = coalesce(col("community"), end)
    val both = und.join(asg.withColumnRenamed("node", "a"), Seq("a"), "left")
      .select(col("a"), col("b"), col("w"), lab(col("a")).as("ca"))
      .drop("community")
      .join(asg.withColumnRenamed("node", "b"), Seq("b"), "left")
      .select(col("w"), col("ca"), lab(col("b")).as("cb"))
      .pin
    val wTot = both.agg(coalesce(sum(col("w")), lit(0L))).collect().head.getLong(0)
    require(wTot > 0, "modularityWeighted needs positive total edge weight")
    val intra = both.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(sum(col("w")).as("w_c"))
    val strength = both.select(col("ca").as("c"), col("w"))
      .unionByName(both.select(col("cb").as("c"), col("w")))
      .groupBy(col("c")).agg(sum(col("w")).as("s_c"))
    strength.join(intra, Seq("c"), "left")
      .agg(count(lit(1)).as("n_communities"),
        sum(coalesce(col("w_c"), lit(0L))).as("_sw"),
        sum(col("s_c").cast("decimal(38,0)") * col("s_c")).as("_ss2"))
      .select(col("n_communities"), lit(wTot).as("total_weight"),
        expr(s"cast((1000000 * (4 * $wTot * cast(_sw as decimal(38,0)) - _ss2)) " +
          s"div (4 * cast($wTot as decimal(38,0)) * $wTot) as bigint)")
          .as("q_ppm"))
  }

  /** Per-community conductance: φ(c) = cut(c) / min(vol(c), vol(V∖c))
    * as exact ppm — the cut-quality read [[modularity]]'s single global
    * score can't give (a partition can score well overall while one
    * community leaks half its edges; conductance names it). cut(c) =
    * undirected edges with exactly one endpoint in c; vol(c) = Σ member
    * degrees; vol(V∖c) = 2m − vol(c). Nodes absent from `assignment`
    * are singleton communities, mirroring [[modularity]].
    *
    * Two endpoint-label joins + two community aggs + a 1-row broadcast
    * total — nothing data-sized in one task. Output: (community,
    * n_nodes, volume, cut_edges, conductance_ppm); a community owning
    * ALL volume has an empty complement and emits NULL conductance
    * (the ratio is undefined, not 0 — a 0 would read as a perfect
    * cluster). */
  def conductance(edges: DataFrame, assignment: DataFrame): DataFrame = {
    val und = undirected(edges).pin
    val asg = assignment.select(col("node"), col("community"))
    def lab(end: Column) = coalesce(col("community"), end)
    val both = und
      .join(asg.withColumnRenamed("node", "a"), Seq("a"), "left")
      .select(col("a"), col("b"), lab(col("a")).as("ca")).drop("community")
      .join(asg.withColumnRenamed("node", "b"), Seq("b"), "left")
      .select(col("a"), col("b"), col("ca"), lab(col("b")).as("cb"))
      .pin
    val m2 = both.count() * 2
    val vol = both.select(col("ca").as("c"), col("a").as("node"))
      .unionByName(both.select(col("cb").as("c"), col("b").as("node")))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("volume"), countDistinct(col("node")).as("n_nodes"))
    val cut = both.filter(col("ca") =!= col("cb"))
      .select(explode(array(col("ca"), col("cb"))).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("cut_edges"))
    vol.join(cut, Seq("c"), "left")
      .select(col("c").as("community"), col("n_nodes"), col("volume"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"))
      .withColumn("conductance_ppm",
        when(least(col("volume"), lit(m2) - col("volume")) === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            s"(cut_edges * 1000000) div least(volume, $m2 - volume)")))
  }

  /** Weighted per-community conductance: φ_w(c) = cut_w(c) /
    * min(vol_w(c), W₂ − vol_w(c)) in exact ppm — the weighted companion
    * to [[conductance]], so community-quality reads on co-occurrence /
    * traffic graphs no longer mix weighted Q ([[modularityWeighted]])
    * with unweighted φ. Parallel edge rows sum their weights into one
    * undirected edge first (the same multigraph reading as
    * [[modularityWeighted]]); vol_w(c) = Σ member weighted degrees,
    * W₂ = 2·Σw. Nodes absent from `assignment` are singletons. With all
    * weights 1 this reduces exactly to [[conductance]] (property-tested).
    *
    * Same shape as the unweighted pass: two endpoint-label joins + two
    * community aggs + a 1-row total — nothing data-sized in one task.
    * decimal(38,0) numerators so 10¹²-scale weights cannot wrap. A
    * community owning ALL volume emits NULL (undefined, not 0). */
  def conductanceWeighted(edges: DataFrame, assignment: DataFrame,
                          weightCol: String): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        col(weightCol).cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      .pin
    val asg = assignment.select(col("node"), col("community"))
    def lab(end: Column) = coalesce(col("community"), end)
    val both = und
      .join(asg.withColumnRenamed("node", "a"), Seq("a"), "left")
      .select(col("a"), col("b"), col("w"), lab(col("a")).as("ca"))
      .drop("community")
      .join(asg.withColumnRenamed("node", "b"), Seq("b"), "left")
      .select(col("a"), col("b"), col("w"), col("ca"), lab(col("b")).as("cb"))
      .pin
    val w2 = 2L * both.agg(coalesce(sum(col("w")), lit(0L)))
      .collect().head.getLong(0)
    require(w2 > 0, "conductanceWeighted needs positive total edge weight")
    val vol = both.select(col("ca").as("c"), col("a").as("node"), col("w"))
      .unionByName(both.select(col("cb").as("c"), col("b").as("node"), col("w")))
      .groupBy(col("c"))
      .agg(sum(col("w")).as("volume"), countDistinct(col("node")).as("n_nodes"))
    val cut = both.filter(col("ca") =!= col("cb"))
      .select(explode(array(col("ca"), col("cb"))).as("c"), col("w"))
      .groupBy(col("c")).agg(sum(col("w")).as("cut_weight"))
    vol.join(cut, Seq("c"), "left")
      .select(col("c").as("community"), col("n_nodes"), col("volume"),
        coalesce(col("cut_weight"), lit(0L)).as("cut_weight"))
      .withColumn("conductance_ppm",
        when(least(col("volume"), lit(w2) - col("volume")) === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            s"""cast((cast(cut_weight as decimal(38,0)) * 1000000) div
               least(volume, $w2 - volume) as bigint)""")))
  }

  /** Degree-assortativity moment sums (Newman 2002): the exact integer
    * components of the Pearson correlation between endpoint degrees over
    * the undirected edge set — (m, Σx, Σy, Σxy, Σx², Σy²) with each
    * undirected edge counted ONCE in each direction (the standard
    * symmetric convention, so Σx = Σy). The final r = (m·Σxy − Σx·Σy) /
    * √(m·Σx²−Σx²ᵗᵒᵗ)·√(m·Σy²−…) is irrational — computing it is the
    * consumer's one float division; everything emitted here is
    * order-independent exact integer arithmetic, reproducible in any
    * engine. One shuffle for degrees + one broadcast-degree join over
    * the edges; decimal(38,0) sums so a 10^12-edge graph cannot wrap. */
  def degreeAssortativityMoments(edges: DataFrame): DataFrame = {
    // Work on the UNDIRECTED edge set and fold the symmetric convention
    // into the aggregates instead of materializing both directions: over
    // the symmetrized set, m = 2·|und|, Σx = Σy = Σ_und (da + db),
    // Σxy = 2·Σ_und da·db, Σx² = Σy² = Σ_und (da² + db²) — exact integer
    // identities, so the output is value-identical while the degree
    // joins, the shuffle, and the pin all carry HALF the rows and the
    // union disappears (guide §2.3: shuffle fewer bytes; §2.4: remove
    // the duplicate-direction pass outright). Degrees come from one
    // in-row explode of the endpoint pair — same one-shuffle census.
    val und = undirected(edges).pin
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    und
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      .agg((count(lit(1)) * 2L).as("m"),
        sum(dec(col("da")) + dec(col("db"))).cast("decimal(38,0)").as("sum_x"),
        sum(dec(col("da")) + dec(col("db"))).cast("decimal(38,0)").as("sum_y"),
        (sum(dec(col("da")) * dec(col("db"))) * 2L).cast("decimal(38,0)").as("sum_xy"),
        sum(dec(col("da")) * dec(col("da")) + dec(col("db")) * dec(col("db")))
          .cast("decimal(38,0)").as("sum_x2"),
        sum(dec(col("da")) * dec(col("da")) + dec(col("db")) * dec(col("db")))
          .cast("decimal(38,0)").as("sum_y2"))
  }

  /** Distinct co-occurrence edges: items sharing a group become (src <
    * dst) pairs — the co-purchase / co-citation graph constructor. ONE
    * shuffle (the groupBy); pairs expand IN-ROW from each group's sorted
    * item set (k² per group where k = group size), where the equivalent
    * self-join would shuffle the item table twice and hit the same k²
    * blow-up anyway. Groups far above typical size are the skew knob:
    * cap or sample them upstream (a 10k-item group is 50M pairs whichever
    * plan builds it). */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String): DataFrame = {
    val grouped = df.select(col(groupCol).as("g"), col(itemCol).as("i"))
      .groupBy(col("g")).agg(array_sort(collect_set(col("i"))).as("is"))
    grouped.select(explode(orderedPairs(col("is"), "src", "dst")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
  }

  /** Weighted co-occurrence: like [[coOccurrenceEdges]] but counting HOW
    * MANY groups each (src < dst) pair shares — the co-purchase /
    * co-citation strength matrix (market-basket support counts, citation
    * coupling). Same single-shuffle in-row k² expansion; the count agg
    * replaces the distinct. `minCount` prunes the long tail of
    * incidental pairs BEFORE the result materializes — at 100 TB the
    * support floor is what keeps the output near-linear (pairs sharing
    * ≥2 groups are a tiny fraction of all pairs), and oversized groups
    * remain the documented skew knob to cap upstream. */
  def coOccurrenceCounts(df: DataFrame, groupCol: String, itemCol: String,
                         minCount: Long): DataFrame = {
    val grouped = df.select(col(groupCol).as("g"), col(itemCol).as("i"))
      .groupBy(col("g")).agg(array_sort(collect_set(col("i"))).as("is"))
    grouped.select(explode(orderedPairs(col("is"), "src", "dst")).as("e"))
      .groupBy(col("e.src").as("src"), col("e.dst").as("dst"))
      .agg(count(lit(1)).as("n_groups"))
      .filter(col("n_groups") >= minCount)
  }

  /** Per-node triangle participation count over an undirected simple
    * graph — the clustering/cohesion signal of community detection and
    * spam-farm flagging (link farms are triangle-dense; legitimate
    * topical clusters are too, orphan spam is not).
    *
    * Edge iterator over compact-forward adjacency (Schank & Wagner
    * 2005): [[closeWedges]] closes every triangle u ≺ v ≺ w exactly once,
    * at its base edge (u, v), as w ∈ N⁺(u) ∩ N⁺(v) — an in-row
    * codegen'd array_intersect; the three corners are exploded and
    * counted in one aggregation. Per-node counts are
    * orientation-invariant. Nodes in no triangle report 0.
    *
    * Scale: Σ d⁺² intersect work. Orienting by DEGREE rank — not node
    * id — is what makes the compact-forward O(E^1.5) bound real: every
    * out-degree is at most O(√E) because a node keeps only neighbors of
    * higher degree, so a hub's wedges are charged to its (few,
    * high-degree) successors. An id orientation has no such bound — a
    * low-id hub keeps its full neighborhood and the work degenerates to
    * Σ deg². Only actual triangles are exploded (3 corners each); the
    * oriented set is shuffled once, into the adjacency
    * ([[outAdjacency]]). */
  def triangleCount(edges: DataFrame): DataFrame = trianglesOn(undirected(edges).pin)

  /** [[triangleCount]] of an already-canonical (a < b, distinct) edge set,
    * pinned by the caller: [[orientByDegree]] reads it three times. */
  private def trianglesOn(und: DataFrame): DataFrame = {
    val adj = outAdjacency(und)
    // the third corners ride the intersect result; u and v each count
    // once per triangle on their base edge
    val corners = closeWedges(adj)
      .select(explode(concat(col("ws"),
        array_repeat(col("u"), size(col("ws"))),
        array_repeat(col("v"), size(col("ws"))))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n"))
    // every non-isolated node has an out-edge or is someone's out-neighbor
    val nodes = adj.select(explode(concat(array(col("u")), col("ns"))).as("node"))
      .distinct()
    nodes.join(corners, Seq("node"), "left")
      .select(col("node"), coalesce(col("n"), lit(0L)).as("n_triangles"))
  }

  /** 4-clique (K4) census over an undirected simple graph — the
    * next-order cohesion motif after triangles and rectangles: K4
    * density separates genuinely dense communities from triangle-rich
    * but shallow link farms (a K4 needs all six pairwise ties).
    *
    * Same compact-forward discipline as [[triangleCount]], one order
    * higher: [[closeWedges]] yields every oriented triangle u ≺ v ≺ w
    * with ws = N⁺(u) ∩ N⁺(v); a fourth node x completes a K4 exactly
    * when x ∈ ws ∩ N⁺(w). So n_k4 = Σ over closed (u, v, w ∈ ws) of
    * |ws ∩ N⁺(w)| — one more adjacency join and in-row intersect. Each
    * K4 a ≺ b ≺ c ≺ d is counted exactly once: at base edge (a, b), with
    * w = c. The degree orientation keeps out-degrees O(√E), so the work
    * is Σ d⁺² per closure level, not Σ deg². Output one row: (n_k4). */
  def cliqueCensusK4(edges: DataFrame): DataFrame = {
    val adj = outAdjacency(undirected(edges).pin)
    closeWedges(adj)
      .select(explode(col("ws")).as("w"), col("ws"))
      .join(adj.select(col("u").as("w"), col("ns").as("nw")), Seq("w"))
      .agg(coalesce(sum(size(array_intersect(col("ws"), col("nw")))), lit(0L))
        .as("n_k4"))
  }

  /** Local clustering coefficient per node: 2·triangles / (deg·(deg−1))
    * in exact millionths — how close each node's neighborhood is to a
    * clique (Watts & Strogatz 1998). The link-farm/cohesion signal read
    * together with [[triangleCount]]: high coefficient + high degree =
    * densely interlinked cluster. Cost is [[triangleCount]] (one
    * adjacency intersect, O(E^1.5)) plus one degree aggregation; nodes
    * with degree < 2 report 0. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val und = undirected(edges).pin
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    trianglesOn(und)
      .join(deg, Seq("node"))
      .select(col("node"), col("degree"), col("n_triangles"),
        when(col("degree") < 2, lit(0L))
          .otherwise(floor(lit(2000000.0) * col("n_triangles") /
            (col("degree") * (col("degree") - 1))).cast("long"))
          .as("clustering_x1e6"))
  }

  /** k-core decomposition by iterative peeling (Seidman 1983; the
    * Batagelj–Zaveršnik peel expressed as synchronous rounds): repeatedly
    * delete every node with degree < k until the remaining subgraph is
    * stable. Returns (node, core_degree) for the survivors — the maximal
    * subgraph where every node keeps ≥ k neighbors. The density filter a
    * link-graph curation pass runs to separate well-connected content
    * from stragglers and spam chains.
    *
    * Per round: one degree aggregation (map-side combinable) and two
    * semi-joins of the edge set against the survivor set — O(E) work, no
    * pair-space blowup, hub-safe (semi-joins shuffle on near-uniform
    * endpoint keys). Rounds needed = the peel cascade depth (≤ longest
    * chain the deletions propagate along), each round lineage-truncated
    * with a lazy localCheckpoint like the [[Fixpoint]] loops; edge count
    * is monotone decreasing, so "unchanged count" is an exact convergence
    * test and non-convergence inside maxRounds throws (after a
    * confirmation round for the exact-boundary landing). */
  def kCore(edges: DataFrame, k: Long, maxRounds: Int = 30): DataFrame = {
    require(k >= 1L, "k must be positive")
    val p = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).pin
    var und = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().pin
    var n = und.count()
    def peel(cur: DataFrame): DataFrame = {
      val survivors = cur.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg")).filter(col("deg") >= k)
        .select(col("node"))
      cur.join(survivors.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(survivors.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
    }
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val next = peel(und).cut
      val m = next.count()
      converged = m == n
      und = next
      n = m
      round += 1
    }
    if (!converged && peel(und).count() != n)
      throw new IllegalStateException(
        s"kCore did not converge in $maxRounds rounds (a deletion cascade " +
          "is still propagating); raise maxRounds")
    und.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** Neighborhood feature aggregation — one message-passing layer of the
    * GraphSAGE shape (Hamilton et al. 2017): every node aggregates its
    * undirected neighbors' integer feature (count/sum/min/max + floor
    * mean). Chain two calls for a 2-hop receptive field (feed layer 1's
    * `mean_f` back as the feature) — the graph-side feature engineering
    * a curation pipeline runs to attach neighborhood context to nodes.
    *
    * One symmetrize + one equi-join on the feature table + one map-side
    * combinable aggregation: O(E) work, exact integer arithmetic, no
    * windows. Nodes without features contribute nothing; isolated nodes
    * don't appear (join the node table back for a default). */
  def neighborAgg(edges: DataFrame, feats: DataFrame, featCol: String): DataFrame = {
    val p = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    sym.join(feats.select(col("node").as("dst"), col(featCol).as("_f")), Seq("dst"))
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("n_nbrs"), sum(col("_f")).as("sum_f"),
        min(col("_f")).as("min_f"), max(col("_f")).as("max_f"))
      .withColumn("mean_f", expr("sum_f div n_nbrs"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    * set, `rounds` full auth-then-hub updates from all-ones scores —
    * the link-analysis complement to [[pagerank]]: authorities are
    * pointed at by good hubs, hubs point at good authorities (directory
    * pages vs content pages in a web-corpus quality signal).
    *
    * Scores are UNNORMALIZED exact integers (the classic formulation
    * divides by the L2 norm each round — irrational, so not
    * byte-deterministic; rankings are identical either way). They grow
    * geometrically at ≤ (max_in·max_out)^rounds, which is why `rounds`
    * is capped — at the cap, any graph with max degree ≤ ~2000 stays
    * within Long range, and realistic web graphs converge their RANKING
    * in a handful of rounds anyway.
    *
    * Scale shape per round: two edge⋈score equi-joins + two map-side
    * combinable sums + a left join back to the node universe for
    * zero-fill — O(E) per round, lineage truncated per round like the
    * [[Fixpoint]] family. */
  def hits(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 5,
      s"unnormalized integer HITS needs 1..5 rounds (scores grow geometrically); got $rounds")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct().pin
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().pin
    // Accumulate in decimal(38,0): a graph past the ~2000-max-degree
    // bound then fails loudly (decimal overflow / final ANSI cast)
    // instead of silently wrapping Long into garbage scores.
    val dec = "decimal(38,0)"
    var hub = nodes.select(col("node"), lit(1L).cast(dec).as("hub"))
    var auth = nodes.select(col("node"), lit(0L).cast(dec).as("auth"))
    for (_ <- 1 to rounds) {
      val a = e.join(hub.select(col("node").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("hub")).cast(dec).as("_a"))
      auth = nodes.join(a.select(col("dst").as("node"), col("_a")), Seq("node"), "left")
        .select(col("node"), coalesce(col("_a"), lit(0L).cast(dec)).as("auth"))
        .cut
      val h = e.join(auth.select(col("node").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("auth")).cast(dec).as("_h"))
      hub = nodes.join(h.select(col("src").as("node"), col("_h")), Seq("node"), "left")
        .select(col("node"), coalesce(col("_h"), lit(0L).cast(dec)).as("hub"))
        .cut
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), col("hub").cast("long").as("hub"),
        col("auth").cast("long").as("auth"))
  }

  /** Common-neighbor link prediction over an undirected simple graph:
    * for every NON-adjacent pair (u < v) with at least one shared
    * neighbor, the three classic scores — common-neighbor count,
    * Jaccard overlap of neighborhoods (floor millionths), and the
    * Resource Allocation index Σ_w 1/deg(w) (floor trillionths per
    * term, exact integer sum; Zhou, Lü & Zhang 2009 — RA consistently
    * beats Adamic–Adar and needs no logarithm, so the arithmetic stays
    * oracle-exact).
    *
    * Candidate pairs are generated FROM each shared neighbor's sorted
    * adjacency array in-row (deg² per center, like
    * [[coOccurrenceEdges]]) and meet in ONE groupBy on (u, v) — the
    * pair space is Σ_w deg(w)², never |V|²: only pairs at distance 2
    * ever exist. An anti-join against the edge set then removes
    * already-adjacent pairs. The skew knob is the max degree (a 10k-hub
    * center contributes 50M wedge pairs); cap or sample hub
    * neighborhoods upstream when predicting over power-law graphs. */
  def linkPrediction(edges: DataFrame): DataFrame = {
    val und = undirected(edges).pin
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("node"), col("a").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val centers = adj.join(deg, Seq("node"))
      .groupBy(col("node"), col("deg"))
      .agg(array_sort(collect_set(col("nbr"))).as("nbrs"))
    val pairs = centers.select(col("deg").as("wdeg"),
      explode(orderedPairs(col("nbrs"), "u", "v")).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"), col("wdeg"))
    val scored = pairs.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000000000 div wdeg")).as("ra_x1e12"))
    scored
      .join(und.select(col("a").as("u"), col("b").as("v")), Seq("u", "v"), "left_anti")
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("common_neighbors"), col("ra_x1e12"),
        expr("common_neighbors * 1000000 div (du + dv - common_neighbors)")
          .as("jaccard_x1e6"))
  }

  /** Per-edge triangle support: for every undirected edge (a, b), how
    * many common neighbors a and b share — i.e. how many triangles the
    * edge participates in. The edge-level analogue of [[triangleCount]]
    * and the building block of the k-truss decomposition (Cohen 2008):
    * an edge with support 0 is a bridge-like link no triangle reinforces,
    * while high-support edges sit inside cohesive communities. Curation
    * reads it as a link-spam signal — a farm's edges are mutually
    * unreinforced — and as an edge-sampling weight that preserves
    * community structure.
    *
    * Cost is one adjacency intersect ([[closeWedges]], the
    * [[triangleCount]] O(E^1.5) bound via [[orientByDegree]]) plus one
    * in-row explode of the three edges per triangle and a
    * map-side-combinable count. Edges in no triangle are kept with
    * support 0 via one left join against the canonical edge set.
    * Output: (a, b, support) with a < b. */
  def edgeSupport(edges: DataFrame): DataFrame = edgeSupportOn(undirected(edges).pin)

  /** [[edgeSupport]] of an already-canonical (a < b, distinct) edge set,
    * pinned by the caller: it is read twice, by the census and the left
    * join. */
  private[graft] def edgeSupportOn(und: DataFrame): DataFrame =
    und.join(supportOn(und), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))

  /** (a, b, support) for the edges of an already-canonical (a < b,
    * distinct) edge set that lie in at least one triangle. */
  private def supportOn(und: DataFrame): DataFrame = {
    def edge(p: Column, q: Column): Column =
      struct(least(p, q).as("a"), greatest(p, q).as("b"))
    // the three member edges of each closed (u, v, w) — (u,v) once per
    // w plus the two w-edges — exploded in-row and counted map-side
    closeWedges(outAdjacency(und))
      .select(explode(concat(
        array_repeat(edge(col("u"), col("v")), size(col("ws"))),
        transform(col("ws"), w => edge(col("u"), w)),
        transform(col("ws"), w => edge(col("v"), w)))).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("support"))
  }

  /** Bounded k-truss peel (Cohen 2008): `rounds` synchronous rounds of
    * [compute support within the surviving subgraph → drop every edge
    * with support < k−2]. After convergence the survivors are the
    * k-truss — the maximal subgraph where every edge is reinforced by at
    * least k−2 triangles — the standard community-core extractor one
    * notch stricter than [[kCore]] (every k-truss edge lies in the
    * (k−1)-core, not vice versa). Rounds are FIXED, not run to
    * convergence, so the result is deterministic for the oracle, which
    * unrolls the identical rounds as chained CTEs; the spec covers the
    * converged case. Returns the surviving edges with the support each
    * had in the final pre-filter subgraph: (a, b, support), a < b.
    *
    * Per round: [[supportOn]] over the CURRENT survivor set (shrinking
    * monotonically, so later rounds are cheaper) — one degree census,
    * one adjacency build and one adjacency intersect — lineage
    * truncated per round. Requires k ≥ 3 so the support-0 edges (absent
    * from the triangle census) can never survive the filter, and a
    * round needs no join back to the survivor set. */
  def ktruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(rounds >= 1, s"need at least one peel round, got $rounds")
    // pinHot: every peel round reads the current edge set three times
    // (the degree census's two arms and the orientation join) — the r15
    // paired runs measured the per-re-read SER deserialization at
    // +0.6s for this gate at sf0.1
    var cur = undirected(edges).pinHot
    var out: DataFrame = null
    for (_ <- 1 to rounds) {
      out = supportOn(cur).filter(col("support") >= lit(k.toLong - 2L))
        .pinHot
      cur = out.select(col("a"), col("b"))
    }
    out
  }

  /** Four-cycle (rectangle) census by diagonal pair: for every unordered
    * node pair (u, v) with w ≥ 2 common neighbors, the number of
    * 4-cycles through (u, v) as a DIAGONAL is C(w, 2) — two distinct
    * shared neighbors a ≠ b close the cycle u–a–v–b–u. Rectangles are
    * the next motif up from triangles: a link farm shows up as a dense
    * rectangle core long before its triangle count moves (bipartite-ish
    * spam has no triangles at all), and C4 density is the standard
    * bipartite cohesion proxy. Summing `rectangles` over all pairs
    * counts every 4-cycle exactly twice (once per diagonal).
    *
    * Same wedge-generation shape as [[linkPrediction]]: each center's
    * sorted adjacency array explodes its C(deg, 2) neighbor pairs
    * in-row and all wedges meet in ONE groupBy on (u, v) — the pair
    * space is Σ_w deg(w)², never |V|². The max degree is the skew knob;
    * cap hub neighborhoods upstream on power-law graphs.
    * Output: (u, v, common_neighbors, rectangles) with u < v, w ≥ 2. */
  def rectangleCensus(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("node"), col("a").as("nbr")))
    val centers = adj.groupBy(col("node"))
      .agg(array_sort(collect_set(col("nbr"))).as("nbrs"))
    val wedges = centers.select(
      explode(orderedPairs(col("nbrs"), "u", "v")).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= 2)
      .withColumn("rectangles",
        expr("common_neighbors * (common_neighbors - 1) div 2"))
  }

  /** Full core decomposition: coreness(v) = the largest k with v in the
    * k-core, computed by escalating synchronous peels — at level k,
    * every cascade round deletes ALL nodes whose current degree is
    * below k, and a node removed at level k has coreness k − 1
    * (Batagelj–Zaveršnik 2003, the parallel-cascade variant of their
    * sequential min-heap). The graph-wide density fingerprint behind
    * "keep the cohesive core, drop the fringe" curation and degeneracy
    * ordering.
    *
    * Cost: Σ_k (cascade rounds at level k) degree aggs — bounded by
    * degeneracy + total cascade depth, both small on real graphs; every
    * round is one agg + two semi-joins, lineage cut. `maxK` caps the
    * escalation (budget-throw, not silent truncation); isolated input
    * nodes never appear (edges define the node set), and every node is
    * eventually removed at some level ≤ degeneracy + 1, so the loop
    * always terminates before k exceeds max-degree + 1. */
  def coreness(edges: DataFrame, maxK: Int = 64,
               maxRoundsPerLevel: Int = 40): DataFrame = {
    val p = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    // pinHot on the loop state: each cascade round reads `cur` for the
    // degree agg and `live` for the removal join + two semi-joins —
    // measured +0.67s at sf0.1 under SER re-reads (PROGRESS r15)
    var cur = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().pinHot
    var live = cur.select(col("src").as("node")).distinct().pinHot
    val spark = cur.sparkSession
    var out = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("node", "long").add("coreness", "long"))
    var k = 1L
    while (!live.isEmpty) {
      require(k <= maxK, s"coreness escalated past maxK = $maxK")
      var cascading = true
      var round = 0
      while (cascading) {
        round += 1
        require(round <= maxRoundsPerLevel,
          s"coreness cascade at level $k passed $maxRoundsPerLevel rounds")
        val deg = cur.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        val removed = live.join(deg, Seq("node"), "left")
          .filter(coalesce(col("deg"), lit(0L)) < k)
          .select(col("node")).pinHot // read 3×: probe, union, anti-join
        if (removed.isEmpty) { cascading = false }
        else {
          out = out.unionByName(
            removed.select(col("node"), lit(k - 1).as("coreness")))
            .pin
          live = live.join(removed, Seq("node"), "left_anti").cut
          cur = cur
            .join(live.select(col("node").as("src")), Seq("src"), "left_semi")
            .join(live.select(col("node").as("dst")), Seq("dst"), "left_semi")
            .select(col("src"), col("dst")).cut
        }
      }
      k += 1
    }
    out
  }

  /** Full core decomposition by h-index iteration (Lü, Chen, Ren, Zhang,
    * Zhou & Stanley, "The H-index of a network node and its relation to
    * degree and coreness", Nature Communications 7:10168, 2016):
    * h₀(v) = deg(v), then hₙ₊₁(v) = H{ hₙ(u) : u ∈ N(v) } where H is
    * the Hirsch operator (largest k with ≥ k neighbor values ≥ k); the
    * iterates are monotone non-increasing and converge exactly to
    * coreness. Identical output to [[coreness]] — property-tested — but
    * a DIFFERENT round structure: one whole-graph value-refinement pass
    * per round with no per-level escalation, which on graphs whose
    * degeneracy forces many peel levels cuts the driver-round count
    * several-fold (each peel level is its own cascade loop there).
    *
    * Per round: one values-to-neighbors equi-join + one per-node
    * collect + the in-row Hirsch count over the sorted neighbor values
    * (`x_i ≥ i+1` prefix of the descending sort — exact, no UDF). The
    * per-node state is O(degree): a 10⁸-degree hub would materialize
    * its value list in one row, so hub-heavy graphs at the extreme tail
    * stay on [[coreness]]'s degree-only cascade peel — the same
    * state-shape trade [[greedyColoring]]'s scaladoc documents for its
    * neighbor-color lists. Worst-case round count is the graph's
    * h-index convergence time (a path converges one hop per round —
    * budget-thrown at `maxRounds`, the same loud contract as the peel's
    * per-level cascade budget). */
  def corenessHIndex(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    val p = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().pin
    var h = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("h"))
      .pin
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      require(round <= maxRounds,
        s"corenessHIndex passed $maxRounds rounds without converging - " +
          "raise maxRounds or use coreness (cascade peel)")
      val next = und
        .join(h.select(col("node").as("dst"), col("h").as("hu")), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sort_array(collect_list(col("hu")), asc = false).as("_hs"))
        .select(col("node"), expr(
          "size(filter(transform(_hs, (x, i) -> x >= i + 1), b -> b))")
          .cast("long").as("h"))
        .pin
      converged = next
        .join(h.select(col("node"), col("h").as("_prev")), Seq("node"))
        .filter(col("h") =!= col("_prev")).isEmpty
      h = next
    }
    h.select(col("node"), col("h").as("coreness"))
  }

  /** Neighborhood-function estimation in the HyperANF shape (Boldi,
    * Rosa & Vigna, WWW 2011 — Flajolet–Martin registers instead of
    * HyperLogLog so every value is a small exact integer): each node
    * carries `nRegisters` FM registers sketching the set of nodes
    * within t hops; one round merges every node's registers with its
    * out-neighbors' by elementwise max. After t rounds register
    * (v, i) = max ρ(h_i(u)) over u reachable in ≤ t — the ball-size
    * sketch behind effective-diameter and average-distance estimation
    * on graphs where all-pairs BFS can never run.
    *
    * State stays LONG format (node, register, value): the merge is a
    * plain (node, i) max-agg — map-side combinable, skew-free, no
    * array-column shuffles — at |V|·m rows per round. ρ comes from the
    * shared md5-prefix kernel as `length(bin(x & −x))` (trailing-zero
    * rank, engine-portable). Output: one row per round t = 0..rounds
    * with Σ registers — the exact-integer monotone curve a consumer
    * turns into ball-size estimates (the 2^ρ̄ estimator itself is float
    * and stays out of the engine). */
  def neighborhoodFunction(edges: DataFrame, rounds: Int,
                           nRegisters: Int = 32): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "need 1 <= rounds <= 16")
    require(nRegisters >= 4 && nRegisters <= 64, "need 4 <= nRegisters <= 64")
    import graft.functions.HashFunctions.md5_prefix64
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .pinHot // loop-static: read twice for nodes + once per ANF round
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    // Registers ride as nRegisters ONE-HOT MASK COLUMNS on one row per
    // node, not as (node, i, r) rows: h & −h IS the one-hot at the
    // lowest-set-bit position, per-register max(r) ≡ length(bin(bit_or
    // of the one-hots)) (the OR's highest bit is the max position;
    // h = 0 degenerates to r = 1 on both forms), and bit_or is a
    // map-side-combinable builtin. The exploded form shuffled
    // nRegisters×|E| three-long rows through the round join and keyed
    // the merge agg on nRegisters×|V| — this shuffles |E| rows and
    // keys on |V|, value-identical output (guide §2.3).
    val mNames = (0 until nRegisters).map(i => s"_m$i")
    def maskOf(i: Int): Column = {
      val h = md5_prefix64(
        concat(lit(i.toString), lit(":"), col("node").cast("string")))
      h.bitwiseAND(-h)
    }
    var sk = nodes
      .select(col("node") +: (0 until nRegisters).map(i =>
        maskOf(i).as(s"_m$i")): _*)
      .pin
    def sumRow(t: Int, s: DataFrame): DataFrame =
      s.agg(sum(mNames.map(m => length(bin(col(m))).cast("long"))
          .reduce(_ + _)).as("sum_registers"))
        .select(lit(t.toLong).as("t"), col("sum_registers"))
    var out = sumRow(0, sk)
    for (t <- 1 to rounds) {
      sk = sk.unionByName(
          e.join(sk.withColumnRenamed("node", "dst"), Seq("dst"))
            .select(col("src").as("node") +: mNames.map(col): _*))
        .groupBy(col("node"))
        .agg(bit_or(col(mNames.head)).as(mNames.head),
          mNames.tail.map(m => bit_or(col(m)).as(m)): _*)
        .cut
      out = out.unionByName(sumRow(t, sk))
    }
    out
  }

  /** Greedy densest-subgraph peel (Charikar 2000 parallelized as
    * Bahmani, Kumar & Vassilvitskii, VLDB 2012): repeatedly delete
    * EVERY node whose degree is at most 2(1+ε) times the current
    * average density ρ = E/V (ε = 1 here: `deg·V ≤ 4·E`, exact
    * integers, no division), track the round whose surviving subgraph
    * had the highest density, return that subgraph. Each round removes
    * at least a (1 − 1/(1+ε)) fraction of nodes → O(log V) rounds
    * total, and the best round's density is within 2(1+ε) = 4× of the
    * true maximum — the spam-cluster / mutual-admiration-core detector
    * that runs where exact flow-based densest subgraph never could.
    *
    * Density compare is cross-multiplied (`E_i·V_best > E_best·V_i`,
    * strict — earliest round wins ties) so round choice is exact. Only
    * the current best node set stays materialized. Output: the best
    * round's nodes with that round's (sub_v, sub_e) stats on each row. */
  def densestSubgraph(edges: DataFrame, maxRounds: Int = 40): DataFrame = {
    val und = undirected(edges).pin
    var nodes = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .distinct().pin
    var cur = und
    var v = nodes.count()
    var e = cur.count()
    var bestNodes = nodes
    var bestV = v
    var bestE = e
    var round = 0
    while (v > 0 && e > 0 && round < maxRounds) {
      round += 1
      val deg = cur.select(col("a").as("node"))
        .unionByName(cur.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      // nodes with no surviving edge have degree 0 and always peel
      // decimal cross-multiply: deg·V vs 4E can pass a long at 1e9+ nodes
      val keep = nodes.join(deg, Seq("node"), "left")
        .filter(coalesce(col("deg"), lit(0L)).cast("decimal(38,0)") * lit(v) >
          lit(4L).cast("decimal(38,0)") * lit(e))
        .select(col("node")).pin
      cur = cur
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")).pin
      nodes = keep
      v = nodes.count()
      e = cur.count()
      if (v > 0 && BigInt(e) * BigInt(bestV) > BigInt(bestE) * BigInt(v)) {
        bestNodes = nodes; bestV = v; bestE = e
      }
    }
    require(v == 0 || e == 0,
      s"densestSubgraph did not finish peeling in $maxRounds rounds")
    bestNodes.select(col("node"), lit(bestV).as("sub_v"), lit(bestE).as("sub_e"))
  }

  /** Double-sweep diameter estimation (Magnien, Latapy & Habib 2009):
    * BFS from the smallest node id, take the farthest node reached
    * (ties → smallest id), BFS again from there; that second
    * eccentricity is a certified LOWER bound on the component's
    * diameter — exact on trees, and empirically tight on real graphs,
    * at the cost of TWO BFS passes instead of all-pairs (which is the
    * thing that can never run at 100 TB). Works on the component
    * containing the seed; `maxDepth` budgets the level-synchronous
    * rounds ([[Fixpoint.bfsDistances]] stops early when the frontier
    * empties, so the budget only caps pathological chains).
    * Output: one row (far_node, ecc_seed, diameter_lb). */
  def doubleSweepDiameter(edges: DataFrame, maxDepth: Int): DataFrame = {
    val und = undirected(edges).pin
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val seed = sym.agg(min(col("src")).as("node"))
    val d1 = Fixpoint.bfsDistances(sym, seed, maxDepth)
    val far = d1.orderBy(col("dist").desc, col("node").asc).limit(1)
      .pin
    val d2 = Fixpoint.bfsDistances(sym, far.select(col("node")), maxDepth)
    far.select(col("node").as("far_node"), col("dist").as("ecc_seed"))
      .crossJoin(broadcast(d2.agg(max(col("dist")).as("diameter_lb"))))
  }

  /** The canonical undirected simple edge set of a (src, dst) frame:
    * (a = least, b = greatest) with a ≠ b, duplicates merged. */
  private[graft] def undirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Every pair (arr[i], arr[j]) with i < j of an array column, as
    * structs with fields (`first`, `second`) — the in-row k² pair
    * expansion of a group's or a node's sorted array; exploded, the
    * pairs of a sorted array come out with first < second. */
  private[graft] def orderedPairs(arr: Column, first: String, second: String): Column =
    flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + lit(2), size(arr)), y => struct(x.as(first), y.as(second)))))

  /** Compact-forward out-adjacency of a canonical edge set: (u, ns) with
    * ns = N⁺(u) under [[orientByDegree]], one row per node with an
    * out-edge, pinned. The oriented set is shuffled once, by
    * [[widenByKey]] on u, and the aggregation runs in the stage right
    * after that exchange. */
  private def outAdjacency(und: DataFrame): DataFrame =
    widenByKey(orientByDegree(und), col("u"))
      .groupBy(col("u")).agg(collect_list(col("v")).as("ns"))
      .pin

  /** Wedge closure over [[outAdjacency]]: (u, v, ws) for every oriented
    * edge u ≺ v with ws = N⁺(u) ∩ N⁺(v), so each triangle u ≺ v ≺ w
    * appears exactly once, at its base edge (u, v), as w ∈ ws; ws is
    * null when v has no out-edge (such an edge closes no triangle). The
    * oriented edges are the adjacency's own rows exploded in-row, with
    * no exchange; N⁺(v) and then N⁺(u) are attached by key, and the
    * intersect is an in-row codegen'd array_intersect bounded by
    * d⁺ = O(√E).
    *
    * Both attach joins read the same projection of the adjacency, so
    * they share one exchange (a ReusedExchange). The arrays join the
    * rows only after the first join: when the adjacency's inherited size
    * estimate plans a sort-merge join, the one leaf exchange AQE runs
    * before it turns the joins into broadcasts carries the (u, v) pairs,
    * not Σ d⁺² array payload. The joins are left outer so that only the
    * adjacency can become the broadcast side: with inner joins AQE
    * broadcast whichever small leaf stage finished first, and a warm
    * run could plan (and compile) a different join. */
  private def closeWedges(adj: DataFrame): DataFrame = {
    def nbrs(k: String, n: String) = adj.select(col("u").as(k), col("ns").as(n))
    adj.select(col("u"), explode(col("ns")).as("v"))
      .join(nbrs("v", "nv"), Seq("v"), "left")
      .join(nbrs("w", "nu"), col("u") === col("w"), "left")
      .select(col("u"), col("v"), array_intersect(col("nu"), col("nv")).as("ws"))
  }

  /** Hash-repartition a NARROW frame whose downstream per-row work is
    * heavy (adjacency intersects, in-row pair explodes) to the
    * session's configured shuffle parallelism. AQE's size-based
    * partition coalescing only sees bytes, so a few-MB frame that fans
    * out into Σ d⁺² of compute gets collapsed onto 1-4 tasks and the
    * stage runs serial no matter how many cores the session has
    * (guide §2.5). The count is the session's shuffle knob — at real
    * scale it is the same width every other exchange gets, never a
    * local constant.
    *
    * What the executed triangle-operator plans show: the explicit
    * numPartitions makes a REPARTITION_BY_NUM exchange, which AQE never
    * coalesces, and [[outAdjacency]]'s aggregation on the same key runs
    * in the stage right after it with no further exchange; the pinned
    * adjacency keeps that partition count. [[closeWedges]] explodes the
    * pinned rows in place, so the intersect runs at the exchange's
    * width whenever its adjacency joins broadcast — the oriented set is
    * shuffled exactly once. When the first join is planned sort-merge (a
    * large inherited size estimate, as in `graph_ktruss` round 2) the
    * (u, v) pairs re-shuffle on v (ENSURE_REQUIREMENTS, coalescable
    * again). [[outAdjacency]] is the one caller: every triangle-shaped
    * operator widens there. */
  private def widenByKey(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)

  /** A typed null matching `df`'s column `c`, for union arms that lack it. */
  private def nullOf(df: DataFrame, c: String): Column = lit(null).cast(df.schema(c).dataType)

  /** Degree-ordered orientation of a canonical edge set ([[undirected]]):
    * each edge appears once as (u, v) with (deg(u), u) < (deg(v), v).
    * Library-private so the spec can assert the compact-forward
    * guarantee directly (a hub's out-degree is 0 — all its lower-degree
    * neighbors point AT it). */
  private[graft] def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // left joins: every endpoint has a degree row, so the rows are the
    // inner join's, but only the degree side can become the broadcast
    // (see [[closeWedges]] on AQE's build-side race); both sides are
    // one projection of `deg`, so they share one exchange
    und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"), "left")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"), "left")
      .select(
        // a < b already, so the id tie-break on equal degrees keeps a first
        when(col("da") < col("db") ||
          (col("da") === col("db")), col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db")), col("b")).otherwise(col("a")).as("v"))
  }
}
