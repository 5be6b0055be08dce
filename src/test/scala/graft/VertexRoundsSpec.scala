package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.graph.{Centrality, Fixpoint, Paths}

/** The vertex-state fixpoints — [[Fixpoint.greedyColoring]],
  * [[Centrality.pagerank]] / [[Centrality.pagerankPersonalized]] and
  * [[Fixpoint.connectedComponents]] / `incrementalComponents` — the
  * triangle-shaped operators over one adjacency intersect
  * ([[Centrality.triangleCount]], `edgeSupport`, `ktruss`,
  * `cliqueCensusK4`, `clusteringCoefficient`) and the frontier loops
  * (`Fixpoint.levelLoop`: [[Fixpoint.bfsDistances]], `seedDistances`,
  * `bfsPathCounts`, `nearestSeed`, `regularPathQuery`;
  * `Fixpoint.relaxLoop`: [[Fixpoint.sssp]], `widestPath`,
  * `temporalReach`, [[Paths.topoLevels]]) against plain-Scala
  * references, across execution configs, and under a job budget. */
class VertexRoundsSpec extends SparkSuite {
  type Edges = Seq[(Long, Long)]

  private def df(e: Edges, a: String, b: String): DataFrame =
    spark.createDataFrame(e).toDF(a, b)

  /** Seeded random multigraph over ids spread by 7: duplicates, reversed
    * duplicates and a few self-loops included. */
  private def randomGraph(seed: Int, n: Int, m: Int): Edges = {
    val rnd = new scala.util.Random(seed)
    def id() = rnd.nextInt(n).toLong * 7 + 3
    val es = Seq.fill(m)((id(), id()))
    es ++ es.take(m / 10).map(_.swap) ++ Seq.fill(3) { val v = id(); (v, v) }
  }

  private val star: Edges = (1L to 2000L).map(i => (0L, i))

  /** Complete graph over `ids`. */
  private def clique(ids: Seq[Long]): Edges =
    for (a <- ids; b <- ids if a < b) yield (a, b)

  /** K5 and K6 plus disjoint pieces (a triangle, a path, a small star),
    * with a reversed duplicate and a self-loop. */
  private val cliques: Edges =
    clique(100L to 104L) ++ clique(200L to 205L) ++
      Seq((300L, 301L), (301L, 302L), (302L, 300L), (400L, 401L), (401L, 402L),
        (500L, 501L), (500L, 502L), (500L, 503L), (201L, 200L), (300L, 300L))

  /** A 60-spoke hub with the LOWEST id and a rim path through the
    * spokes (59 triangles with the hub) plus the chord (1, 3), which
    * makes {0, 1, 2, 3} a K4. */
  private val hubRim: Edges =
    (1L to 60L).map(s => (0L, s)) ++ (1L until 60L).map(s => (s, s + 1)) :+ ((1L, 3L))

  // ---- plain-Scala references ------------------------------------------

  private def md5Prefix64(id: Long): Long =
    java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .take(7).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))

  /** Jones–Plassmann with (md5-prefix64, id) priorities: every node takes
    * the mex of its higher-priority neighbors' colors; its round is one
    * more than the latest such neighbor's. Returns (colors, rounds). */
  private def jonesPlassmann(e: Edges): (Map[Long, Long], Int) = {
    val adj = e.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val prio = adj.keys.map(v => v -> ((md5Prefix64(v), v))).toMap
    val ord = Ordering.Tuple2[Long, Long]
    val colors = scala.collection.mutable.Map.empty[Long, Long]
    val level = scala.collection.mutable.Map.empty[Long, Int]
    adj.keys.toSeq.sortBy(prio)(ord.reverse).foreach { v =>
      val higher = adj(v).filter(u => ord.gt(prio(u), prio(v)))
      val used = higher.map(colors)
      colors(v) = Iterator.from(0).map(_.toLong).find(c => !used(c)).get
      level(v) = (higher.map(level) + 0).max + 1
    }
    (colors.toMap, if (level.isEmpty) 0 else level.values.max)
  }

  /** Integer PageRank exactly as documented: shares `r div |out|` over
    * distinct out-edges, optional dangling share `S div N`, then
    * `tel + (85 * mass) div 100`. */
  private def pagerankRef(e: Edges, seeds: Option[Set[Long]], iterations: Int,
                          dangling: Boolean): Map[Long, Long] = {
    val out = e.distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.toSet ++ seeds.getOrElse(Set.empty)
    val tel = nodes.map(v => v -> seeds.fold(150000L)(s => if (s(v)) 150000L else 0L)).toMap
    var r = nodes.map(v => v -> seeds.fold(1000000L)(s => if (s(v)) 1000000L else 0L)).toMap
    (1 to iterations).foreach { _ =>
      val m = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      out.foreach { case (u, ds) => ds.foreach(d => m(d) += r(u) / ds.size) }
      val share =
        if (dangling) nodes.toSeq.filterNot(out.contains).map(r).sum / nodes.size else 0L
      r = nodes.map(v => v -> (tel(v) + (85 * (m(v) + share)) / 100)).toMap
    }
    r
  }

  /** Union-find components labeled by their minimum node id. */
  private def unionFind(e: Edges): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    e.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Rounds [[Fixpoint.connectedComponents]] runs: min-propagation plus
    * a pointer jump per round, until the label sum stops moving. */
  private def componentRounds(e: Edges): Int = {
    val adj = e.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var lab = adj.map { case (v, ns) => v -> (ns :+ v).min }
    var rounds = 0
    var moved = true
    while (moved) {
      val prop = adj.map { case (v, ns) => v -> (ns.map(lab) :+ lab(v)).min }
      val next = prop.map { case (v, c) => v -> prop(c) }
      moved = next.values.sum != lab.values.sum
      lab = next
      rounds += 1
    }
    rounds
  }

  private def pairs(d: DataFrame): Map[Long, Long] =
    d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // ---- coloring --------------------------------------------------------

  test("greedyColoring equals sequential Jones-Plassmann on seeded random graphs") {
    for (seed <- 1 to 3) {
      val e = randomGraph(seed, n = 60, m = 150)
      val (want, rounds) = jonesPlassmann(e)
      val got = pairs(Fixpoint.greedyColoring(df(e, "src", "dst"), maxRounds = rounds))
      assert(got == want, s"seed $seed")
      // the round budget is exact: one round fewer must throw
      intercept[IllegalArgumentException](
        Fixpoint.greedyColoring(df(e, "src", "dst"), maxRounds = rounds - 1))
    }
  }

  test("greedyColoring on a 2k-leaf star and on self-loops") {
    // leaves that outrank the center, the center, the leaves below it
    val (want, rounds) = jonesPlassmann(star)
    assert(rounds == 3)
    assert(pairs(Fixpoint.greedyColoring(df(star, "src", "dst"))) == want)
    // self-loops never constrain a color; a node with ONLY a self-loop
    // has no proper edge and is not in the output
    val loops = Seq((1L, 1L), (1L, 2L), (2L, 2L), (9L, 9L), (2L, 3L), (3L, 1L))
    val got = pairs(Fixpoint.greedyColoring(df(loops, "src", "dst")))
    assert(got == jonesPlassmann(loops)._1)
    assert(got.keySet == Set(1L, 2L, 3L) && got.values.toSet == Set(0L, 1L, 2L))
  }

  test("greedyColoring of an empty edge set is empty") {
    val got = Fixpoint.greedyColoring(df(Seq((5L, 5L)), "src", "dst"))
    assert(got.columns.toSeq == Seq("node", "color") && got.collect().isEmpty)
  }

  // ---- pagerank --------------------------------------------------------

  test("pagerank with and without dangling redistribution equals the integer reference") {
    for (seed <- 1 to 2; dangling <- Seq(false, true)) {
      val e = randomGraph(seed, n = 40, m = 70)
      val got = pairs(Centrality.pagerank(df(e, "src", "dst"), iterations = 4,
        redistributeDangling = dangling))
      assert(got == pagerankRef(e, None, 4, dangling), s"seed $seed dangling $dangling")
    }
    // a pure chain leaks mass to its sink unless redistributed
    val chain = Seq((1L, 2L), (2L, 3L))
    assert(pairs(Centrality.pagerank(df(chain, "src", "dst"), 2)) ==
      Map(1L -> 150000L, 2L -> 277500L, 3L -> 1000000L))
    assert(pairs(Centrality.pagerank(df(chain, "src", "dst"), 2, true)) ==
      pagerankRef(chain, None, 2, dangling = true))
  }

  test("pagerankPersonalized equals the integer reference, isolated seeds included") {
    import org.apache.spark.sql.functions.col
    for (seed <- 1 to 2) {
      val e = randomGraph(seed, n = 40, m = 70)
      val seeds = Set(3L, 10L, 7L * 40 + 3) // the last one has no edges
      val got = pairs(Centrality.pagerankPersonalized(df(e, "src", "dst"),
        spark.createDataFrame(seeds.toSeq.map(Tuple1(_))).toDF("node"), iterations = 3)
        .select(col("node"), col("rank_x1e6")))
      assert(got == pagerankRef(e, Some(seeds), 3, dangling = false), s"seed $seed")
    }
  }

  // ---- components ------------------------------------------------------

  test("connectedComponents and both incrementalComponents forms equal union-find") {
    for (seed <- 1 to 3) {
      val e = randomGraph(seed, n = 120, m = 90)
      val want = unionFind(e)
      assert(pairs(Fixpoint.connectedComponents(df(e, "a", "b"))) == want)
      val (oldE, newE) = e.splitAt(e.size / 2)
      val prev = Fixpoint.connectedComponents(df(oldE, "a", "b"))
      assert(pairs(Fixpoint.incrementalComponents(prev, df(newE, "a", "b"),
        maxRounds = 20)) == want, s"seed $seed, contracted-star form")
      assert(pairs(Fixpoint.incrementalComponents(prev, df(newE, "a", "b"))) == want,
        s"seed $seed, quotient form")
    }
    assert(Fixpoint.connectedComponents(df(Seq.empty[(Long, Long)], "a", "b"))
      .collect().isEmpty)
  }

  test("connectedComponents round count matches the reference, budget exact") {
    val chain = (0L until 64L).map(i => (i, i + 1)) ++ Seq((200L, 201L))
    val rounds = componentRounds(chain)
    val d = df(chain, "a", "b")
    assert(pairs(Fixpoint.connectedComponents(d, maxRounds = rounds)) == unionFind(chain))
    // one round fewer still lands on the fixpoint (the last round only
    // confirms it) — two fewer must throw
    assert(pairs(Fixpoint.connectedComponents(d, maxRounds = rounds - 1)) == unionFind(chain))
    intercept[IllegalStateException](Fixpoint.connectedComponents(d, maxRounds = rounds - 2))
  }

  // ---- triangle-shaped operators -----------------------------------------

  /** Canonical (least, greatest) simple edges. */
  private def simple(e: Edges): Set[(Long, Long)] =
    e.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet

  private def nbrs(es: Set[(Long, Long)]): Map[Long, Set[Long]] =
    es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }

  /** Common neighbors of each edge's endpoints. */
  private def supportRef(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
    val n = nbrs(es)
    es.map { case (a, b) => (a, b) -> (n(a) & n(b)).size.toLong }.toMap
  }

  /** Per node: edges among its neighbors. */
  private def trianglesRef(e: Edges): Map[Long, Long] = {
    val n = nbrs(simple(e))
    n.map { case (v, ns) => v -> ns.toSeq.map(u => (n(u) & ns).size.toLong).sum / 2 }
  }

  private def ktrussRef(e: Edges, k: Int, rounds: Int): Map[(Long, Long), Long] = {
    var cur = simple(e)
    var out = Map.empty[(Long, Long), Long]
    (1 to rounds).foreach { _ =>
      out = supportRef(cur).filter(_._2 >= k - 2)
      cur = out.keySet
    }
    out
  }

  /** 4-sets a < b < c < d with all six ties. */
  private def k4Ref(e: Edges): Long = {
    val es = simple(e)
    val n = nbrs(es)
    es.toSeq.map { case (a, b) =>
      val cs = (n(a) & n(b)).filter(_ > b)
      cs.toSeq.map(c => (cs & n(c)).count(_ > c).toLong).sum
    }.sum
  }

  private def clusteringRef(e: Edges): Map[Long, (Long, Long, Long)] = {
    val n = nbrs(simple(e))
    trianglesRef(e).map { case (v, t) =>
      val d = n(v).size.toLong
      v -> ((d, t, if (d < 2) 0L else math.floor(2000000.0 * t / (d * (d - 1))).toLong))
    }
  }

  /** The five operators' outputs on one edge set, each as sorted rows. */
  private def triangleShaped(e: Edges): Seq[Seq[String]] = {
    val d = df(e, "src", "dst")
    def rows(out: DataFrame) = out.collect().map(_.mkString(",")).toSeq.sorted
    Seq(
      rows(Centrality.triangleCount(d)),
      rows(Centrality.edgeSupport(d)),
      rows(Centrality.ktruss(d, k = 4, rounds = 2)),
      rows(Centrality.cliqueCensusK4(d)),
      rows(Centrality.clusteringCoefficient(d).select("node", "degree", "n_triangles",
        "clustering_x1e6")))
  }

  private def triangleShapedRef(e: Edges): Seq[Seq[String]] = {
    def rows[K, V](m: Map[K, V])(f: (K, V) => String) = m.map(f.tupled).toSeq.sorted
    val pair: ((Long, Long), Long) => String = { case ((a, b), c) => s"$a,$b,$c" }
    Seq(
      rows(trianglesRef(e))((v, t) => s"$v,$t"),
      rows(supportRef(simple(e)))(pair),
      rows(ktrussRef(e, 4, 2))(pair),
      Seq(k4Ref(e).toString),
      rows(clusteringRef(e)) { case (v, (d, t, c)) => s"$v,$d,$t,$c" })
  }

  test("triangle-shaped operators equal brute force: random, low-id hub, cliques, empty") {
    val graphs = (1 to 3).map(seed => s"random $seed" -> randomGraph(seed, n = 30, m = 120)) ++
      Seq("hub with rim" -> hubRim, "K5/K6 and pieces" -> cliques,
        "empty" -> Seq.empty[(Long, Long)], "self-loop only" -> Seq((5L, 5L)))
    graphs.foreach { case (name, e) =>
      val want = triangleShapedRef(e)
      assert(triangleShaped(e) == want, name)
      if (name.startsWith("random")) assert(want(3) != Seq("0"), s"$name has no K4")
    }
    // counts the fixtures are built to have
    assert(triangleShapedRef(cliques)(3) == Seq("20")) // C(5,4) + C(6,4)
    assert(triangleShapedRef(hubRim)(3) == Seq("1") &&
      trianglesRef(hubRim)(0L) == 60L)
  }

  // ---- frontier operators ----------------------------------------------

  type WEdges = Seq[(Long, Long, Long)]

  /** `e` with a seeded weight in 1..9 per edge. */
  private def weighted(seed: Int, e: Edges): WEdges = {
    val rnd = new scala.util.Random(seed)
    e.map { case (a, b) => (a, b, rnd.nextInt(9) + 1L) }
  }

  /** BFS levels from `seeds` within `maxDepth` hops. */
  private def bfsRef(e: Edges, seeds: Set[Long], maxDepth: Int): Map[Long, Long] = {
    val out = e.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var dist = seeds.map(_ -> 0L).toMap
    var front = seeds
    var d = 0L
    while (front.nonEmpty && d < maxDepth) {
      d += 1
      front = front.flatMap(out.getOrElse(_, Nil)).filterNot(dist.contains)
      dist ++= front.map(_ -> d)
    }
    dist
  }

  /** (dist, shortest-path count) per node, parallel edges counted apart. */
  private def pathCountsRef(e: Edges, seeds: Set[Long], maxDepth: Int): Map[Long, (Long, Long)] = {
    val dist = bfsRef(e, seeds, maxDepth)
    val sigma = scala.collection.mutable.Map(seeds.toSeq.map(_ -> 1L): _*)
    (1L to dist.values.maxOption.getOrElse(0L)).foreach { d =>
      e.foreach { case (a, b) =>
        if (dist.get(a).contains(d - 1) && dist.get(b).contains(d))
          sigma(b) = sigma.getOrElse(b, 0L) + sigma(a)
      }
    }
    dist.map { case (v, d) => v -> ((d, sigma(v))) }
  }

  /** (dist, label) per node: the nearest seeds, then their smallest label. */
  private def nearestRef(e: Edges, seeds: Seq[(Long, Long)],
                         maxDepth: Int): Map[Long, (Long, Long)] =
    seeds.flatMap { case (s, l) =>
      bfsRef(e, Set(s), maxDepth).map { case (v, d) => v -> ((d, l)) }
    }.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).min }

  /** Label-setting search (Dijkstra) from `init`: `extend(value, weight)`
    * is what an edge carries on (None: the edge cannot be taken), never
    * better than its input; `ord` puts better values first. */
  private def labelSetting(e: WEdges, init: Map[Long, Long], ord: Ordering[Long])
                          (extend: (Long, Long) => Option[Long]): Map[Long, Long] = {
    val out = e.groupBy(_._1)
    val best = scala.collection.mutable.Map(init.toSeq: _*)
    val done = scala.collection.mutable.Set.empty[Long]
    val queue = scala.collection.mutable.PriorityQueue(init.toSeq: _*)(
      Ordering.by[(Long, Long), Long](_._2)(ord.reverse))
    while (queue.nonEmpty) {
      val (v, x) = queue.dequeue()
      if (!done(v) && best(v) == x) {
        done += v
        out.getOrElse(v, Nil).foreach { case (_, u, w) =>
          extend(x, w).foreach { y =>
            if (best.get(u).forall(ord.lt(y, _))) { best(u) = y; queue.enqueue(u -> y) }
          }
        }
      }
    }
    best.toMap
  }

  private def dijkstra(e: WEdges, seeds: Set[Long]): Map[Long, Long] =
    labelSetting(e, seeds.map(_ -> 0L).toMap, Ordering.Long)((d, w) => Some(d + w))

  private def widestRef(e: WEdges, seeds: Set[Long], sourceWidth: Long): Map[Long, Long] =
    labelSetting(e, seeds.map(_ -> sourceWidth).toMap, Ordering.Long.reverse)(
      (x, cap) => Some(math.min(x, cap)))

  private def earliestArrival(e: WEdges, seeds: Set[Long]): Map[Long, Long] =
    labelSetting(e, seeds.map(_ -> 0L).toMap, Ordering.Long)(
      (a, t) => if (t >= a) Some(t) else None)

  /** (node, state) pairs of the graph × NFA product reachable from
    * (start, 0). */
  private def rpqRef(e: Seq[(Long, Long, String)], nfa: Seq[(Long, String, Long)],
                     starts: Set[Long]): Set[(Long, Long)] = {
    var seen = starts.map(_ -> 0L)
    var front = seen
    while (front.nonEmpty) {
      front = (for ((v, q) <- front; (a, b, l) <- e if a == v;
                    (f, l2, t) <- nfa if f == q && l2 == l) yield (b, t)) -- seen
      seen ++= front
    }
    seen
  }

  /** Longest-path level of every node of a DAG whose edges run from a
    * lower to a higher id. */
  private def topoRef(dag: Edges): Map[Long, Long] = {
    val ins = dag.groupBy(_._2)
    dag.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      .foldLeft(Map.empty[Long, Long]) { (lv, v) =>
        lv + (v -> ins.getOrElse(v, Nil).map(p => lv(p._1) + 1).maxOption.getOrElse(0L))
      }
  }

  private val nfa = Seq((0L, "a", 0L), (0L, "a", 1L), (1L, "b", 2L), (2L, "a", 2L), (2L, "b", 0L))
  private def labeled(w: WEdges): Seq[(Long, Long, String)] =
    w.map { case (a, b, x) => (a, b, if (x % 2 == 0) "a" else "b") }

  /** The nine frontier operators on one graph, each as sorted rows:
    * seeded at `seeds` (labels from `seedLabels` for nearestSeed), BFS
    * depth `maxDepth`, topoLevels on the graph's low-to-high DAG. */
  private def frontierOps(e: Edges, w: WEdges, seeds: Seq[Long],
                          seedLabels: Seq[(Long, Long)], maxDepth: Int): Seq[Seq[String]] = {
    def rows(d: DataFrame) = d.collect().map(_.mkString(",")).toSeq.sorted
    val d = df(e, "src", "dst")
    val s = spark.createDataFrame(seeds.map(Tuple1(_))).toDF("node")
    def wdf(c: String) = spark.createDataFrame(w).toDF("src", "dst", c)
    Seq(
      rows(Fixpoint.bfsDistances(d, s, maxDepth)),
      rows(Fixpoint.seedDistances(d, s, maxDepth)),
      rows(Fixpoint.bfsPathCounts(d, s, maxDepth)),
      rows(Fixpoint.nearestSeed(d, spark.createDataFrame(seedLabels).toDF("node", "label"),
        maxDepth)),
      rows(Fixpoint.sssp(wdf("w"), s, maxRounds = 100)),
      rows(Fixpoint.widestPath(wdf("cap"), s, sourceWidth = 100L, maxRounds = 100)),
      rows(Fixpoint.temporalReach(wdf("t"), s, maxRounds = 100)),
      rows(Fixpoint.regularPathQuery(spark.createDataFrame(labeled(w)).toDF("src", "dst", "label"),
        spark.createDataFrame(nfa).toDF("s_from", "label", "s_to"), s, maxRounds = 100)),
      rows(Paths.topoLevels(df(dagOf(e), "src", "dst"), maxRounds = 100)))
  }

  private def dagOf(e: Edges): Edges =
    e.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }

  private def frontierRef(e: Edges, w: WEdges, seeds: Seq[Long],
                          seedLabels: Seq[(Long, Long)], maxDepth: Int): Seq[Seq[String]] = {
    def rows[K, V](m: Map[K, V])(f: (K, V) => String) = m.map(f.tupled).toSeq.sorted
    val ss = seeds.toSet
    val single: (Long, Long) => String = (v, x) => s"$v,$x"
    Seq(
      rows(bfsRef(e, ss, maxDepth))(single),
      ss.toSeq.flatMap(s => bfsRef(e, Set(s), maxDepth).map { case (v, d) => s"$s,$v,$d" }).sorted,
      rows(pathCountsRef(e, ss, maxDepth)) { case (v, (d, n)) => s"$v,$d,$n" },
      rows(nearestRef(e, seedLabels, maxDepth)) { case (v, (d, l)) => s"$v,$l,$d" },
      rows(dijkstra(w, ss))(single),
      rows(widestRef(w, ss, 100L))(single),
      rows(earliestArrival(w, ss))(single),
      rpqRef(labeled(w), nfa, ss).toSeq.map { case (v, q) => s"$v,$q" }.sorted,
      rows(topoRef(dagOf(e)))(single))
  }

  /** A frontier fixture: (name, edges, weighted edges, seeds, seed labels). */
  private type Frontier = (String, Edges, WEdges, Seq[Long], Seq[(Long, Long)])

  /** A seeded random graph with three seeds labeled 10, 9, 8; the first
    * is listed a second time with label 0. */
  private def randomFrontier(seed: Int, n: Int, m: Int): Frontier = {
    val e = randomGraph(seed, n, m)
    val seeds = Seq(e.head._1, e(5)._2, e(9)._1).distinct
    (s"random $seed", e, weighted(seed, e), seeds,
      seeds.zipWithIndex.map { case (v, i) => (v, 10L - i) } :+ ((seeds.head, 0L)))
  }

  private val frontierGraphs: Seq[Frontier] = {
    val chain = (0L until 12L).map(i => (i, i + 1))
    (1 to 3).map(randomFrontier(_, n = 40, m = 70)) ++ Seq(
      ("chain", chain, weighted(4, chain), Seq(0L, 5L), Seq((0L, 2L), (5L, 1L))),
      ("empty seed set", chain, weighted(5, chain), Seq.empty[Long], Seq.empty[(Long, Long)]))
  }

  test("frontier operators equal plain-Scala references: random graphs, a chain, no seeds") {
    frontierGraphs.foreach { case (name, e, w, seeds, labels) =>
      val want = frontierRef(e, w, seeds, labels, maxDepth = 6)
      assert(frontierOps(e, w, seeds, labels, maxDepth = 6) == want, name)
      if (seeds.isEmpty) assert(want.init.forall(_.isEmpty), name)
      else assert(want.forall(_.nonEmpty), name)
    }
  }

  test("frontier budgets: each operator succeeds at its chain's round need and throws one below") {
    import org.apache.spark.sql.functions.{col, lit}
    val L = 6
    val chain = (0L until L.toLong).map(i => (i, i + 1, i + 1)) // (src, dst, weight = time)
    val e = spark.createDataFrame(chain)
    val seed = spark.createDataFrame(Seq(Tuple1(0L))).toDF("node")
    val labeledChain = e.select(col("_1").as("src"), col("_2").as("dst"), lit("a").as("label"))
    val loop = spark.createDataFrame(Seq((0L, "a", 0L))).toDF("s_from", "label", "s_to")
    val ops: Seq[(String, Int, Int => DataFrame)] = Seq(
      // L improving rounds, the confirmation round is extra
      ("sssp", L, r => Fixpoint.sssp(e.toDF("src", "dst", "w"), seed, r)),
      ("widestPath", L, r => Fixpoint.widestPath(e.toDF("src", "dst", "cap"), seed, 100L, r)),
      ("temporalReach", L, r => Fixpoint.temporalReach(e.toDF("src", "dst", "t"), seed, r)),
      // the last of the maxRounds rounds may only confirm the fixpoint
      ("regularPathQuery", L + 1, r => Fixpoint.regularPathQuery(labeledChain, loop, seed, r)),
      ("topoLevels", L + 1, r => Paths.topoLevels(e.select(col("_1").as("src"),
        col("_2").as("dst")), r)))
    ops.foreach { case (name, need, run) =>
      val got = run(need).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet == (0L to L.toLong).toSet, name)
      val err = intercept[IllegalStateException](run(need - 1).collect())
      assert(err.getMessage.startsWith(s"$name did not converge in ${need - 1} rounds"),
        err.getMessage)
    }
  }

  // ---- execution-config invariance -------------------------------------

  /** `run()` under shuffle partitions {1, 7} × AQE on/off × lineage
    * local/reliable must give `want`. */
  private def acrossConfigs(want: Seq[Seq[String]])(run: => Seq[Seq[String]]): Unit = {
    val ckpt = Files.createTempDirectory("graft-vr-ckpt").toString
    for (parts <- Seq(1, 7); aqe <- Seq(true, false); mode <- Seq("local", "reliable")) {
      withConf("spark.sql.shuffle.partitions" -> parts.toString,
          "spark.sql.adaptive.enabled" -> aqe.toString,
          "graft.lineage.mode" -> mode, "graft.lineage.dir" -> ckpt) {
        assert(run == want, s"partitions=$parts aqe=$aqe mode=$mode")
      }
    }
  }

  test("frontier operators give identical rows across partitions, AQE and lineage mode") {
    val (_, e, w, seeds, labels) = randomFrontier(7, n = 16, m = 30)
    val want = frontierRef(e, w, seeds, labels, maxDepth = 3)
    assert(want.forall(_.nonEmpty))
    assert(frontierOps(e, w, seeds, labels, maxDepth = 3) == want)
    acrossConfigs(want)(frontierOps(e, w, seeds, labels, maxDepth = 3))
  }

  test("rewritten operators give identical rows across partitions, AQE and lineage mode") {
    val e = randomGraph(7, n = 50, m = 90)
    val seeds = Seq(Tuple1(3L), Tuple1(17L))
    val dense = e ++ cliques ++ hubRim.map { case (a, b) => (a + 1000, b + 1000) }
    def run(): Seq[Seq[String]] = {
      def rows(d: DataFrame) = d.collect().map(_.mkString(",")).toSeq.sorted
      triangleShaped(dense) ++ Seq(
        rows(Fixpoint.greedyColoring(df(e, "src", "dst"))),
        rows(Centrality.pagerank(df(e, "src", "dst"), 3)),
        rows(Centrality.pagerank(df(e, "src", "dst"), 3, redistributeDangling = true)),
        rows(Centrality.pagerankPersonalized(df(e, "src", "dst"),
          spark.createDataFrame(seeds).toDF("node"), 3)),
        rows(Fixpoint.connectedComponents(df(e, "a", "b"))))
    }
    val want = run()
    assert(want.take(5) == triangleShapedRef(dense))
    assert(want(5) == jonesPlassmann(e)._1.map { case (v, c) => s"$v,$c" }.toSeq.sorted)
    acrossConfigs(want)(run())
  }

  // ---- job budget --------------------------------------------------------

  /** Spark jobs `body` runs. */
  private def jobsOf(body: => Unit): Int = jobStarts(body)._2.size

  // both budgets at the suite's own 4 partitions with AQE on
  test("job budget: coloring runs two jobs per round, components three") {
    // nullable id columns, as read from files: the plans must not split
    // an exchange over inferred null filters
    def nullableDf(e: Edges, a: String, b: String) =
      spark.createDataFrame(e.map { case (x, y) => (Option(x), Option(y)) }).toDF(a, b)
    val e = randomGraph(11, n = 80, m = 200)
    val colorRounds = jonesPlassmann(e)._2
    assert(colorRounds >= 4)
    // round 1 is the state build (one shuffle + one live count), every
    // further round one shuffle + one live count, then the collect
    val colorJobs = jobsOf(Fixpoint.greedyColoring(nullableDf(e, "src", "dst")).collect())
    assert(colorJobs <= 2 * colorRounds + 1, s"$colorJobs jobs for $colorRounds rounds")
    val chain = (0L until 64L).map(i => (i, i + 1))
    val ccRounds = componentRounds(chain)
    assert(ccRounds >= 4)
    // per round the aggregation and pointer-jump exchanges plus the
    // changed-label count (the state build rides in the first round),
    // then the collect
    val ccJobs = jobsOf(Fixpoint.connectedComponents(nullableDf(chain, "a", "b")).collect())
    assert(ccJobs <= 3 * ccRounds + 3, s"$ccJobs jobs for $ccRounds rounds")
  }

  test("job budget: triangleCount and edgeSupport shuffle the oriented set once") {
    val d = spark.createDataFrame((randomGraph(11, n = 80, m = 200) ++ cliques)
      .map { case (x, y) => (Option(x), Option(y)) }).toDF("src", "dst")
    // the adjacency build is one execution (degree census, orientation,
    // the widening exchange and the aggregation behind it) and the
    // intersect reads the pinned adjacency on both sides: an operator
    // that shuffled the oriented set a second time for the probe side
    // (or re-canonicalized an already-canonical set) exceeds these
    val triJobs = jobsOf(Centrality.triangleCount(d).collect())
    assert(triJobs <= 9, s"triangleCount ran $triJobs jobs")
    val supJobs = jobsOf(Centrality.edgeSupport(d).collect())
    assert(supJobs <= 9, s"edgeSupport ran $supJobs jobs")
    // clustering feeds its pinned canonical set straight into the
    // adjacency; re-canonicalizing it (one more distinct) exceeds this
    val ccJobs = jobsOf(Centrality.clusteringCoefficient(d).collect())
    assert(ccJobs <= 11, s"clusteringCoefficient ran $ccJobs jobs")
  }

  test("job budget: bfsDistances tests each level on its own materialization") {
    val L = 8
    val chain = spark.createDataFrame((0L until L.toLong).map(i => (Option(i), Option(i + 1))))
      .toDF("src", "dst")
    val seed = spark.createDataFrame(Seq(Tuple1(Option(0L)))).toDF("node")
    var got: Array[org.apache.spark.sql.Row] = null
    val jobs = jobsOf { got = Fixpoint.bfsDistances(chain, seed, maxDepth = L + 2).collect() }
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L to L.toLong).map(i => i -> i).toMap)
    // L + 1 rounds (the last comes back empty), each its exchanges and
    // broadcasts plus ONE loop-test job, then the collect. A loop that
    // counts the seeds up front and tests each level with count() (an
    // aggregate: two jobs under AQE) runs 54 jobs here.
    assert(jobs <= 44, s"bfsDistances ran $jobs jobs over ${L + 1} rounds")
  }
}
