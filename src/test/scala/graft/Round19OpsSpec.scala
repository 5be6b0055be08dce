package graft

import org.apache.spark.sql.functions._

import graft.graph.Fixpoint

/** Round-14-wave operators: incremental connected components. */
class Round19OpsSpec extends SparkSuite {
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("node", "component").as[(Long, Long)].collect().toMap

  test("incrementalComponents equals full recompute on seeded random splits") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 40
      val all = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val (oldE, newE) = all.splitAt(all.size * 2 / 3)
      val full = labelsOf(Fixpoint.connectedComponents(all.toDF("a", "b")))
      val prev = Fixpoint.connectedComponents(oldE.toDF("a", "b"))
      val inc = labelsOf(Fixpoint.incrementalComponents(prev, newE.toDF("a", "b")))
      // identical labels on the shared node universe; nodes only the old
      // (or only the new) edges touch keep/gain their correct label too
      inc.foreach { case (node, comp) =>
        assert(full(node) == comp, s"trial $trial node $node")
      }
      assert(inc.keySet == full.keySet, s"trial $trial universe")
    }
  }

  test("incrementalComponents converges where an uncontracted path cannot") {
    // old graph: one 60-hop path, pre-labeled (all nodes -> 0); new edge
    // merges it with a second labeled path. The quotient graph is the
    // two old components joined by one super-edge, so its fixpoint
    // converges at once — while a full recompute over the RAW path
    // provably cannot label 60 hops in 3 rounds (pointer jumping needs
    // ~log2(60) ≈ 6).
    val path1 = (0L until 60L).map(i => (i, i + 1))           // 0..60
    val path2 = (100L until 130L).map(i => (i, i + 1))        // 100..130
    val prev = Fixpoint.connectedComponents((path1 ++ path2).toDF("a", "b"))
    val bridge = Seq((60L, 100L)).toDF("a", "b")
    val inc = labelsOf(Fixpoint.incrementalComponents(prev, bridge))
    assert(inc.values.toSet == Set(0L), "merged component labels to min id 0")
    assert(inc.keySet == ((0L to 60L) ++ (100L to 130L)).toSet)
    // control: the raw merged path in a 3-round budget must fail
    // loudly (connectedComponents throws instead of returning bad labels)
    val raw = (path1 ++ path2 ++ Seq((60L, 100L))).toDF("a", "b")
    intercept[IllegalStateException](
      Fixpoint.connectedComponents(raw, maxRounds = 3).collect())
  }

  test("per-batch folding is slicing-insensitive and replay-idempotent") {
    // labels(fold(b1, b2, b3)) == labels(b1 ∪ b2 ∪ b3), any slicing, and
    // re-folding an already-folded batch changes nothing — the contract
    // Streaming.incrementalComponentsSink rides on
    val rnd = new scala.util.Random(7)
    val all = Seq.fill(50)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
    val full = labelsOf(Fixpoint.connectedComponents(all.toDF("a", "b")))
    val slices = all.grouped(math.max(1, all.size / 3)).toSeq
    var labels: org.apache.spark.sql.DataFrame = null
    for (s <- slices) {
      labels =
        if (labels == null) Fixpoint.connectedComponents(s.toDF("a", "b"))
        else Fixpoint.incrementalComponents(labels, s.toDF("a", "b"))
    }
    assert(labelsOf(labels) == full)
    // replay the FIRST slice again after everything folded
    val replayed = Fixpoint.incrementalComponents(labels, slices.head.toDF("a", "b"))
    assert(labelsOf(replayed) == full)
  }
}
