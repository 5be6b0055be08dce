package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.graph.GraphStore

/** Property-based laws of the merge operator — the algebra the whole
  * incremental-sync design rests on (the reference only has example-based
  * golden tests; SURVEY §5 notes property testing as absent — added here).
  *
  * Laws: key uniqueness, same-tag idempotency, untouched-row preservation,
  * and cleanup∘merge = merge for fully-fresh batches.
  */
class MergeLawsSpec extends SparkSuite {
  import spark.implicits._

  private val genBatch: Gen[List[(Long, Option[String])]] = for {
    n <- Gen.choose(0, 12)
    rows <- Gen.listOfN(n, for {
      id <- Gen.choose(1L, 8L)
      v <- Gen.option(Gen.alphaStr.map(_.take(4)))
    } yield (id, v))
  } yield rows.distinctBy(_._1) // unique ids per batch (reference batches are keyed)

  private def df(rows: List[(Long, Option[String])]): DataFrame =
    rows.toDF("id", "name")

  /** Deterministic stand-in for forAll (no scalatest-scalacheck bridge in
    * the offline cache): sample the generators over fixed seeds. */
  private def forAllSeeded(f: (List[(Long, Option[String])],
                               List[(Long, Option[String])]) => Unit): Unit =
    (1 to 10).foreach { i =>
      val b1 = genBatch(Gen.Parameters.default, Seed(i.toLong)).get
      val b2 = genBatch(Gen.Parameters.default, Seed(i.toLong + 1000)).get
      withClue(s"seed=$i b1=$b1 b2=$b2: ") { f(b1, b2) }
    }

  private def snapshot(t: DataFrame): Set[(Long, Long, Long, Option[String])] =
    t.select("id", "firstseen", "lastupdated", "name")
      .as[(Long, Long, Long, Option[String])].collect().toSet

  test("law: merged table has unique keys") {
    forAllSeeded { (b1, b2) =>
      val t1 = GraphStore.initialLoad(df(b1), Seq("id"), 100L)
      val t2 = GraphStore.upsertNodes(t1, df(b2), 200L)
      val ids = t2.select("id").as[Long].collect().toSeq
      assert(ids.size == ids.distinct.size)
    }
  }

  test("law: same-tag re-merge of the same batch is idempotent") {
    forAllSeeded { (b1, b2) =>
      val t1 = GraphStore.initialLoad(df(b1), Seq("id"), 100L)
      val once = GraphStore.upsertNodes(t1, df(b2), 200L)
      val twice = GraphStore.upsertNodes(once, df(b2), 200L)
      assert(snapshot(once) == snapshot(twice))
    }
  }

  test("law: rows absent from the batch are byte-identical after merge") {
    forAllSeeded { (b1, b2) =>
      val touched = b2.map(_._1).toSet
      val t1 = GraphStore.initialLoad(df(b1), Seq("id"), 100L)
      val t2 = GraphStore.upsertNodes(t1, df(b2), 200L)
      val before = snapshot(t1).filterNot(r => touched(r._1))
      val after = snapshot(t2).filterNot(r => touched(r._1))
      assert(before == after)
    }
  }

  test("law: duplicate batch keys collapse to one row (paginated-API dup)") {
    forAllSeeded { (b1, b2) =>
      val dupBatch = df(b2).unionAll(df(b2)) // same resource returned twice
      val t1 = GraphStore.initialLoad(df(b1), Seq("id"), 100L)
      val t2 = GraphStore.upsertNodes(t1, dupBatch, 200L)
      val ids = t2.select("id").as[Long].collect().toSeq
      assert(ids.size == ids.distinct.size)
    }
  }

  test("law: cleanup after a full re-sync keeps exactly the batch keys") {
    forAllSeeded { (b1, b2) =>
      val t1 = GraphStore.initialLoad(df(b1), Seq("id"), 100L)
      val t2 = GraphStore.upsertNodes(t1, df(b2), 200L)
      val cleaned = GraphStore.cleanup(t2, 200L)
      assert(cleaned.select("id").as[Long].collect().toSet == b2.map(_._1).toSet)
    }
  }
}
