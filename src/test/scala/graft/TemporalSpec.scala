package graft

import graft.operators.Temporal

/** Semantics of the temporal join operators: inclusive/strict as-of
  * boundaries, deterministic tie resolution, and range-join interval
  * boundary handling across bucket edges. */
class TemporalSpec extends SparkSuite {
  import spark.implicits._

  test("asofJoin picks the latest prior row, inclusive at equal timestamps") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 20L, 100L))
      .toDF("id", "k", "t")
    val right = Seq((10L, 100L, 7L), (10L, 200L, 8L), (10L, 300L, 9L))
      .toDF("k", "rt", "v")
    val out = Temporal.asofJoin(left, right, Seq("k"), "t", "rt", Seq("v"))
      .select("id", "v").as[(Long, Option[Long])].collect().toMap
    assert(out(1L).contains(7L)) // rt=100 <= t=100 (inclusive)
    assert(out(2L).contains(8L)) // latest prior is rt=200
    assert(out(3L).isEmpty)      // key 20 has no right rows -> null
  }

  test("asofJoin strict excludes the equal-timestamp row") {
    val left = Seq((1L, 10L, 200L)).toDF("id", "k", "t")
    val right = Seq((10L, 100L, 7L), (10L, 200L, 8L)).toDF("k", "rt", "v")
    val out = Temporal.asofJoin(left, right, Seq("k"), "t", "rt", Seq("v"),
        strict = true)
      .select("id", "v").as[(Long, Option[Long])].collect().toMap
    assert(out(1L).contains(7L)) // rt=200 == t excluded under strict
  }

  test("asofJoin resolves same-timestamp right duplicates to the greatest payload") {
    val left = Seq((1L, 10L, 300L)).toDF("id", "k", "t")
    val right = Seq((10L, 200L, 5L), (10L, 200L, 9L), (10L, 200L, 2L))
      .toDF("k", "rt", "v")
    (1 to 3).foreach { _ =>
      val out = Temporal.asofJoin(
          left, right.repartition(4), Seq("k"), "t", "rt", Seq("v"))
        .select("v").as[Long].collect().toSeq
      assert(out == Seq(9L))
    }
  }

  test("asofJoin matches a naive join+argmax reference on seeded random data") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val left = (1L to 300L).map(i => (i, rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong))
      .toDF("id", "k", "t")
    val right = (1L to 400L).map(i => (rnd.nextInt(10).toLong, rnd.nextInt(1000).toLong, i))
      .toDF("k", "rt", "v")
    val fast = Temporal.asofJoin(left, right, Seq("k"), "t", "rt", Seq("v"))
      .select("id", "v").as[(Long, Option[Long])].collect().toMap
    // naive reference: join all candidates, argmax (rt, v) per left row
    val naive = left.as("l").join(right.as("r"),
        col("l.k") === col("r.k") && col("r.rt") <= col("l.t"), "left")
      .groupBy(col("l.id").as("id"))
      .agg(max(struct(col("r.rt"), col("r.v"))).as("best"))
      .select(col("id"), col("best.v").as("v"))
      .as[(Long, Option[Long])].collect().toMap
    assert(fast == naive)
  }

  test("nearestJoin looks both directions, backward wins ties, tolerance blanks") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 195L), (3L, 10L, 150L),
      (4L, 20L, 50L), (5L, 30L, 7L)).toDF("id", "k", "t")
    val right = Seq((10L, 90L, 7L), (10L, 200L, 8L), (20L, 500L, 9L))
      .toDF("k", "rt", "v")
    val out = Temporal.nearestJoin(left, right, Seq("k"), "t", "rt", Seq("v"),
        tolerance = 300L)
      .select("id", "v", "match_dist")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (Some(7L), Some(10L)))  // backward 10 beats forward 100
    assert(out(2L) == (Some(8L), Some(5L)))   // forward 5 beats backward 105
    assert(out(3L) == (Some(8L), Some(50L)))  // forward 50 beats backward 60
    assert(out(4L) == (None, None))           // nearest is 450 away > tolerance
    assert(out(5L) == (None, None))           // key 30 has no right rows
  }

  test("nearestJoin equal-distance tie prefers backward; same-timestamp prefers greatest payload") {
    val left = Seq((1L, 10L, 150L)).toDF("id", "k", "t")
    val right = Seq((10L, 100L, 5L), (10L, 200L, 9L)).toDF("k", "rt", "v")
    val out = Temporal.nearestJoin(left, right, Seq("k"), "t", "rt", Seq("v"))
      .select("v").as[Long].collect().toSeq
    assert(out == Seq(5L)) // dist 50 both ways -> backward (rt=100)
    val right2 = Seq((10L, 100L, 5L), (10L, 100L, 8L), (10L, 100L, 2L))
      .toDF("k", "rt", "v")
    (1 to 3).foreach { _ =>
      val out2 = Temporal.nearestJoin(
          left, right2.repartition(4), Seq("k"), "t", "rt", Seq("v"))
        .select("v").as[Long].collect().toSeq
      assert(out2 == Seq(8L)) // greatest payload among equal timestamps
    }
  }

  test("nearestJoin matches a naive abs-distance argmin reference on seeded data") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val left = (1L to 250L).map(i =>
      (i, rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong)).toDF("id", "k", "t")
    val right = (1L to 350L).map(i =>
      (rnd.nextInt(10).toLong, rnd.nextInt(1000).toLong, i)).toDF("k", "rt", "v")
    val fast = Temporal.nearestJoin(left, right, Seq("k"), "t", "rt", Seq("v"),
        tolerance = 200L)
      .select("id", "v").as[(Long, Option[Long])].collect().toMap
    val naive = left.as("l").join(right.as("r"), $"l.k" === $"r.k")
      .withColumn("dist", abs($"t" - $"rt"))
      .filter($"dist" <= 200L)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"id")
          .orderBy($"dist".asc,
            when($"rt" <= $"t", 0).otherwise(1).asc, $"v".desc)))
      .filter($"rk" === 1)
      .select($"id", $"v").as[(Long, Long)].collect().toMap
    (1L to 250L).foreach { i =>
      assert(fast(i) == naive.get(i), s"left row $i")
    }
  }

  test("nearestJoin plans ONE key shuffle feeding both window passes") {
    val left = (1L to 100L).map(i => (i, i % 5, i * 3)).toDF("id", "k", "t")
    val right = (1L to 100L).map(i => (i % 7, i * 2, i)).toDF("k", "rt", "v")
    val plan = Temporal.nearestJoin(left, right, Seq("k"), "t", "rt", Seq("v"))
      .queryExecution.executedPlan.toString
    // both window passes hash-partition on the key — Catalyst must plan a
    // single Exchange (plus the union inputs' none): the operator's
    // one-shuffle contract at 100× scale
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 key shuffle, got $exchanges:\n$plan")
  }

  test("rangeJoinBucketed: inclusive start, exclusive end, spans bucket edges") {
    // interval [95, 125) with bucket width 10 covers buckets 9..12
    val right = Seq((1L, 95L, 125L)).toDF("win", "s", "e")
    val left = Seq(94L, 95L, 100L, 110L, 124L, 125L).map(Tuple1(_)).toDF("t")
    val in = Temporal.rangeJoinBucketed(left, "t", right, "s", "e", 10L)
      .select("t").as[Long].collect().toSet
    assert(in == Set(95L, 100L, 110L, 124L)) // 94 before, 125 at exclusive end
  }

  test("rangeJoinBucketed matches a naive theta join on seeded random data") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val left = (1L to 500L).map(i => (i, rnd.nextInt(10000).toLong)).toDF("id", "t")
    val right = (1L to 60L).map { i =>
      val s = rnd.nextInt(10000).toLong; (i, s, s + 1 + rnd.nextInt(900).toLong)
    }.toDF("win", "s", "e")
    for (bucket <- Seq(64L, 300L, 1024L, 5000L)) {
      val fast = Temporal.rangeJoinBucketed(left, "t", right, "s", "e", bucket)
        .select("id", "win").as[(Long, Long)].collect().toSet
      val naive = left.join(right, col("t") >= col("s") && col("t") < col("e"))
        .select("id", "win").as[(Long, Long)].collect().toSet
      assert(fast == naive, s"bucket=$bucket")
    }
  }

  test("forwardFill carries the last observation, leaves leading gaps null") {
    val grid = (for (k <- Seq("a", "b"); t <- 1L to 5L) yield (k, t)).toDF("k", "t")
    val obs = Seq(("a", 2L, 10L), ("a", 4L, 20L), ("b", 5L, 30L)).toDF("k", "t", "v")
    val out = Temporal.forwardFill(grid, obs, Seq("k"), "t", Seq("v"))
      .select("k", "t", "v").as[(String, Long, Option[Long])].collect()
      .map { case (k, t, v) => (k, t) -> v }.toMap
    assert(out(("a", 1L)).isEmpty)            // before first obs
    assert(out(("a", 2L)).contains(10L))      // observed
    assert(out(("a", 3L)).contains(10L))      // carried
    assert(out(("a", 4L)).contains(20L))      // new obs replaces
    assert(out(("a", 5L)).contains(20L))
    assert(out(("b", 4L)).isEmpty && out(("b", 5L)).contains(30L))
  }

  test("rangeJoinBucketed: overlapping intervals each match, no duplicates") {
    val right = Seq((1L, 0L, 100L), (2L, 50L, 150L)).toDF("win", "s", "e")
    val left = Seq(75L).map(Tuple1(_)).toDF("t")
    val out = Temporal.rangeJoinBucketed(left, "t", right, "s", "e", 30L)
      .select("win").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 2L)) // one row per containing interval, exactly
  }
}
