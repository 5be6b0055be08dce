package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.GlobalOrder

/** [[GlobalOrder]] must be a drop-in for the single-partition global
  * window: identical ranks and running sums under a total order, with
  * zero partition-less Window nodes anywhere in its plan. */
class GlobalOrderSpec extends SparkSuite {
  override protected def shufflePartitions: Int = 7
  import spark.implicits._

  private def partitionlessWindows(df: DataFrame): Seq[logical.Window] =
    df.queryExecution.optimizedPlan.collect {
      case w: logical.Window if w.partitionSpec.isEmpty => w
    }

  test("rank equals the single-partition row_number under a total order") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      // heavy ties on k force the tie-break column to carry the order
      val rows = (1 to 500).map(i => (rnd.nextInt(20).toLong, i.toLong))
      val df = rows.toDF("k", "id")
      val want = df.withColumn("r", row_number().over(
          Window.orderBy(col("k").asc, col("id").asc)).cast("long"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      val gotDf = GlobalOrder.rank(df, col("k"), Seq(col("id").asc), "r")
      val got = gotDf.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"seed $seed")
      assert(partitionlessWindows(gotDf).isEmpty,
        "GlobalOrder must not plan any partition-less Window")
    }
  }

  test("running sums equal the inclusive window sums, negatives included") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 10)
      val rows = (1 to 400).map(i =>
        (i.toLong, (rnd.nextInt(200) - 100).toLong, rnd.nextInt(50).toLong))
      val df = rows.toDF("v", "a", "b")
      val w = Window.orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.withColumn("ca", sum(col("a")).over(w))
        .withColumn("cb", sum(col("b")).over(w))
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
      val gotDf = GlobalOrder.withRunningAggs(df, col("v"), Nil,
        Seq((col("a"), "ca"), (col("b"), "cb")), rankName = Some("rk"))
      val got = gotDf.collect().map(r =>
        (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
      assert(got == want, s"seed $seed")
      // the rank rides along consistently: row with rank r has v = r
      val ranks = gotDf.collect().map(r => (r.getAs[Long]("rk"), r.getLong(0)))
      assert(ranks.forall { case (rk, v) => rk == v }, s"seed $seed ranks")
    }
  }

  test("null values in a running sum match the window's null semantics") {
    // nulls at the head: the sum stays null until the first non-null,
    // then nulls pass the prior total through untouched
    val rows = Seq((1L, None), (2L, None), (3L, Some(5L)), (4L, None),
      (5L, Some(2L)), (6L, None))
    val df = rows.map { case (v, x) => (v, x.map(java.lang.Long.valueOf).orNull) }
      .toDF("v", "x")
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cx", sum(col("x")).over(w))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val got = GlobalOrder.runningSum(df, col("v"), Nil, col("x"), "cx")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got == want)
    assert(want(2L).isEmpty && want(4L).contains(5L) && want(6L).contains(7L))
  }

  test("decimal running sums keep the decimal type") {
    val df = Seq((1L, BigDecimal(3)), (2L, BigDecimal(5)), (3L, BigDecimal(7)))
      .toDF("v", "x")
      .select(col("v"), col("x").cast("decimal(38,0)").as("x"))
    val out = GlobalOrder.runningSum(df, col("v"), Nil, col("x"), "cx")
    assert(out.schema("cx").dataType.typeName.startsWith("decimal"))
    val got = out.collect().map(r =>
      (r.getLong(0), r.getDecimal(2).longValueExact())).toSet
    assert(got == Set((1L, 3L), (2L, 8L), (3L, 15L)))
  }

  test("exclusive running max equals the strictly-preceding window max") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 20)
      val rows = (1 to 300).map(i => (i.toLong, rnd.nextInt(100).toLong))
      val df = rows.toDF("v", "y")
      val w = Window.orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = df.withColumn("m", max(col("y")).over(w))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      val got = GlobalOrder.withRunningAggs(df, col("v"), Nil,
          exclMaxes = Seq((col("y"), "m")))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      assert(got == want, s"seed $seed")
    }
  }

  test("empty and single-row inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("v", "x")
    assert(GlobalOrder.withRunningAggs(empty, col("v"), Nil,
      Seq((col("x"), "cx")), Some("r")).count() == 0)
    val one = Seq((5L, 9L)).toDF("v", "x")
    val got = GlobalOrder.withRunningAggs(one, col("v"), Nil,
      Seq((col("x"), "cx")), Some("r")).collect().head
    assert(got.getAs[Long]("r") == 1L && got.getAs[Long]("cx") == 9L)
  }

  test("a far outlier collapsing the equal-width buckets stays correct") {
    // one key near Long.MaxValue squeezes every other key into bucket 0:
    // performance degrades (documented), correctness must not
    val rows = (1 to 500).map(i => (i.toLong, i.toLong)) :+
      (Long.MaxValue / 2, 9999L)
    val df = rows.toDF("k", "id")
    val want = df.withColumn("r", row_number().over(
        Window.orderBy(col("k").asc, col("id").asc)).cast("long"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val got = GlobalOrder.rank(df, col("k"), Seq(col("id").asc), "r")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // negative-to-positive span (hash-key shape): max-min would overflow
    // a bare long subtraction — the decimal path must hold
    val rows2 = Seq((Long.MinValue / 2 + 1, 1L), (-5L, 2L), (0L, 3L),
      (7L, 4L), (Long.MaxValue / 2, 5L))
    val got2 = GlobalOrder.rank(rows2.toDF("k", "id"), col("k"),
        Seq(col("id").asc), "r")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got2 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("skewed key distribution still ranks correctly") {
    // 90% of rows share one order key: range partitioning puts all of
    // them in one partition (the contract: equal keys co-locate), the
    // tie-break id keeps the order total
    val rows = (1 to 1000).map(i =>
      (if (i <= 900) 7L else i.toLong, i.toLong))
    val df = rows.toDF("k", "id")
    val want = df.withColumn("r", row_number().over(
        Window.orderBy(col("k").asc, col("id").asc)).cast("long"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val got = GlobalOrder.rank(df, col("k"), Seq(col("id").asc), "r")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("grouped mode equals per-group windows (ranks, sums, excl maxes)") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed + 40)
      // group sizes wildly uneven; one group carries 70% of the rows
      val rows = (1 to 600).map { i =>
        val g = if (i <= 420) "hot" else s"g${rnd.nextInt(6)}"
        (g, rnd.nextInt(30).toLong, i.toLong, (rnd.nextInt(40) - 10).toLong)
      }
      val df = rows.toDF("g", "k", "id", "x")
      val w = Window.partitionBy(col("g")).orderBy(col("k").asc, col("id").asc)
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val we = w.rowsBetween(Window.unboundedPreceding, -1)
      val want = df
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("cx", sum(col("x")).over(wf))
        .withColumn("mx", max(col("x")).over(we))
        .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4),
          r.getLong(5), if (r.isNullAt(6)) -999L else r.getLong(6))).toSet
      val got = GlobalOrder.withRunningAggs(df, col("k"), Seq(col("id").asc),
          sums = Seq((col("x"), "cx")), rankName = Some("r"),
          exclMaxes = Seq((col("x"), "mx")), groupCols = Seq(col("g")))
        .collect().map(r => (r.getString(0), r.getLong(2),
          r.getAs[Long]("r"), r.getAs[Long]("cx"),
          if (r.isNullAt(r.fieldIndex("mx"))) -999L else r.getAs[Long]("mx")))
        .toSet
      assert(got == want, s"seed $seed")
    }
  }

  test("grouped mode: a null group is a real group, not dropped") {
    val rows = Seq((Some("a"), 1L), (Some("a"), 2L), (None, 3L), (None, 4L),
      (Some("b"), 5L))
    val df = rows.map { case (g, v) => (g.orNull, v) }.toDF("g", "v")
    val got = GlobalOrder.withRunningAggs(df, col("v"), Nil,
        rankName = Some("r"), groupCols = Seq(col("g")))
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getAs[Long]("r")))
      .toSet
    assert(got == Set((Some("a"), 1L, 1L), (Some("a"), 2L, 2L),
      (None, 3L, 1L), (None, 4L, 2L), (Some("b"), 5L, 1L)))
  }

  test("skew mode equals the uniform path and the window on 90%-one-key data") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed + 50)
      val rows = (1 to 1000).map { i =>
        (if (i <= 900) 7L else 1000L + rnd.nextInt(200),
          i.toLong, rnd.nextInt(25).toLong)
      }
      val df = rows.toDF("k", "id", "x")
      val w = Window.orderBy(col("k").asc, col("id").asc)
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.withColumn("r", row_number().over(w).cast("long"))
        .withColumn("cx", sum(col("x")).over(wf))
        .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).toSet
      val gotDf = GlobalOrder.withRunningAggsSkew(df, col("k"), col("id"),
        sums = Seq((col("x"), "cx")), rankName = Some("r"))
      val got = gotDf.collect()
        .map(r => (r.getLong(1), r.getAs[Long]("r"), r.getAs[Long]("cx"))).toSet
      assert(got == want, s"seed $seed")
      assert(partitionlessWindows(gotDf).isEmpty)
    }
  }

  test("skew mode: constant tie within the hot key, null keys, empty input") {
    // hot key with a CONSTANT tie cannot be split — must stay correct
    val rows = (1 to 300).map(i => (if (i <= 250) 5L else i.toLong, 1L, i.toLong))
    val df = rows.toDF("k", "tie", "id")
    val want = df.withColumn("r", row_number().over(
        Window.orderBy(col("k").asc, col("tie").asc, col("id").asc)).cast("long"))
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    val got = GlobalOrder.withRunningAggsSkew(df, col("k"), col("tie"),
        moreTies = Seq(col("id").asc), rankName = Some("r"))
      .collect().map(r => (r.getLong(2), r.getAs[Long]("r"))).toSet
    assert(got == want)
    // null keys sort first, exactly like the uniform path
    val withNull = Seq((Option.empty[Long], 1L), (Some(3L), 2L), (Some(1L), 3L))
      .map { case (k, id) => (k.map(java.lang.Long.valueOf).orNull, id) }
      .toDF("k", "id")
    val gotN = GlobalOrder.withRunningAggsSkew(withNull, col("k"), col("id"),
        rankName = Some("r"))
      .collect().map(r => (r.getLong(1), r.getAs[Long]("r"))).toMap
    // (id → rank): null key first, then k=1 (id 3), then k=3 (id 2)
    assert(gotN == Map(1L -> 1L, 3L -> 2L, 2L -> 3L))
    val empty = Seq.empty[(Long, Long)].toDF("k", "id")
    assert(GlobalOrder.withRunningAggsSkew(empty, col("k"), col("id"),
      rankName = Some("r")).count() == 0)
  }

  test("auto mode matches the window on both sides of the skew threshold") {
    val w = Window.orderBy(col("k").asc, col("id").asc)
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def check(rows: Seq[(Long, Long, Long)]): Unit = {
      val df = rows.toDF("k", "id", "x")
      val want = df.withColumn("r", row_number().over(w).cast("long"))
        .withColumn("cx", sum(col("x")).over(wf))
        .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).toSet
      val gotDf = GlobalOrder.withRunningAggsAuto(df, col("k"), col("id"),
        sums = Seq((col("x"), "cx")), rankName = Some("r"))
      val got = gotDf.collect()
        .map(r => (r.getLong(1), r.getAs[Long]("r"), r.getAs[Long]("cx"))).toSet
      assert(got == want)
      assert(partitionlessWindows(gotDf).isEmpty)
    }
    val rnd = new Random(77)
    // 90%-one-key → probe routes to the prebinned path
    check((1 to 800).map(i =>
      (if (i <= 720) 7L else 1000L + i, i.toLong, rnd.nextInt(25).toLong)))
    // near-unique keys → probe routes to the uniform path
    check((1 to 800).map(i => (i * 3L, i.toLong, rnd.nextInt(25).toLong)))
    // threshold is config-driven: force the uniform path on skewed data
    withConf("graft.globalorder.skewThresholdPpm" -> "999999") {
      check((1 to 400).map(i =>
        (if (i <= 350) 9L else 2000L + i, i.toLong, rnd.nextInt(9).toLong)))
    }
    // empty input survives the probe
    assert(GlobalOrder.withRunningAggsAuto(
      Seq.empty[(Long, Long, Long)].toDF("k", "id", "x"),
      col("k"), col("id"), rankName = Some("r")).count() == 0)
  }

  test("skew mode spreads a hot key across multiple buckets") {
    // the observable: the local pass shuffles by _go_bkt, so with AQE
    // coalescing OFF (it would merge this tiny test shuffle into one
    // partition and hide the spread) no task may see a hot-key-sized
    // share of the rows. Measured at the RDD level —
    // groupBy(spark_partition_id()) is NOT a valid probe: the pid is
    // nondeterministic, so Catalyst evaluates it after the
    // aggregation's own shuffle and reports the agg stage's layout.
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val rows = (1 to 2000).map(i => (if (i <= 1800) 7L else i.toLong, i.toLong))
      val df = rows.toDF("k", "id")
      val out = GlobalOrder.withRunningAggsSkew(df, col("k"), col("id"),
        rankName = Some("r"))
      val sizes = out.rdd
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
        .collect().map(_._2).filter(_ > 0)
      assert(sizes.max <= 1200, s"hot bucket still dominates: ${sizes.toSeq}")
      assert(sizes.length > 1, "all rows still land in one task")
    }
  }
}
