package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Lineage._
import graft.graph.Centrality

/** Product/ops analytics over event and fact tables — the read-side
  * battery a sync'd asset graph or training-data lake feeds (reference
  * read surface: cartography's drift/rules queries are point-in-time
  * reports over the synced tables; these are the same shape generalized
  * to cohorts, drift distances and leakage-safe feature prep).
  *
  * Every operator is exact-integer arithmetic (scaled longs, integer
  * `div`) so a SQL oracle reproduces results bit-for-bit in any engine:
  * no float sums whose value depends on reduction order.
  */
object Analytics {

  /** Cohort retention matrix: users bucketed by their first-activity
    * period, then distinct-user counts per (cohort, offset) cell — the
    * standard "week-0 cohort, +N week retention" triangle.
    *
    * `periodCol` is any integral period index derived from the event
    * row (epoch-week, epoch-day...). Two shuffles total: the distinct on
    * (user, period) collapses raw event volume FIRST (at 100 TB events
    * the distinct is the map-side-combinable mass reducer; everything
    * after runs on |users|·|periods| rows), then one min-agg for the
    * cohort and one count-distinct per cell. The cohort join is a
    * self-equi-join on user — co-partitioned with the distinct's
    * shuffle, so AQE reuses the exchange. */
  def retentionCohorts(df: DataFrame, userCol: String,
                       periodCol: Column): DataFrame = {
    val up = df.select(col(userCol).as("u"), periodCol.cast("long").as("pd"))
      .distinct()
    val cohort = up.groupBy(col("u")).agg(min(col("pd")).as("cohort_pd"))
    up.join(cohort, Seq("u"))
      .groupBy(col("cohort_pd"), (col("pd") - col("cohort_pd")).as("offset_pd"))
      .agg(countDistinct(col("u")).as("n_users"))
  }

  /** Cohort lifetime-value curve: users bucketed by first-activity
    * period, then the CUMULATIVE value per (cohort, age) cell and its
    * per-user rate — [[retentionCohorts]]'s triangle with money instead
    * of presence ("how much has the March cohort spent by month 3").
    *
    * Same two-shuffle shape as the retention matrix (per-user min, cell
    * agg); the cumulative sum is a window over the tiny cohort×offset
    * grid, not the fact table. Integer throughout: per-user LTV =
    * cum div cohort size (floor). Output: (cohort_pd, offset_pd,
    * n_users_cohort, cum_value, ltv_per_user). */
  def cohortLtv(df: DataFrame, userCol: String, periodCol: Column,
                valueCol: Column): DataFrame = {
    val up = df.select(col(userCol).as("u"), periodCol.cast("long").as("pd"),
      valueCol.cast("long").as("v"))
    val cohort = up.groupBy(col("u")).agg(min(col("pd")).as("cohort_pd"))
    val size = cohort.groupBy(col("cohort_pd"))
      .agg(count(lit(1)).as("n_users_cohort"))
    val cells = up.join(cohort, Seq("u"))
      .groupBy(col("cohort_pd"), (col("pd") - col("cohort_pd")).as("offset_pd"))
      .agg(sum(col("v")).as("cell_v"))
    val w = Window.partitionBy(col("cohort_pd")).orderBy(col("offset_pd").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_value", sum(col("cell_v")).over(w))
      .join(broadcast(size), Seq("cohort_pd"))
      .select(col("cohort_pd"), col("offset_pd"), col("n_users_cohort"),
        col("cum_value"),
        expr("cum_value div n_users_cohort").as("ltv_per_user"))
  }

  /** Out-of-fold target encoding (leakage-safe categorical → numeric
    * feature prep): the encoding a row sees for its category EXCLUDES
    * its own fold's rows — `enc(cat, fold) = (Σ_cat target − Σ_{cat,fold}
    * target) div (n_cat − n_{cat,fold})`. Emitting the (category, fold)
    * grid (not per-row values) keeps the output a broadcastable
    * dimension: the apply step is one map-side join, so the 100 TB fact
    * table is scanned once here (the grid agg) and once at apply.
    *
    * `targetCol` must already be an integral scaled value (cents, ppm).
    * One shuffle: the (cat, fold) agg; the per-category totals come from
    * a window over the grid (grid = |cats|·|folds| rows, tiny). Cells
    * where the category exists only in that fold encode NULL — the
    * caller decides the prior to back-fill (emitting a fake global mean
    * here would hide the leak). */
  def targetEncodeOof(df: DataFrame, catCol: String, foldCol: Column,
                      targetCol: Column): DataFrame = {
    val grid = df
      .select(col(catCol).as("cat"), foldCol.cast("long").as("fold"),
        targetCol.cast("long").as("t"))
      .groupBy(col("cat"), col("fold"))
      .agg(sum(col("t")).as("fold_sum"), count(lit(1)).as("fold_n"))
    val w = Window.partitionBy(col("cat"))
    grid
      .withColumn("_tot_sum", sum(col("fold_sum")).over(w))
      .withColumn("_tot_n", sum(col("fold_n")).over(w))
      .select(col("cat"), col("fold"), col("fold_n"),
        when(col("_tot_n") > col("fold_n"),
          expr("(_tot_sum - fold_sum) div (_tot_n - fold_n)"))
          .as("oof_enc"))
  }

  /** Trailing-window anomaly flags: a point is anomalous when it sits
    * more than `k` standard deviations from the mean of the previous
    * `lookback` points in its series. The float-free form: with S = Σv,
    * Q = Σv², c = count over the trailing window (current row EXCLUDED —
    * the baseline must not contain the point under test),
    * `(c·v − S)² > k²·(c·Q − S²)` is `(v−μ)² > k²σ²` cleared of
    * denominators — exact in long arithmetic for |v| ≤ ~1e6 and
    * lookback ≤ ~100 (document: (c·v)² bounds the magnitude).
    *
    * One shuffle (the window sort). `partCols` is the series key — at
    * 100 TB partition by (series, day) so no single window partition
    * holds a whole hot series; the seam rows lose at most `lookback`
    * baseline points at each day boundary, the standard streaming
    * trade. Rows with fewer than `minBaseline` trailing points are
    * unjudgeable and emitted with NULL `is_anomaly`. */
  def rollingAnomaly(df: DataFrame, partCols: Seq[Column],
                     orderCols: Seq[Column], valueCol: Column,
                     lookback: Int, minBaseline: Int, k: Int): DataFrame = {
    require(lookback >= minBaseline && minBaseline >= 2,
      "need lookback >= minBaseline >= 2")
    val w = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
      .rowsBetween(-lookback.toLong, -1L)
    df.withColumn("_v", valueCol.cast("long"))
      .withColumn("_s", sum(col("_v")).over(w))
      .withColumn("_q", sum(col("_v") * col("_v")).over(w))
      .withColumn("_c", count(col("_v")).over(w))
      .withColumn("is_anomaly",
        when(col("_c") < minBaseline, lit(null).cast("boolean"))
          .otherwise(
            (col("_c") * col("_v") - col("_s")) * (col("_c") * col("_v") - col("_s")) >
              lit(k.toLong * k) * (col("_c") * col("_q") - col("_s") * col("_s"))))
  }

  /** Equal-frequency binning summary: rows ranked inside each group
    * under a TOTAL order (pass a tiebreaker in `orderCols` — ntile over
    * a partial order is engine-dependent), dealt into `nBins` ntile
    * bins, then one row per (group, bin) with count and value range —
    * the discretization table a feature store materializes. One shuffle
    * (the window sort), one map-side-combinable agg. At 100 TB swap the
    * exact ntile for [[graft.text.Sketches]] histogram quantiles; this
    * is the exact baseline the sketch is judged against. */
  def quantileBinSummary(df: DataFrame, groupCol: String, valueCol: Column,
                         orderCols: Seq[Column], nBins: Int): DataFrame = {
    require(nBins >= 2, "nBins must be >= 2")
    val w = Window.partitionBy(col(groupCol)).orderBy(orderCols: _*)
    df.select(col(groupCol).as("g"), valueCol.cast("long").as("v"),
        ntile(nBins).over(w).as("bin"))
      .groupBy(col("g"), col("bin"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  /** Total-variation distance between two labeled distributions over a
    * shared bin column: TVD = ½·Σ_bins |p_a − p_b| with per-bin masses
    * as integer ppm (`cnt·1e6 div N_side`). The drift metric for "did
    * this week's corpus mix / score distribution move" monitoring —
    * chosen over PSI/KL because it needs no logarithm (transcendental
    * functions are where engines disagree) and is bounded [0, 1e6 ppm].
    *
    * Input: `sideCol` boolean (true = side A / baseline). Two aggs
    * (per-side totals broadcast as a 1-row plan, per-(side, bin)
    * counts), one full-outer self-merge on bin via grouping — absent
    * bins count 0. Output one row: bins per side, the ppm distance. */
  def tvdDrift(df: DataFrame, binCol: Column, sideCol: Column): DataFrame = {
    val binned = df.select(binCol.as("bin"), sideCol.as("is_a"))
    val totals = binned.groupBy(col("is_a")).agg(count(lit(1)).as("n"))
    val masses = binned.groupBy(col("bin"), col("is_a")).agg(count(lit(1)).as("c"))
      .join(broadcast(totals), Seq("is_a"))
      .select(col("bin"),
        when(col("is_a"), expr("c * 1000000 div n")).otherwise(lit(0L)).as("pa"),
        when(!col("is_a"), expr("c * 1000000 div n")).otherwise(lit(0L)).as("pb"),
        when(col("is_a"), lit(1L)).otherwise(lit(0L)).as("na_bin"),
        when(!col("is_a"), lit(1L)).otherwise(lit(0L)).as("nb_bin"))
    masses.groupBy(col("bin"))
      .agg(sum(col("pa")).as("pa"), sum(col("pb")).as("pb"),
        max(col("na_bin")).as("na_bin"), max(col("nb_bin")).as("nb_bin"))
      .agg(sum(col("na_bin")).as("n_bins_a"), sum(col("nb_bin")).as("n_bins_b"),
        expr("sum(abs(pa - pb)) div 2").as("tvd_ppm"))
  }

  /** Token-budget allocation across sources (the corpus-mixing planning
    * step): given per-source token counts T_s and a global budget B,
    * allocate B proportionally to temperature-flattened weights
    * w_s = floor(√T_s) — the α = 0.5 low-resource upweighting of
    * [[graft.text.Sampling.temperatureResample]], here as a PLAN (how
    * many tokens, i.e. how many epochs, to draw from each source)
    * rather than a row filter. Integer sqrt floors keep the weight sum
    * exact (a float Σ√T would be reduction-order-dependent);
    * `alloc_s = B·w_s div W`, `epochs_ppm = alloc_s·1e6 div T_s` — an
    * epochs value over 1e6 ppm means that source repeats. One agg +
    * one broadcast of the 1-row weight total. */
  def tokenBudget(df: DataFrame, sourceCol: String, tokensCol: Column,
                  budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val perSource = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(tokensCol.cast("long")).as("tokens"))
      .withColumn("w", floor(sqrt(col("tokens"))).cast("long"))
    val totalW = perSource.agg(sum(col("w")).as("total_w"))
    perSource.crossJoin(broadcast(totalW))
      .select(col("source"), col("tokens"),
        expr(s"$budget * w div total_w").as("alloc_tokens"))
      .withColumn("epochs_ppm", expr("alloc_tokens * 1000000 div tokens"))
  }

  /** Exact truncated EWMA with α = ½ over the trailing `lookback`
    * points: ewma_i = Σ_{j<n} v_{i−j}·2^{n−1−j} / 2^n (n = points in
    * window). The smoothing half of time-series feature prep, float-free:
    * the numerator `ewma_num` and width `ewma_n` are exact longs — the
    * one division (by 2^n) belongs to the consumer. Computed as
    * X = Σ_j coalesce(lag_j, 0)·2^(L−1−j), then num = X >> (L−n):
    * `lookback` lag terms SHARE one window sort (single shuffle), no
    * array collection, fully codegen'd. |v|·2^L must fit a long —
    * with cent-scaled values and L = 16 that is ~2^47 of headroom. */
  def ewmaHalf(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column],
               valueCol: Column, lookback: Int = 16): DataFrame = {
    require(lookback >= 1 && lookback <= 32, "need 1 <= lookback <= 32")
    val w = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
    val x = (0 until lookback)
      .map(j => coalesce(lag(valueCol.cast("long"), j).over(w), lit(0L)) *
        lit(1L << (lookback - 1 - j)))
      .reduce(_ + _)
    df.withColumn("_x", x)
      .withColumn("ewma_n",
        count(valueCol).over(w.rowsBetween(-(lookback - 1).toLong, 0L)))
      .withColumn("ewma_num",
        expr(s"shiftright(_x, CAST($lookback - ewma_n AS INT))"))
      .drop("_x")
  }

  /** First-order state-transition census (Markov chain estimate) over
    * per-key ordered event sequences: count of each (from → to)
    * consecutive pair plus the per-from transition probability in exact
    * ppm. The user-journey / crawl-path summary every event lake wants.
    *
    * One window shuffle produces the pairs (lead over the key sort);
    * the census agg is map-side combinable; the per-from totals come
    * from a second window over the CENSUS (|states|² rows, tiny —
    * never the event table). `orderCols` must be a TOTAL order within
    * each key or the lead pairing is engine-dependent. */
  def transitionCensus(df: DataFrame, keyCols: Seq[Column],
                       orderCols: Seq[Column], stateCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCols: _*).orderBy(orderCols: _*)
    val census = df
      .select(stateCol.as("from_state"), lead(stateCol, 1).over(w).as("to_state"))
      .filter(col("to_state").isNotNull)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_state"))
    census
      .withColumn("_tot", sum(col("n")).over(wf))
      .withColumn("p_ppm", expr("n * 1000000 div _tot"))
      .drop("_tot")
  }

  /** Linear multi-touch attribution: each conversion's integral value is
    * split EXACTLY across the touches that precede it within the
    * lookback window — base share `v div n` per touch, with the
    * `v mod n` remainder cents going to the EARLIEST touches, so the
    * credit column sums to precisely the attributed conversion value
    * (float splits never re-add to the total; this does, by
    * construction). Conversions with no in-window touch are dropped —
    * unattributed value is the caller's report, not a silent bucket.
    *
    * Join shape: equi-join on the entity key, THEN the window filter —
    * per-key fan-out is bounded by touches-per-entity × conversions-per-
    * entity inside one lookback, the same bound the oracle pays. At
    * 100 TB pre-bucket both sides on (key, epoch-day) the way
    * [[Temporal.rangeJoinBucketed]] does so a hot entity cannot pin one
    * task; this direct form keeps the plan to one shuffle pair.
    * Output: one row per (conversion, touch) with the exact credit. */
  def linearAttribution(conversions: DataFrame, convKey: Column, convId: Column,
                        convValue: Column, convTs: Column,
                        touches: DataFrame, touchKey: Column, touchId: Column,
                        touchChannel: Column, touchTs: Column,
                        lookbackMicros: Long): DataFrame = {
    require(lookbackMicros > 0, "lookbackMicros must be positive")
    val c = conversions.select(convKey.cast("long").as("_k"),
      convId.cast("long").as("conv_id"), convValue.cast("long").as("_v"),
      convTs.cast("long").as("_cts"))
    val t = touches.select(touchKey.cast("long").as("_k"),
      touchId.cast("long").as("touch_id"), touchChannel.as("channel"),
      touchTs.cast("long").as("_tts"))
    val joined = c.join(t, Seq("_k"))
      .filter(col("_tts") < col("_cts") &&
        col("_tts") >= col("_cts") - lit(lookbackMicros))
    val w = Window.partitionBy(col("conv_id"))
    val wr = w.orderBy(col("_tts"), col("touch_id"))
    joined
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_r", row_number().over(wr))
      .select(col("conv_id"), col("touch_id"), col("channel"),
        (expr("_v div _n") +
          when(col("_r") <= col("_v") % col("_n"), 1L).otherwise(0L))
          .as("credit"))
  }

  /** Per-column table profile: row count, null count, exact distinct
    * count, native-order min/max stringified AFTER the agg (one report
    * row shape covers every column type — restrict inputs to types
    * whose string form is engine-portable: integers, strings). The
    * post-load data-quality sweep, one report row per column.
    *
    * Each column profiles in its own single-column agg (scan pruned to
    * that column; `count(DISTINCT)` stays exact) and the rows union —
    * n columns = n narrow scans, each map-side combinable. At 100 TB
    * swap the exact distinct for [[graft.text.Sketches]] HLL and keep
    * this as the exactness baseline. */
  def columnProfile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "need at least one column")
    columns.map { name =>
      val c = col(name)
      df.agg(count(lit(1)).as("n_rows"),
          sum(when(c.isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(c).as("n_distinct"),
          min(c).cast("string").as("min_str"),
          max(c).cast("string").as("max_str"))
        .select(lit(name).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_str"), col("max_str"))
    }.reduce(_ unionByName _)
  }

  /** Pairwise association rules over transactions (market-basket):
    * support, confidence and lift for every unordered item pair that
    * co-occurs in at least `minSupport` transactions. Confidence is
    * exact ppm; lift is scaled ×1e6 with the cross-multiplication done
    * in decimal(38,0) so the n_ab·N product can never wrap a long.
    *
    * Pair generation is IN-ROW from each transaction's sorted distinct
    * item array (pair space Σ basket², never |items|²) — the
    * [[graft.graph.Centrality.rectangleCensus]] wedge idiom; one agg
    * per census. Item-frequency attach joins the pair census (small)
    * against the item counts (smaller) — both sides post-aggregation,
    * so the raw transaction table is scanned exactly once. Emits both
    * orientations of each pair (a→b and b→a) since confidence is
    * asymmetric. */
  def associationRules(df: DataFrame, txnCol: Column, itemCol: Column,
                       minSupport: Long): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    val ti = df.select(txnCol.as("_t"), itemCol.as("_i")).distinct()
      .pinHot // read 3×: txn count, item counts, baskets (+0.58s SER, r15)
    val nTxn = ti.select(col("_t")).distinct().count()
    val itemCounts = ti.groupBy(col("_i")).agg(count(lit(1)).as("n_item"))
    val baskets = ti.groupBy(col("_t"))
      .agg(array_sort(collect_set(col("_i"))).as("items"))
    val pairs = baskets.select(
        explode(Centrality.orderedPairs(col("items"), "a", "b")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    val both = pairs.unionByName(pairs.select(col("b").as("a"), col("a").as("b"),
      col("n_ab")))
    both
      .join(itemCounts.select(col("_i").as("a"), col("n_item").as("n_a")), Seq("a"))
      .join(itemCounts.select(col("_i").as("b"), col("n_item").as("n_b")), Seq("b"))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("n_ab * 1000000 div n_a").as("conf_ppm"),
        expr(s"CAST(n_ab AS DECIMAL(38,0)) * ${nTxn}L * 1000000L div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b)").as("lift_x1e6"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic: D = max over
    * observed values of |F_a(x) − F_b(x)|, reported as the exact
    * fraction (d_num, d_den) with d_num = max |cumA·nB − cumB·nA| and
    * d_den = nA·nB — no float CDFs, so any engine reproduces it
    * bit-for-bit, and `d_num/d_den` is the usual statistic. The
    * distribution-drift test with provable sensitivity (TVD needs
    * binning; KS does not).
    *
    * Shape: one per-(value, side) count agg collapses the raw table,
    * then both running CDFs build over the |distinct values| census via
    * [[GlobalOrder]]'s range-partitioned two-pass prefix-sum — with
    * real timestamps the distinct-value axis is ~O(rows), so the
    * cumulative must distribute, not funnel through one sort task —
    * then one max-agg. Output one row: (n_a, n_b, d_num, d_den).
    * d_num bounds: nA·nB ≤ ~9·10¹⁸ holds to ~3·10⁹ rows per side. */
  def ksStatistic(df: DataFrame, valueCol: Column, sideCol: Column): DataFrame = {
    val counted = df
      .select(valueCol.cast("long").as("v"), sideCol.as("is_a"))
      .groupBy(col("v"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
      .pin
    val totals = counted.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    // skew-safe: `counted` is the post-groupBy value census — keys are
    // UNIQUE by construction, so no key can concentrate a bucket
    GlobalOrder.withRunningAggs(counted, col("v"), Nil,
        Seq((col("ca"), "_cuma"), (col("cb"), "_cumb")))
      .crossJoin(broadcast(totals))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(abs(col("_cuma") * col("n_b") - col("_cumb") * col("n_a")))
          .as("d_num"),
        max(col("n_a") * col("n_b")).as("d_den"))
  }

  /** Exact global quantiles of a DATA-SIZED numeric column — the exact
    * baseline the mergeable quantile-histogram sketch
    * ([[graft.text.Sketches]]) is judged against, distributed via
    * [[GlobalOrder]] so no single-task sort ever materializes the
    * column. Quantile q_ppm maps to 1-based rank
    * ceil(q·n / 10⁶) (discrete lower-element semantics, the
    * quantile_disc convention); among tied values any tie order yields
    * the same VALUE at a given rank, so the emitted quantiles are
    * deterministic without a tiebreak column. One distinct-value census,
    * one distributed running sum over it, one |qs|-row broadcast range
    * join. Output: (q_ppm, value, rank, n_rows). */
  def exactQuantiles(df: DataFrame, valueCol: Column,
                     qsPpm: Seq[Long]): DataFrame = {
    require(qsPpm.nonEmpty && qsPpm.forall(q => q >= 1 && q <= 1000000),
      "quantiles are ppm ranks in [1, 1e6]")
    require(qsPpm.distinct.size == qsPpm.size, "duplicate quantiles")
    // census-collapse-first: one count per DISTINCT value (map-side
    // combinable), so a concentrated measure — token counts with a
    // boilerplate mode, a 90%-one-value column — is ONE census row and
    // the GlobalOrder pass runs over unique keys, structurally immune
    // to the equal-width bucketing's hot-key weakness (no row-level
    // rank pass to skew). Value at quantile rank rk = the unique v
    // whose cumulative count range (cum−c, cum] contains rk.
    val census = df.select(valueCol.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("_c")).pin
    val cum = GlobalOrder.runningSum(census, col("v"), Nil, col("_c"), "_cum")
    val n = census.agg(coalesce(sum(col("_c")), lit(0L)).as("n_rows"))
    val spark = df.sparkSession
    import spark.implicits._
    val targets = qsPpm.toDF("q_ppm").crossJoin(broadcast(n))
      .select(col("q_ppm"), col("n_rows"),
        greatest(lit(1L), expr(
          "cast((cast(q_ppm as decimal(38,0)) * n_rows + 999999) div 1000000 as bigint)"))
          .as("rk"))
    // range join against a |qs|-row broadcast (maxRows-bounded local
    // relation — the plan sweep's tiny-side allowance): linear in the
    // census, never in the rows
    cum.join(broadcast(targets),
        col("rk") > col("_cum") - col("_c") && col("rk") <= col("_cum"))
      .select(col("q_ppm"), col("v").as("value"), col("rk").as("rank"),
        col("n_rows"))
  }

  /** Per-GROUP exact quantiles — [[exactQuantiles]] scoped within each
    * group (per-tenant latency percentiles, per-source length
    * distributions): per-(group, value) census + grouped [[GlobalOrder]]
    * running count, quantile q_ppm at 1-based rank ceil(q·n_g / 10⁶).
    * Groups are data-sized and a dominant group cannot serialize one
    * task (the grouped prefix-sum buckets within it). Output: (g,
    * q_ppm, value, rank, n_rows) — one row per (group, quantile). */
  def exactQuantilesByGroup(df: DataFrame, groupCol: Column, valueCol: Column,
                            qsPpm: Seq[Long]): DataFrame = {
    require(qsPpm.nonEmpty && qsPpm.forall(q => q >= 1 && q <= 1000000),
      "quantiles are ppm ranks in [1, 1e6]")
    require(qsPpm.distinct.size == qsPpm.size, "duplicate quantiles")
    // census-collapse-first, like [[exactQuantiles]]: one count per
    // distinct (group, value), so a concentrated value within any group
    // is one census row and the grouped GlobalOrder pass runs over
    // per-group-unique keys — skew-immune by construction
    val census = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("_c")).pin
    val cum = GlobalOrder.withRunningAggs(census, col("v"), Nil,
      sums = Seq((col("_c"), "_cum")), groupCols = Seq(col("g")))
    val counts = census.groupBy(col("g")).agg(sum(col("_c")).as("n_rows"))
    val spark = df.sparkSession
    import spark.implicits._
    val targets = counts.crossJoin(broadcast(qsPpm.toDF("q_ppm")))
      .select(col("g"), col("q_ppm"), col("n_rows"),
        greatest(lit(1L), expr(
          "cast((cast(q_ppm as decimal(38,0)) * n_rows + 999999) div 1000000 as bigint)"))
          .as("rk"))
    // null-safe on g: the grouped GlobalOrder machinery treats a null
    // group as a real group (<=> joins internally), so a plain-equality
    // join here would silently drop its quantiles; renamed right side
    // because both frames descend from the census (same attribute ids).
    // The rank-range predicate rides on the g equi-join — no nested loop.
    val t = targets.withColumnRenamed("g", "_tg").withColumnRenamed("rk", "_trk")
    cum.join(t, col("g") <=> col("_tg") &&
        col("_trk") > col("_cum") - col("_c") && col("_trk") <= col("_cum"))
      .select(col("g"), col("q_ppm"), col("v").as("value"),
        col("_trk").as("rank"), col("n_rows"))
  }

  /** One-sided CUSUM over a totally-ordered series: with P_i the
    * running sum of (value − target), the classic reset recurrence
    * S_i = max(0, S_{i−1} + x_i − target) equals the closed form
    * S_i = P_i − min_{j≤i} P_j — a running sum plus a running min, both
    * distributed through [[GlobalOrder]] (no recurrence, no single
    * task). The change-point/burst detector for monitoring feeds:
    * S_i exceeding a threshold flags sustained above-target rates and
    * resets itself after each regime returns to baseline. `target` is
    * per-row (a broadcast global mean, a seasonal baseline column).
    * Appends `cum_dev` (= P_i) and `cusum` (= S_i ≥ 0).
    *
    * The GLOBAL-series companion to [[cusumAlarm]] (same closed form):
    * cusumAlarm partitions by group keys — right when there are many
    * monitored series; this one distributes a SINGLE total order
    * through [[GlobalOrder]], the case a per-group window cannot. */
  def cusum(df: DataFrame, keyCol: Column, tieCols: Seq[Column],
            value: Column, target: Column): DataFrame = {
    // skew note: the order key is the series axis; every caller feeds a
    // PRE-AGGREGATED series (hourly/bucketed counts — one row per key by
    // construction), so keys cannot concentrate. A raw-row caller with a
    // hot instant should collapse per key first (sum the deviations —
    // CUSUM only reads prefix sums, which are invariant under in-key
    // aggregation at key boundaries) rather than rely on tie splitting.
    val dev = df.withColumn("_dev", value.cast("long") - target.cast("long"))
    val p1 = GlobalOrder.withRunningAggs(dev, keyCol, tieCols,
      sums = Seq((col("_dev"), "cum_dev")))
    // inclusive running min of P — INCLUDING the empty prefix P_0 = 0
    // (S_i = P_i − min(0, min_{j≤i} P_j); dropping the 0 breaks every
    // series whose prefix sums never dip negative) — via the
    // exclusive-max machinery: greatest skips the null exclMax on the
    // order's first row
    val p2 = GlobalOrder.withRunningAggs(p1.withColumn("_negp", -col("cum_dev")),
      keyCol, tieCols, exclMaxes = Seq((col("_negp"), "_xm")))
    p2.withColumn("cusum",
        col("cum_dev") + greatest(col("_xm"), col("_negp"), lit(0L)))
      .drop("_negp", "_xm", "_dev")
  }

  /** Cohen's kappa — chance-corrected agreement between two label
    * columns (annotator agreement, heuristic-vs-gold label audits):
    * κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement rate and
    * p_e = Σ_l marginalA(l)·marginalB(l)/n² the chance rate. Exact ppm
    * integers off one (a, b) census — decimal(38,0) products so
    * 10¹²-row marginals cannot wrap; truncation toward zero (div
    * contract) for the possibly-negative κ. Output one row:
    * (n, po_ppm, pe_ppm, kappa_x1e6); NULL κ when p_e = 1 (both raters
    * constant — agreement is undefined, not perfect). */
  def cohensKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val census = df.select(raterA.as("_a"), raterB.as("_b"))
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_c"))
      .pin
    val totals = census.agg(
      sum(col("_c")).as("n"),
      sum(when(col("_a") === col("_b"), col("_c")).otherwise(0L)).as("_agree"))
    val margA = census.groupBy(col("_a").as("_l")).agg(sum(col("_c")).as("_na"))
    val margB = census.groupBy(col("_b").as("_l")).agg(sum(col("_c")).as("_nb"))
    val chance = margA.join(margB, Seq("_l"))
      .agg(sum(col("_na").cast("decimal(38,0)") * col("_nb")).as("_sab"))
    totals.crossJoin(broadcast(chance))
      .select(col("n"),
        expr("(_agree * 1000000) div n").as("po_ppm"),
        expr("""cast((coalesce(_sab, 0) * 1000000)
               div (cast(n as decimal(38,0)) * n) as bigint)""").as("pe_ppm"))
      .withColumn("kappa_x1e6",
        when(col("pe_ppm") >= 1000000L, lit(null).cast("long"))
          .otherwise(expr(
            """CASE WHEN po_ppm >= pe_ppm
               THEN ((po_ppm - pe_ppm) * 1000000) div (1000000 - pe_ppm)
               ELSE -(((pe_ppm - po_ppm) * 1000000) div (1000000 - pe_ppm))
               END""")))
  }

  /** Per-group trimmed mean: drop floor(n·trimPpm/10⁶) rows from EACH
    * end of the per-group value order, then the exact integer mean of
    * the survivors — the robust location estimate between the mean
    * (trim 0) and the median (trim → 50%), immune to the tail garbage
    * that drags plain means (sentinel values, unit errors). Rank ties
    * order arbitrarily but the kept VALUE multiset is tie-invariant,
    * so results are deterministic. Groups with nothing left after the
    * trim emit NULL (undefined, not 0). Per-group windows only — the
    * group axis distributes; no global sort. Output: (g, n_rows,
    * n_kept, sum_kept, trimmed_mean). */
  def trimmedMean(df: DataFrame, groupCol: Column, valueCol: Column,
                  trimPpm: Long): DataFrame = {
    require(trimPpm >= 0 && trimPpm < 500000,
      "trimPpm in [0, 5e5) - trimming half from each end leaves nothing")
    val base = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
    val w = Window.partitionBy(col("g")).orderBy(col("v").asc)
    val kept = base
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .withColumn("_t", expr(s"(_n * $trimPpm) div 1000000"))
      .filter(col("_rn") > col("_t") && col("_rn") <= col("_n") - col("_t"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_kept"), sum(col("v")).as("sum_kept"))
    base.groupBy(col("g")).agg(count(lit(1)).as("n_rows"))
      .join(kept, Seq("g"), "left")
      .select(col("g"), col("n_rows"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("sum_kept"), lit(0L)).as("sum_kept"),
        when(coalesce(col("n_kept"), lit(0L)) === 0,
          lit(null).cast("long"))
          .otherwise(expr("sum_kept div n_kept")).as("trimmed_mean"))
  }

  /** Top-k census movement between two epochs: each side's k most
    * frequent categories under the (count desc, category asc) total
    * order, full-outer joined into a movement table — entered /
    * dropped / up / down / steady — the leaderboard-drift monitor for
    * vocabulary shift, traffic mix change, hot-key churn. Ranks and
    * counts of a side a category is absent from stay NULL (honest,
    * not 0). Each side is one agg + a TakeOrderedAndProject to k rows;
    * the rank windows are k-row bounded
    * ([[GlobalOrder.boundedWindow]]). Output: (cat, n_old, rank_old,
    * n_new, rank_new, status). */
  def topKDrift(older: DataFrame, newer: DataFrame, catCol: Column,
                k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    def top(df: DataFrame, nName: String, rName: String) = df
      .select(catCol.cast("string").as("cat"))
      .groupBy(col("cat")).agg(count(lit(1)).as(nName))
      .orderBy(col(nName).desc, col("cat").asc).limit(k)
      .withColumn(rName, row_number().over(
        GlobalOrder.boundedWindow(col("cat"),
          col(nName).desc, col("cat").asc)).cast("long"))
    top(older, "n_old", "rank_old")
      .join(top(newer, "n_new", "rank_new"), Seq("cat"), "full_outer")
      .select(col("cat"), col("n_old"), col("rank_old"),
        col("n_new"), col("rank_new"),
        when(col("rank_old").isNull, lit("entered"))
          .when(col("rank_new").isNull, lit("dropped"))
          .when(col("rank_new") < col("rank_old"), lit("up"))
          .when(col("rank_new") > col("rank_old"), lit("down"))
          .otherwise(lit("steady")).as("status"))
  }

  /** Inter-arrival burstiness per series: the squared coefficient of
    * variation of the gaps as exact ppm — CV² = var/mean² =
    * n·(n·Σg² − (Σg)²) / ((n−1)·(Σg)²), fully rational so no sqrt ever
    * enters (the Goh–Barabási B statistic needs σ; CV² carries the
    * same signal with exact integer arithmetic). CV² ≈ 1 is the
    * Poisson baseline, ≫ 1 bursty (bot bursts, retry storms), ≪ 1
    * metronomic (cron traffic) — the traffic-shape fingerprint per
    * user/device/source. Series with < 2 gaps or all-zero gaps emit
    * NULL (undefined, not 0). One lag window per key + one agg;
    * decimal(38,0) so microsecond gaps squared cannot wrap. Output:
    * (keys..., n_gaps, sum_gap, cv2_ppm). */
  def burstiness(df: DataFrame, keys: Seq[String], tsMicros: Column,
                 orderTie: Seq[Column] = Nil): DataFrame = {
    require(keys.nonEmpty, "burstiness needs at least one key column")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((tsMicros.asc +: orderTie): _*)
    df.withColumn("_t", tsMicros.cast("long"))
      .withColumn("_g", col("_t") - lag(col("_t"), 1).over(w))
      .filter(col("_g").isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("_g")).as("sum_gap"),
        sum(col("_g").cast("decimal(38,0)") * col("_g")).as("_q"))
      .withColumn("cv2_ppm",
        when(col("n_gaps") < 2 || col("sum_gap") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            """cast((1000000 * n_gaps *
               (n_gaps * _q - cast(sum_gap as decimal(38,0)) * sum_gap)) div
               ((n_gaps - 1) * cast(sum_gap as decimal(38,0)) * sum_gap)
               as bigint)""")))
      .drop("_q")
  }

  /** Exact two-sample Mann–Whitney U (Wilcoxon rank-sum), DOUBLED so
    * midrank ties stay integral: u2 = Σ_v n_a(v)·(2·cum_b(<v) + n_b(v))
    * = 2·U_A — the rank-based distribution-shift test that complements
    * [[ksStatistic]] (KS reads the max CDF gap; U reads stochastic
    * dominance: u2/u2_max is P(a > b) + ½P(a = b), the common-language
    * effect size, with u2_max = 2·n_a·n_b). Same shape as the KS pass:
    * one per-(value, side) count agg collapses the raw table, then ONE
    * distributed running sum over the distinct-value census
    * ([[GlobalOrder]] — the value axis is ~O(rows) for real
    * measurements). decimal(38,0) products so ~3·10⁹ rows per side
    * cannot wrap the bigint result. Output one row:
    * (n_a, n_b, u2, u2_max). */
  def mannWhitneyU2(df: DataFrame, valueCol: Column,
                    sideCol: Column): DataFrame = {
    val counted = df
      .select(valueCol.cast("long").as("v"), sideCol.as("is_a"))
      .groupBy(col("v"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
      .pin
    // skew-safe: `counted` is the post-groupBy value census — unique keys
    GlobalOrder.runningSum(counted, col("v"), Nil, col("cb"), "_cumb")
      .withColumn("_below", col("_cumb") - col("cb"))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(col("ca").cast("decimal(38,0)") *
          (lit(2) * col("_below") + col("cb"))).as("_u2"))
      .select(col("n_a"), col("n_b"),
        coalesce(col("_u2"), lit(0)).cast("bigint").as("u2"),
        expr("cast(2 * cast(n_a as decimal(38,0)) * n_b as bigint)")
          .as("u2_max"))
  }

  /** Per-key time-weighted average as the exact fraction (twa_num,
    * twa_den): each observation's value holds until the NEXT observation
    * of the same key, so num = Σ vᵢ·(tᵢ₊₁ − tᵢ) and den = Σ gaps — the
    * right mean for sampled-state series (balances, gauge metrics,
    * connection counts) where the plain row mean over-weights busy
    * periods. The final observation of a key holds until nothing and
    * contributes no weight; keys with one observation emit (0, 0).
    *
    * One window shuffle (the lead); the agg is map-side combinable.
    * Exact for |v|·gap_µs within long range (cents × 30 days ≈ 2⁶¹/v —
    * document per use). No division: the consumer divides, the engine
    * stays integer-exact. */
  def timeWeightedAverage(df: DataFrame, keyCols: Seq[Column],
                          tsMicros: Column, valueCol: Column,
                          orderTie: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keyCols: _*)
      .orderBy((tsMicros +: orderTie): _*)
    df.withColumn("_t", tsMicros)
      .withColumn("_v", valueCol.cast("long"))
      .withColumn("_gap", lead(col("_t"), 1).over(w) - col("_t"))
      .groupBy(keyCols: _*)
      .agg(sum(when(col("_gap").isNotNull, col("_v") * col("_gap"))
          .otherwise(0L)).as("twa_num"),
        sum(coalesce(col("_gap"), lit(0L))).as("twa_den"))
  }

  /** One-sided CUSUM change-point alarm per key, exact integers: the
    * classic recursion S_i = max(0, S_{i-1} + (v_i − μ)) is not a
    * window function, but its closed form IS — S_i = P_i − min(0,
    * min_{j≤i} P_j) with P the running sum of deviations — so the whole
    * detector is one window pass (running sum + running min), no
    * sequential scan, no UDAF. μ is the key's floor-mean (one agg,
    * joined back co-partitioned); rows where S crosses `threshold`
    * flag `is_alarm` — the upward-drift alarm for rates/latencies.
    * (Page 1954; the prefix-min identity is the standard max-subarray
    * duality.) */
  def cusumAlarm(df: DataFrame, keys: Seq[String], orderCols: Seq[Column],
                 valueCol: Column, threshold: Long): DataFrame = {
    require(threshold > 0, "threshold must be positive")
    val keyCols = keys.map(col)
    val base = df.withColumn("_v", valueCol.cast("long"))
    val mean = base.groupBy(keyCols: _*)
      .agg(expr("sum(_v) div count(_v)").as("_mu"))
    val w = Window.partitionBy(keyCols: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(mean, keys)
      .withColumn("_p", sum(col("_v") - col("_mu")).over(w))
      .withColumn("cusum", col("_p") - least(lit(0L), min(col("_p")).over(w)))
      .withColumn("is_alarm", col("cusum") > threshold)
      .drop("_p")
  }

  /** Parallel largest-triangle downsampling (the LTTB shape, Steinarsson
    * 2013, with the sequential prev-SELECTED anchor replaced by the
    * previous bucket's centroid so every bucket decides independently —
    * the fully-parallel variant): per series, points fall into
    * `nBuckets` equal-time buckets and each bucket keeps the point
    * maximizing the doubled triangle area against the neighboring
    * buckets' floor-centroids — the dashboard/chart decimation that
    * preserves spikes where uniform sampling flattens them. First and
    * last buckets keep their earliest / latest point (the endpoint
    * rule). All arithmetic exact: areas in decimal(38,0) (µs × cents
    * cross products pass a long), centroids floor-div, ties to the
    * earliest point.
    *
    * Two aggs (span, centroids) + one argmax over a window-free
    * max(struct) — no per-series recursion, unlike true LTTB. */
  def downsampleLttb(df: DataFrame, keys: Seq[String], tsCol: Column,
                     valueCol: Column, nBuckets: Int): DataFrame = {
    require(nBuckets >= 3, "need nBuckets >= 3")
    val keyCols = keys.map(col)
    val pts = df.select(keyCols :+ tsCol.cast("long").as("t")
      :+ valueCol.cast("long").as("v"): _*)
      .pin
    val span = pts.groupBy(keyCols: _*)
      .agg(min(col("t")).as("_mn"), max(col("t")).as("_mx"))
    val bucketed = pts.join(span, keys)
      .withColumn("bucket",
        expr(s"(t - _mn) * $nBuckets div (_mx - _mn + 1)"))
      .pin
    val cent = bucketed.groupBy(keyCols :+ col("bucket"): _*)
      .agg(expr("sum(t) div count(t)").as("cx"),
        expr("sum(v) div count(v)").as("cy"))
    val withNbrs = bucketed
      .join(cent.select(keyCols :+ (col("bucket") + 1).as("bucket")
        :+ col("cx").as("pcx") :+ col("cy").as("pcy"): _*),
        keys :+ "bucket", "left")
      .join(cent.select(keyCols :+ (col("bucket") - 1).as("bucket")
        :+ col("cx").as("ncx") :+ col("cy").as("ncy"): _*),
        keys :+ "bucket", "left")
    val dec = "decimal(38,0)"
    val area2 = abs(
      (col("pcx") - col("t")).cast(dec) * (col("ncy") - col("v")).cast(dec) -
        (col("ncx") - col("t")).cast(dec) * (col("pcy") - col("v")).cast(dec))
    // selection key: endpoint buckets rank by time alone; interior by
    // (area, earliest). The mode is uniform within a bucket, so the
    // lexicographic max stays within one mode.
    val x = when(col("pcx").isNull, (-col("t")).cast(dec))
      .when(col("ncx").isNull, col("t").cast(dec))
      .otherwise(area2)
    val y = when(col("pcx").isNull || col("ncx").isNull, lit(0L))
      .otherwise(-col("t"))
    withNbrs
      .groupBy(keyCols :+ col("bucket"): _*)
      .agg(max(struct(x.as("x"), y.as("y"), col("t"), col("v"))).as("sel"))
      .select(keyCols :+ col("bucket") :+ col("sel.t").as("t")
        :+ col("sel.v").as("v"): _*)
  }

  /** 2-D Pareto frontier (skyline), both axes maximized: rows no other
    * row weakly dominates — the data-selection tradeoff curve ("longest
    * doc at each quality level", "best quality at each length"). Rows
    * tied on BOTH axes are mutually non-dominating and all kept.
    *
    * Scale shape: the classic sort-sweep needs a global order, but the
    * sweep never has to see raw rows — `max(y) per x` first (one
    * map-side-combinable agg collapsing n rows to |distinct x|; a row
    * sharing its x with a higher y is dominated by definition), THEN the
    * running-max sweep over that collapsed curve via [[GlobalOrder]]'s
    * distributed exclusive max (descending x = ascending −x), and a
    * semi-join back recovers the surviving rows. No single-partition
    * window even when |distinct x| is data-sized. Integer axes only
    * (exactness + RANGE-free frames; −x wraps only at the Long.MinValue
    * edge of the axis domain). */
  def paretoFrontier2d(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val pts = df.withColumn("_x", xCol.cast("long")).withColumn("_y", yCol.cast("long"))
    val perX = pts.groupBy(col("_x")).agg(max(col("_y")).as("_y"))
    // descending-x sweep: a point survives iff its y strictly exceeds
    // every y at strictly larger x. Skew-safe: `perX` is the max-per-x
    // collapse — one row per distinct x, keys unique by construction
    val frontier = GlobalOrder.withRunningAggs(perX, -col("_x"), Nil,
        exclMaxes = Seq((col("_y"), "_my")))
      .filter(col("_my").isNull || col("_y") > col("_my"))
      .select(col("_x"), col("_y"))
    pts.join(frontier, Seq("_x", "_y"), "left_semi")
      .withColumnRenamed("_x", "frontier_x").withColumnRenamed("_y", "frontier_y")
  }

  /** Chi-squared contingency table: per-cell observed counts and the
    * exact-integer chi² contribution in ppm — the independence test
    * behind "is event mix drifting across segments" (the categorical
    * sibling of [[tvdDrift]]).
    *
    * Exactness without floats: with O the cell count, R/C the marginal
    * totals and N the grand total, the per-cell contribution
    * (O − RC/N)²/(RC/N) multiplies through to (O·N − R·C)² / (R·C·N).
    * The squared numerator exceeds long range past ~10^5 rows, so the
    * ratio is computed in decimal(38,0) with division emulated as
    * (num − num % den) / den — subtracting the exact decimal remainder
    * first makes the decimal division exact (no scale rounding to trust)
    * and the quotient collapses back to a BIGINT. Past ~10^16 rows even
    * decimal(38,0) saturates — at that point Spark's ANSI decimal
    * overflow throws rather than wrapping.
    *
    * Plan: one (r,c) count shuffle; marginals are derived aggregations
    * of it; the grand total rides as a 1-row broadcast. The chi²
    * statistic itself is `sum(contrib_ppm)` over this output. */
  def chiSquareCells(df: DataFrame, rCol: Column, cCol: Column): DataFrame = {
    val obs = df.select(rCol.as("rk"), cCol.as("ck"))
      .groupBy(col("rk"), col("ck")).agg(count(lit(1)).as("observed"))
    val rt = obs.groupBy(col("rk")).agg(sum(col("observed")).as("rtot"))
    val ct = obs.groupBy(col("ck")).agg(sum(col("observed")).as("ctot"))
    val n = obs.agg(sum(col("observed")).as("n"))
    obs.join(rt, Seq("rk")).join(ct, Seq("ck")).crossJoin(broadcast(n))
      .withColumn("num", expr(
        "cast((observed * n - rtot * ctot) as decimal(38,0)) " +
          "* (observed * n - rtot * ctot) * 1000000"))
      .withColumn("den", expr("cast(rtot as decimal(38,0)) * ctot * n"))
      .select(col("rk"), col("ck"), col("observed"),
        expr("cast((num - num % den) / den as bigint)").as("contrib_ppm"))
  }

  /** Per-group Gini coefficient in exact ppm — the inequality /
    * concentration measure for "how dominated is this source/domain by
    * its heaviest members" (corpus-mixing diagnostics; the scalar twin
    * of [[paretoFrontier2d]]'s curve).
    *
    * Closed form over the sorted values: with x_(1..n) ascending and
    * S = Σx, G = (2·Σ i·x_(i) − (n+1)·S) / (n·S). One window rank per
    * group (ties broken by `tieCol` so the rank — and therefore the
    * ppm — is deterministic; Σ i·x_i is invariant under tie order
    * anyway) + one aggregate. Values must be non-negative — enforced
    * in-plan with raise_error, since a negative value silently breaks
    * the [0,1] range. Numerator ×1e6 runs in decimal(38,0) with the
    * same exact remainder-subtract division as [[chiSquareCells]].
    * Output: (group, n, total, gini_ppm); groups with total = 0 emit 0. */
  def giniByGroup(df: DataFrame, groupCol: Column, valueCol: Column,
                  tieCol: Column): DataFrame = {
    val v = df.select(groupCol.as("g"),
      when(valueCol.cast("long") < 0, expr(
        "raise_error('giniByGroup: negative value - shift or clamp upstream')"))
        .otherwise(valueCol.cast("long")).as("v"),
      tieCol.as("tie"))
    val w = Window.partitionBy(col("g")).orderBy(col("v").asc, col("tie").asc)
    v.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"),
        sum(col("i") * col("v")).as("s1"))
      .withColumn("num", expr(
        "cast(2 * s1 - (n + 1) * total as decimal(38,0)) * 1000000"))
      .withColumn("den", expr("cast(n as decimal(38,0)) * total"))
      .select(col("g"), col("n"), col("total"),
        when(col("total") === 0, lit(0L))
          .otherwise(expr("cast((num - num % den) / den as bigint)"))
          .as("gini_ppm"))
  }

  /** Seasonal decomposition by period index: per (group, season) the
    * floor-mean seasonal component and the mean absolute residual around
    * it — "what does a normal Tuesday-9am look like, and how noisy is
    * it", the baseline table an anomaly alert compares against (the
    * seasonal sibling of [[rollingAnomaly]]).
    *
    * Two passes, both map-side combinable: one agg builds the seasonal
    * index, one join-back + agg measures the residuals against it.
    * Everything integer: seasonal = Σv div n, residual = v − seasonal.
    * Output: (group, season, n, seasonal, mean_abs_resid). */
  def seasonalDecompose(df: DataFrame, groupCol: Column, seasonCol: Column,
                        valueCol: Column): DataFrame = {
    val base = df.select(groupCol.as("g"), seasonCol.cast("long").as("season"),
      valueCol.cast("long").as("v"))
    val idx = base.groupBy(col("g"), col("season"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .withColumn("seasonal", expr("s div n"))
    base.join(idx, Seq("g", "season"))
      .groupBy(col("g"), col("season"))
      .agg(max(col("n")).as("n"), max(col("seasonal")).as("seasonal"),
        sum(abs(col("v") - col("seasonal"))).as("ar"))
      .select(col("g"), col("season"), col("n"), col("seasonal"),
        expr("ar div n").as("mean_abs_resid"))
  }

  /** Robust per-group outlier census via the median absolute deviation:
    * med = lower median, MAD = lower median of |v − med|, outlier =
    * |v − med| > 3·MAD — the estimator a heavy-tailed metric needs where
    * mean/stddev z-scores chase their own outliers (Hampel 1974).
    *
    * Lower-median semantics are spelled out (value at row (n+1) div 2
    * under (v, then v again) order) so any engine reproduces the exact
    * integer; two window ranks + three aggs, one shuffle per pass.
    * Output: (group, n, median, mad, n_outliers). */
  def madOutliers(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val base = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
    def lowerMedian(in: DataFrame, vCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("g")).orderBy(col(vCol).asc)
      in.withColumn("_rn", row_number().over(w).cast("long"))
        .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("g"))))
        .filter(col("_rn") === expr("(_n + 1) div 2"))
        .select(col("g"), col(vCol).as(out))
    }
    val med = lowerMedian(base, "v", "median")
    val dev = base.join(med, Seq("g"))
      .withColumn("d", abs(col("v") - col("median")))
    val mad = lowerMedian(dev.select(col("g"), col("d")), "d", "mad")
    dev.join(mad, Seq("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), max(col("median")).as("median"),
        max(col("mad")).as("mad"),
        sum(when(col("d") > lit(3L) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** OHLC bars: per (group, bucket) the first/highest/lowest/last value
    * under the (time, tie) total order — the universal downsampled view
    * of any metric stream (price bars, latency bars, balance bars).
    *
    * One aggregation, no window: open/close are min/max over
    * (time, tie, value) STRUCTS (lexicographic min = earliest row,
    * deterministic because the tie column completes the order), high/low
    * plain min/max. Map-side combinable — the 100 TB stream reduces in
    * one pass. Output: (group, bucket, n, open, high, low, close). */
  def ohlcBars(df: DataFrame, groupCol: Column, bucketCol: Column,
               timeCol: Column, tieCol: Column, valueCol: Column): DataFrame =
    df.select(groupCol.as("g"), bucketCol.cast("long").as("bucket"),
        timeCol.as("t"), tieCol.as("tie"), valueCol.cast("long").as("v"))
      .groupBy(col("g"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("t"), col("tie"), col("v"))).as("_o"),
        max(col("v")).as("high"), min(col("v")).as("low"),
        max(struct(col("t"), col("tie"), col("v"))).as("_c"))
      .select(col("g"), col("bucket"), col("n"), col("_o.v").as("open"),
        col("high"), col("low"), col("_c.v").as("close"))

  /** Per-group percent-rank normalization in exact ppm:
    * (rank − 1)·10^6 div (n − 1) under the (value, tie) total order —
    * the rank-based feature scaling that survives any monotone
    * transformation and any outlier (the robust sibling of z-scores;
    * singleton groups emit 0). One window per group. At 100 TB prefer
    * binning via the mergeable histogram sketch; this is the exact
    * form for group sizes that sort within an executor. */
  def rankNormalize(df: DataFrame, groupCol: Column, valueCol: Column,
                    tieCol: Column): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("v").asc, col("tie").asc)
    df.select(groupCol.as("g"), valueCol.cast("long").as("v"), tieCol.as("tie"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .select(col("g"), col("tie"), col("v"), col("rank"),
        when(col("n") === 1, lit(0L))
          .otherwise(expr("((rank - 1) * 1000000) div (n - 1)"))
          .as("pct_ppm"))
  }

  /** Pairwise Pearson correlation components over small-scaled integral
    * measures, sqrt-free: per measure pair the exact integer moments
    * plus signed corr² in ppm — `corr2 = (n·Σxy − ΣxΣy)² · 10^6 div
    * ((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))`, sign carried separately (the
    * [[graft.graph.Centrality]] assortativity identity generalized to a
    * measure matrix). decimal(38,0) with the remainder-subtract division;
    * the documented bound is |n·Σxy| < ~10^16 — rescale heavy measures
    * (cents → dollars) before calling, which changes corr not at all
    * (Pearson is scale-invariant; integer truncation of the rescale is
    * the only care point and belongs to the caller).
    *
    * One aggregation over the cross-multiplied moment columns — a single
    * scan of the fact table no matter how many measures. Output per
    * (i < j) pair: (m_a, m_b, n, corr2_ppm, corr_sign). */
  def corrMatrix(df: DataFrame, measures: Seq[(String, Column)]): DataFrame = {
    val base = df.select(measures.map { case (n, c) => c.cast("long").as(n) }: _*)
    val aggs = Seq(count(lit(1)).as("n")) ++
      measures.map { case (n, _) => sum(col(n)).as(s"s_$n") } ++
      (for ((a, i) <- measures.zipWithIndex; (b, j) <- measures.zipWithIndex
            if i <= j)
        yield sum(col(a._1) * col(b._1)).as(s"p_${a._1}_${b._1}"))
    val mom = base.agg(aggs.head, aggs.tail: _*)
    val pairs = for ((a, i) <- measures.zipWithIndex;
                     (b, j) <- measures.zipWithIndex if i < j) yield (a._1, b._1)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("m_a"), lit(b).as("m_b"), col("n").as("n"),
        expr(s"cast(n as decimal(38,0)) * p_${a}_${b} - cast(s_$a as decimal(38,0)) * s_$b").as("num"),
        expr(s"cast(n as decimal(38,0)) * p_${a}_${a} - cast(s_$a as decimal(38,0)) * s_$a").as("d1"),
        expr(s"cast(n as decimal(38,0)) * p_${b}_${b} - cast(s_$b as decimal(38,0)) * s_$b").as("d2"))
    }
    mom.select(explode(array(rows: _*)).as("r"))
      .select(col("r.m_a").as("m_a"), col("r.m_b").as("m_b"), col("r.n").as("n"),
        col("r.num").as("num"), (col("r.d1") * col("r.d2")).as("den"))
      .select(col("m_a"), col("m_b"), col("n"),
        when(col("den") === 0, lit(0L)).otherwise(
          expr("cast((num * num * 1000000 - (num * num * 1000000) % den) / den as bigint)"))
          .as("corr2_ppm"),
        signum(col("num")).cast("long").as("corr_sign"))
  }

  /** Two-by-two difference-in-differences: cell means (scaled ×10^4,
    * floor-truncated — documented, identical in any engine) for
    * (treated?, post?) and the DiD estimate
    * `(m11 − m10) − (m01 − m00)` — the before/after×treatment/control
    * read-out of a rollout or holdout experiment. One aggregation.
    * Output one row: (n00..n11, m00_x1e4..m11_x1e4, did_x1e4). Empty
    * cells make the estimate undefined → those means emit 0 and the
    * caller must check the counts (loud zeros beat silent NULL maths). */
  def diffInDiff(df: DataFrame, treatedCol: Column, postCol: Column,
                 valueCol: Column): DataFrame = {
    val base = df.select(treatedCol.cast("int").as("tr"),
      postCol.cast("int").as("po"), valueCol.cast("long").as("v"))
    val cells = Seq((0, 0, "00"), (0, 1, "01"), (1, 0, "10"), (1, 1, "11"))
    val aggs = cells.flatMap { case (t, p, c) => Seq(
      sum(when(col("tr") === t && col("po") === p, 1L).otherwise(0L)).as(s"n$c"),
      sum(when(col("tr") === t && col("po") === p, col("v")).otherwise(0L)).as(s"s$c"))
    }
    val means = cells.map { case (_, _, c) =>
      when(col(s"n$c") === 0, lit(0L))
        .otherwise(expr(s"(s$c * 10000) div n$c")).as(s"m${c}_x1e4")
    }
    base.agg(aggs.head, aggs.tail: _*)
      .select(cells.map { case (_, _, c) => col(s"n$c") } ++ means: _*)
      .withColumn("did_x1e4",
        (col("m11_x1e4") - col("m10_x1e4")) - (col("m01_x1e4") - col("m00_x1e4")))
  }

  /** RFM segmentation: each customer coded by the quintile of their
    * Recency (latest activity), Frequency (distinct activity count) and
    * Monetary value, then the 125-cell census — the classic
    * behavior-segmentation cross-tab, all exact (quintile =
    * ((rank−1)·5) div n + 1 under the spelled-out total order
    * (metric ASC, customer id ASC under its cast-to-long numeric order —
    * ids must be NUMERIC for order-stable output; a digit-string id
    * would rank "10" before "9", diverging from its lexicographic
    * order). One customer-level aggregation + three [[GlobalOrder]]
    * distributed ranks over |customers| rows — the customer axis is
    * data-sized, so no single-partition rank window anywhere; n arrives
    * as a broadcast scalar, not a global window.
    * Output: (r_q, f_q, m_q, n_customers). */
  def rfmSegments(df: DataFrame, custCol: Column, timeCol: Column,
                  valueCol: Column): DataFrame = {
    val per0 = df.select(custCol.as("c"), timeCol.cast("long").as("t"),
        valueCol.cast("long").as("v"))
      .groupBy(col("c"))
      .agg(max(col("t")).as("r"), count(lit(1)).as("f"), sum(col("v")).as("m"))
      .pin
    // adaptive rank: the metric axes CAN concentrate (most one-order
    // customers share f = 1), so each rank probes the key census and
    // prebins equal-count buckets when one value crosses the skew
    // threshold — the customer id is the split tie. Each rank runs
    // INDEPENDENTLY over the pinned per-customer frame and joins back on
    // the customer id: chaining the three passes (the round-11 shape)
    // put pass 1's whole two-pass machinery inside every plan branch of
    // passes 2 and 3 (census, stats, local, totals — compounding
    // re-execution, only per0 and the censuses being materialized);
    // independent passes each read the pinned per0, so nothing re-runs.
    val ranked = Seq("r", "f", "m").map { metric =>
      GlobalOrder.withRunningAggsAuto(
          per0.select(col("c"), col(metric)), col(metric), col("c"),
          moreTies = Seq(col("c").asc), rankName = Some(s"rank_$metric"))
        .select(col("c"), col(s"rank_$metric"))
    }
    // NULL-SAFE recombination: the three frames carry the identical key
    // set (all derive from pinned per0), but a plain Seq("c") equi-join
    // silently drops a null customer-id group — which groupBy retains
    // and the broadcast n counts — shifting every quintile boundary by
    // one phantom row (r12 ADVICE). `<=>` keeps it; Spark plans it as a
    // normal equi-join on coalesced keys, no shape change.
    val per = ranked.zipWithIndex.map { case (df, i) =>
        df.withColumnRenamed("c", s"c$i")
      }.reduce { (a, b) =>
        val kb = b.columns.filter(_.matches("c\\d")).head
        a.join(b, col("c0") <=> col(kb)).drop(kb)
      }
      .crossJoin(broadcast(per0.agg(count(lit(1)).as("n"))))
    def quintile(metric: String): Column =
      expr(s"((rank_$metric - 1) * 5) div n + 1")
    per
      .withColumn("r_q", quintile("r"))
      .withColumn("f_q", quintile("f"))
      .withColumn("m_q", quintile("m"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"))
  }

  /** Ranking quality without logarithms: harmonic-discounted cumulative
    * gain — `hdcg = Σ rel_i · (10^6 div rank_i)`, normalized by the
    * ideal ordering (relevance desc, id asc) of the SAME result set —
    * the NDCG shape with the 1/rank discount replacing 1/log2(rank+1)
    * so every number is an exact integer any engine reproduces (the
    * monotone-surrogate rule of the BM25/tf-idf family: same ordering
    * semantics, no float drift). One window over the k-row result list.
    * Output one row: (n_results, hdcg, ideal_hdcg, nhdcg_ppm). */
  def rankingQualityHdcg(ranked: DataFrame, relevance: DataFrame): DataFrame = {
    val joined = ranked.select(col("rank").cast("long").as("rank"),
        col("doc_id"))
      .join(relevance.select(col("doc_id"), col("rel").cast("long").as("rel")),
        Seq("doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val ideal = joined
      .withColumn("irank", row_number().over(
        GlobalOrder.boundedWindow(col("rel"),
          col("rel").desc, col("doc_id").asc)).cast("long"))
    ideal.agg(count(lit(1)).as("n_results"),
      sum(expr("rel * (1000000 div rank)")).as("hdcg"),
      sum(expr("rel * (1000000 div irank)")).as("ideal_hdcg"))
      .select(col("n_results"), col("hdcg"), col("ideal_hdcg"),
        when(col("ideal_hdcg") === 0, lit(0L))
          .otherwise(expr("(hdcg * 1000000) div ideal_hdcg")).as("nhdcg_ppm"))
  }

  /** Pareto concentration point: how many top entities carry
    * `thresholdPpm` of the total — the "does 20% of the corpus carry
    * 80% of the tokens" read-out (the scalar twin of [[giniByGroup]];
    * same sorted-prefix machinery, answering the planning question
    * directly). One per-entity aggregation, then a running sum over the
    * ENTITY list (not raw rows) under the (value desc, entity asc)
    * total order. Output one row: (n_entities, total, k_threshold,
    * k_share_ppm) — k_threshold = smallest k whose top-k sum reaches
    * the threshold (0 when total = 0). */
  def paretoPoint(df: DataFrame, entityCol: Column, valueCol: Column,
                  thresholdPpm: Long): DataFrame = {
    require(thresholdPpm >= 0 && thresholdPpm <= 1000000,
      "thresholdPpm must be in [0, 1e6]")
    val per = df.select(entityCol.as("e"), valueCol.cast("long").as("v"))
      .groupBy(col("e")).agg(sum(col("v")).as("v"))
    // running sum + rank under (v desc, tie) via the ADAPTIVE GlobalOrder
    // (descending v = ascending −v) — the entity axis is data-sized, so
    // the sweep must distribute; the grand total is a broadcast scalar,
    // not a partition-less window. The per-entity value CAN concentrate
    // (a Zipf tail piles v = 1), so the rank probes the key census and
    // prebins when one value dominates, splitting the hot value by the
    // entity hash. The hash tie reorders rows only WITHIN a tied-v
    // block, where every prefix sum takes the same values at the same
    // rank — the aggregated outputs (n_entities, total, min k crossing
    // the threshold) are tie-order-invariant, so the result is unchanged.
    GlobalOrder.withRunningAggsAuto(per, -col("v"), xxhash64(col("e")),
        moreTies = Seq(col("e").asc),
        sums = Seq((col("v"), "cum")), rankName = Some("k"))
      .crossJoin(broadcast(per.agg(sum(col("v")).as("total"))))
      .agg(count(lit(1)).as("n_entities"), max(col("total")).as("total"),
        // ×1e6 threshold comparison in decimal(38,0): cum·1e6 and ppm·total
        // overflow bigint past ~9.2e12 grand totals (same guard as giniByGroup).
        min(when(col("cum").cast("decimal(38,0)") * 1000000 >=
            lit(thresholdPpm).cast("decimal(38,0)") * col("total"),
          col("k"))).as("_kt"))
      .withColumn("total", coalesce(col("total"), lit(0L)))
      .select(col("n_entities"), col("total"),
        coalesce(col("_kt"), lit(0L)).as("k_threshold"),
        when(col("n_entities") === 0, lit(0L))
          .otherwise(expr("(coalesce(_kt, 0) * 1000000) div n_entities"))
          .as("k_share_ppm"))
  }

  /** Benford first-digit deviation: observed leading-digit mix of a
    * positive integral measure against the Benford expectation
    * (Newcomb 1881 / Benford 1938, log10(1 + 1/d) in exact ppm
    * literals — no runtime log, no float drift), the classic
    * fabricated-data / corrupted-feed screen over financial measures.
    * One count aggregate; non-positive values are excluded (they have
    * no Benford digit). Output per digit 1..9: (digit, n, observed_ppm,
    * expected_ppm, dev_ppm). */
  def benfordDeviation(df: DataFrame, valueCol: Column): DataFrame = {
    val expected = typedLit(Seq(301030L, 176091L, 124939L, 96910L,
      79181L, 66947L, 57992L, 51153L, 45757L))
    val digits = df.select(valueCol.cast("long").as("v"))
      .filter(col("v") > 0)
      .select(expr("cast(substring(cast(v as string), 1, 1) as bigint)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("t"))
    digits.crossJoin(broadcast(total))
      .withColumn("observed_ppm", expr("(n * 1000000) div t"))
      .withColumn("expected_ppm", element_at(expected, col("digit").cast("int")))
      .select(col("digit"), col("n"), col("observed_ppm"), col("expected_ppm"),
        abs(col("observed_ppm") - col("expected_ppm")).as("dev_ppm"))
  }
}
