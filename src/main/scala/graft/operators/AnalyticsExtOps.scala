package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Lineage.CpOps

/** Extended warehouse operators (§2 #35-41): as-of join, bounded
  * range join, exact percentiles, CUBE, pivot, ntile banding, and
  * moment statistics — the remaining standard-OLAP surface.
  */
/** One third of the former monolithic AnalyticsExt object
  * (r10 file-size refactor) — members are verbatim; the
  * self-type keeps every cross-part reference resolving
  * through the assembled object.
  */
private[graft] trait AnalyticsExtOps { this: AnalyticsExt.type =>

  /** #354 Inter-arrival percentiles per event type: exact lower
    * discrete p50/p90/p99 (plus floor mean) of the µs gap between a
    * user's consecutive events OF EACH TYPE — the arrival-process
    * read behind rate-limit sizing, session-gap calibration (#16's
    * 30-min gap is an assumption; this measures the distribution it
    * should come from) and #183's throttle interval. Gaps from one
    * per-(user, type) lag window (bounded partitions); percentiles
    * are the #282 rank-defined order statistics per type — the
    * type-partitioned window precedent, never global.
    */
  def interarrival(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
    val gaps = ev
      .withColumn(
        "prev",
        lag("ts_us", 1).over(Window.partitionBy("user_id", "event_type").orderBy("ts_us", "user_id")))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("ts_us") - col("prev")).as("gap_us"))
    val w = Window.partitionBy("event_type").orderBy(col("gap_us"), col("event_type"))
    gaps
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(
        max("n").as("n_gaps"),
        expr("sum(gap_us) div max(n)").as("mean_us"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("gap_us"))).as("p50_us"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("gap_us"))).as("p90_us"),
        max(when(col("rn") === expr("(99 * n + 99) div 100"), col("gap_us"))).as("p99_us"))
  }

  /** #357 Decision-stump split gain: Gini impurity reduction of
    * thresholding order VALUE to predict completion (status F) at
    * each of 9 equal-width bin boundaries — the single-feature split
    * scoring a tree learner (or a feature-usefulness audit) runs
    * first; #303 prices a PROBABILITY cutoff, this scores a RAW
    * FEATURE cutoff, and a near-zero best gain says the feature is
    * noise before any model is fit. All-integer: bins from a 1-row
    * min/max broadcast (#319's strata machinery), prefix counts via a
    * cumulative sum over the ≤10-row bin aggregate, per-side Gini
    * 10⁶ − (pos²+neg²)·10⁶/n² through DECIMAL(38,0) with ONE
    * truncation per side, gain = parent − (n_l·g_l + n_r·g_r) div n.
    */
  def splitGain(spark: SparkSession, dir: String, nBins: Int = 10): DataFrame = {
    val ords = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"),
        (col("o_orderstatus") === "F").cast("long").as("y"))
    val bounds = ords.agg(min("v").as("lo"), max("v").as("hi"))
    val bins = ords
      .crossJoin(broadcast(bounds))
      .withColumn("bin", expr(s"((v - lo) * $nBins) div (hi - lo + 1)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_b"), sum("y").as("pos_b"))
    val tot = bins.agg(sum("n_b").as("n"), sum("pos_b").as("pos"))
    def gini(n: String, p: String): String =
      s"""CASE WHEN $n > 0 THEN
            1000000 - CAST((CAST($p AS DECIMAL(38,0)) * $p
                            + CAST($n - $p AS DECIMAL(38,0)) * ($n - $p)) * 1000000
                       div (CAST($n AS DECIMAL(38,0)) * $n) AS BIGINT)
          ELSE 0 END"""
    val wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    bins
      .withColumn("nl", sum("n_b").over(wb))
      .withColumn("pl", sum("pos_b").over(wb))
      .filter(col("bin") < nBins - 1)
      .crossJoin(broadcast(tot))
      .select(
        col("bin").as("threshold_bin"),
        col("nl").as("n_left"),
        col("pl").as("pos_left"),
        (col("n") - col("nl")).as("n_right"),
        (col("pos") - col("pl")).as("pos_right"),
        expr(gini("n", "pos")).as("gini_parent_e6"),
        expr(s"""CAST((CAST(nl AS DECIMAL(38,0)) * (${gini("nl", "pl")})
                   + CAST(n - nl AS DECIMAL(38,0)) * (${gini("(n - nl)", "(pos - pl)")}))
                  div n AS BIGINT)""").as("gini_split_e6"))
      .withColumn("gain_e6", col("gini_parent_e6") - col("gini_split_e6"))
      .withColumn(
        "is_best",
        (row_number().over(Window.orderBy(col("gain_e6").desc, col("threshold_bin"))) === 1)
          .cast("long"))
  }

  /** #358 Population Stability Index (PSI) drift monitor: per event
    * type, the industry-standard drift score of each week's VALUE
    * distribution against the first (baseline) week —
    * PSI = Σ_bins (p−q)·ln(p/q), read against the conventional
    * 0.10 (watch) / 0.25 (act) thresholds. The model-monitoring
    * counterpart of the text family's KL/JS/KS (#119/#311/#190):
    * those measure corpus drift, PSI is what an ML-ops dashboard
    * actually alarms on, thresholds included. 10 equal-width cent
    * bins from a 1-row min/max broadcast; add-half-count smoothing
    * (p = (c+½)/(n+B/2) as the integer ratio (2c+1)/(2n+B)) keeps
    * empty bins finite without dropping them; each term is a float
    * of INTEGER ratios e6-quantized before the order-free sum (#119
    * discipline). One (type, week, bin) aggregate + margins — linear,
    * no windows.
    */
  def psi(spark: SparkSession, dir: String, nBins: Int = 10): DataFrame = {
    val nsPerWeek = 7L * 86400L * 1000000000L
    val ev = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr(s"ts div ${nsPerWeek}L").as("week"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
    val bounds = ev.agg(min("c").as("lo"), max("c").as("hi"), min("week").as("w0"))
    val binned = ev
      .crossJoin(broadcast(bounds))
      .select(
        col("event_type"),
        (col("week") - col("w0")).as("week_idx"),
        expr(s"((c - lo) * $nBins) div (hi - lo + 1)").as("bin"))
    val cells = binned
      .groupBy("event_type", "week_idx", "bin")
      .agg(count(lit(1)).as("cnt"))
    val weekTot = cells.groupBy("event_type", "week_idx").agg(sum("cnt").as("n_w"))
    // complete the (type, week) × bin grid so empty bins carry their
    // smoothed mass on BOTH sides of the ratio
    val grid = weekTot
      .crossJoin(spark.range(0, nBins).select(col("id").as("bin")))
      .join(cells, Seq("event_type", "week_idx", "bin"), "left")
      .select(
        col("event_type"),
        col("week_idx"),
        col("bin"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("n_w"))
    val base = grid
      .filter(col("week_idx") === 0)
      .select(
        col("event_type"),
        col("bin"),
        col("cnt").as("cnt0"),
        col("n_w").as("n_0"))
    grid
      .filter(col("week_idx") > 0)
      .join(base, Seq("event_type", "bin"))
      .withColumn(
        "term_e6",
        floor(
          (((col("cnt") * 2 + 1).cast("double") / (col("n_w") * 2 + nBins))
            - ((col("cnt0") * 2 + 1).cast("double") / (col("n_0") * 2 + nBins)))
            * log(
              ((col("cnt") * 2 + 1).cast("double") / (col("n_w") * 2 + nBins))
                / ((col("cnt0") * 2 + 1).cast("double") / (col("n_0") * 2 + nBins)))
            * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("event_type", "week_idx")
      .agg(max("n_w").as("n_events"), sum("term_e6").as("psi_e6"))
      .select(
        col("event_type"),
        col("week_idx"),
        col("n_events"),
        col("psi_e6"),
        (col("psi_e6") > 100000L).cast("long").as("flag_watch"),
        (col("psi_e6") > 250000L).cast("long").as("flag_act"))
  }

  /** #361 Tukey-fence outlier profile: per order priority, the
    * 1.5·IQR box-plot rule — Q1/Q3 as #106 rank-defined lower
    * quartiles, fences Q1 − 3·IQR div 2 and Q3 + 3·IQR div 2 (the
    * ×1.5 exact as div 2 on cents), outlier counts and rates per
    * side. THE profiling vocabulary every BI tool draws; #88's MAD
    * flags by robust z-score, Tukey is the distribution-free box
    * rule reviewers actually read. One priority-partitioned rank
    * window + one aggregate; never global.
    */
  def tukeyFences(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables
      .orders(spark, dir)
      .select(
        col("o_orderpriority").as("g"),
        col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
    val w = Window.partitionBy("g").orderBy(col("c"), col("o_orderkey"))
    val q = vals
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("g")))
      .groupBy("g")
      .agg(
        max("nn").as("n"),
        max(when(col("rn") === expr("(nn + 3) div 4"), col("c"))).as("q1"),
        max(when(col("rn") === expr("(3 * nn + 3) div 4"), col("c"))).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo_fence", expr("q1 - (3 * iqr) div 2"))
      .withColumn("hi_fence", expr("q3 + (3 * iqr) div 2"))
    vals
      .join(broadcast(q), "g")
      .groupBy(
        col("g").as("priority"),
        col("n"),
        col("q1"),
        col("q3"),
        col("iqr"),
        col("lo_fence"),
        col("hi_fence"))
      .agg(
        sum((col("c") < col("lo_fence")).cast("long")).as("n_below"),
        sum((col("c") > col("hi_fence")).cast("long")).as("n_above"))
      .withColumn(
        "outlier_rate_e6",
        expr("CAST((n_below + n_above) * 1000000 div n AS BIGINT)"))
  }

  /** #363 Month-over-month revenue bridge (the finance waterfall):
    * each month's GMV delta decomposed EXACTLY into new-part revenue,
    * churned-part revenue, price effect, volume effect and the cross
    * term — the "why did revenue move" slide every monthly review
    * opens with (#310's indices answer "how much is price overall";
    * the bridge attributes the delta part-by-part and adds the
    * assortment flows #332 only counts). On the reconstructed grid
    * rev' = p·q with p = rev div q per (part, month) — truncating
    * unit price, both engines — the identity
    * rev'₁ − rev'₀ = new − churned + Σ(p₁−p₀)q₀ + Σ(q₁−q₀)p₀ +
    * Σ(p₁−p₀)(q₁−q₀) telescopes EXACTLY (algebra, no rounding
    * slack; spec pins it). One (part, month) aggregate + one
    * adjacent-month full-outer join on part (never a set product) +
    * a ≤#months rollup. All BIGINT cents.
    */
  def revenueBridge(spark: SparkSession, dir: String): DataFrame = {
    val pm = Tables
      .lineitem(spark, dir)
      .select(
        col("l_partkey"),
        expr("CAST(year(CAST(l_shipdate AS DATE)) * 12 + month(CAST(l_shipdate AS DATE)) - 1 AS BIGINT)")
          .as("m"),
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("r"))
      .groupBy("l_partkey", "m")
      .agg(sum("q").as("q"), sum("r").as("r"))
      .filter(col("q") >= 1)
      .select(col("l_partkey"), col("m"), col("q"), expr("r div q").as("p"))
      .localCheckpoint(eager = false)
    val cur = pm.select(col("l_partkey"), col("m"), col("q").as("q1"), col("p").as("p1"))
    val prev = pm.select(col("l_partkey"), (col("m") + 1).as("m"), col("q").as("q0"), col("p").as("p0"))
    val joined = cur.join(prev, Seq("l_partkey", "m"), "full_outer")
    // months present in BOTH the current and previous frames — the
    // first month has no bridge
    val months = pm.select(col("m")).distinct()
    val validM = months
      .join(months.select((col("m") + 1).as("m")), Seq("m"), "left_semi")
    joined
      .join(validM, Seq("m"), "left_semi")
      .groupBy("m")
      .agg(
        sum(when(col("q0").isNull, lit(1L)).otherwise(0L)).as("n_new"),
        sum(when(col("q0").isNull, col("p1") * col("q1")).otherwise(0L)).as("new_rev"),
        sum(when(col("q1").isNull, lit(1L)).otherwise(0L)).as("n_churned"),
        sum(when(col("q1").isNull, col("p0") * col("q0")).otherwise(0L)).as("churned_rev"),
        sum(when(col("q0").isNotNull && col("q1").isNotNull,
          (col("p1") - col("p0")) * col("q0")).otherwise(0L)).as("price_effect"),
        sum(when(col("q0").isNotNull && col("q1").isNotNull,
          (col("q1") - col("q0")) * col("p0")).otherwise(0L)).as("volume_effect"),
        sum(when(col("q0").isNotNull && col("q1").isNotNull,
          (col("p1") - col("p0")) * (col("q1") - col("q0"))).otherwise(0L)).as("cross_effect"),
        sum(coalesce(col("p1") * col("q1"), lit(0L))).as("rev1"),
        sum(coalesce(col("p0") * col("q0"), lit(0L))).as("rev0"))
      .select(
        col("m").as("month"),
        (col("rev1") - col("rev0")).as("total_delta_cents"),
        col("n_new"),
        col("new_rev"),
        col("n_churned"),
        col("churned_rev"),
        col("price_effect"),
        col("volume_effect"),
        col("cross_effect"))
  }

  /** #315 K-truss decomposition (convergence-adaptive edge peeling):
    * the maximal subgraph of the co-purchase graph in which every
    * EDGE sits in ≥ k−2 triangles — one cohesion rung above #200's
    * k-core (degree is gameable by stars; triangle support is not),
    * the community-backbone extraction literature recommends when
    * k-core keeps too much periphery. Each round recomputes per-edge
    * triangle support on the SURVIVING subgraph (a removed edge
    * un-closes its triangles, so support only falls — peeling is
    * monotone) and drops edges below k−2; exits early the first
    * round that removes nothing (per-round edge count doubles as the
    * convergence scalar and the checkpoint materialization, the #200
    * protocol), capped at `maxRounds` with a `converged` column.
    * Removal is IDEMPOTENT at the fixpoint, so the DuckDB oracle
    * unrolls all rounds (every CTE MATERIALIZED — each round
    * references the previous three times) and compares bit-exactly
    * to an early-exited run. Per round: two self-joins on node keys
    * + one counting agg — all hash exchanges; wedge fan-out is the
    * #176 oriented bound Σ outdeg². Output: surviving edges with
    * their within-truss support. Default k = 3 (every surviving edge
    * triangle-supported): the synthetic support-2 co-purchase graph
    * holds NO 4-truss beyond sf0.001, and the 3-truss stays
    * non-vacuous at every test SF.
    */
  def ktruss(spark: SparkSession, dir: String, k: Int = 3, maxRounds: Int = 8): DataFrame =
    Lineage.checkpointReleasing(spark) { implicit scope =>
    val baskets = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set("l_partkey")).as("parts"))
    var edges = baskets
      .select(
        explode(
          expr(
            """flatten(transform(parts, (x, i) ->
                 transform(slice(parts, i + 2, size(parts)),
                   y -> named_struct('pa', x, 'pb', y))))"""))
          .as("p"))
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .select("pa", "pb")
      .cp(eager = true)
    var nEdges = edges.count()
    var converged = false
    var round = 0
    while (round < maxRounds && !converged) {
      round += 1
      val keep = edgeSupport(edges).filter(col("support") >= k - 2).select("pa", "pb")
      edges = edges
        .join(keep, Seq("pa", "pb"), "left_semi")
        .cp(eager = true)
      val n = edges.count()
      converged = n == nEdges
      nEdges = n
    }
    (edges
      .join(edgeSupport(edges), Seq("pa", "pb"))
      .select(
        col("pa"),
        col("pb"),
        col("support"),
        lit(if (converged) 1L else 0L).as("converged")), Seq.empty)
  }

  /** #316 Croston intermittent-demand smoothing: per part, the
    * two-track exponential state Croston (1972) built for series that
    * are mostly ZERO — separate smoothings of demand SIZE z and
    * inter-demand INTERVAL p, updated only on demand days, forecast
    * rate z/p — the spare-parts/slow-mover forecaster where #250's
    * Holt (which smooths the zeros in) systematically under-biases.
    * Completes the inventory family: #256 reorder point, #300 EOQ,
    * #312 newsvendor, and now the demand-RATE model they consume.
    *
    * All-integer dyadic α = ¼ with SIGN-FACTORED truncating division
    * (#250's cross-engine discipline); state init (z₁ = first demand,
    * p₁ = 1 day, documented convention) avoids lookahead; p ≥ 1 by
    * induction (gaps ≥ 1), so the rate quotient is always defined.
    * The fold is sequential by definition but runs inside one
    * collected array scalar per part (the #234/#250 bounded-model-
    * state pattern — demand-day count is calendar-bounded); the
    * DuckDB oracle replays the identical trajectory as a per-part
    * recursive CTE. One (part, day) aggregate + one part-keyed
    * collect; no windows over unbounded data.
    */
  def croston(spark: SparkSession, dir: String): DataFrame = {
    def q4(a: String) = s"(CASE WHEN ($a) < 0 THEN -((-($a)) div 4) ELSE ($a) div 4 END)"
    val daily = Tables
      .lineitem(spark, dir)
      .select(
        col("l_partkey"),
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"))
      .groupBy("l_partkey", "day")
      .agg(sum("q").as("y"))
    // ONE linear aggregate pass accumulating the trajectory array:
    // O(days) fold steps for an O(days) recurrence, never a re-run
    // from scratch per prefix. No explicit-N repartition: AQE
    // coalescing sizes this stage from data, right at every scale.
    daily
      .groupBy("l_partkey")
      .agg(expr("sort_array(collect_list(named_struct('day', day, 'y', y)))").as("steps"))
      .select(
        col("l_partkey"),
        explode(
          expr(s"""aggregate(
                     slice(steps, 2, size(steps) - 1),
                     array(named_struct(
                       'day', element_at(steps, 1).day,
                       'q',   element_at(steps, 1).y,
                       'st',  named_struct('z', element_at(steps, 1).y, 'p', 1L,
                                           'd', element_at(steps, 1).day))),
                     (acc, s) -> array_append(acc, named_struct(
                       'day', s.day, 'q', s.y,
                       'st', named_struct(
                         'z', element_at(acc, -1).st.z
                              + ${q4("s.y - element_at(acc, -1).st.z")},
                         'p', element_at(acc, -1).st.p
                              + ${q4("(s.day - element_at(acc, -1).st.d) - element_at(acc, -1).st.p")},
                         'd', s.day))))"""))
          .as("h"))
      .select(
        col("l_partkey"),
        col("h.day").as("day"),
        col("h.q").as("demand_qty"),
        col("h.st.z").as("z_size"),
        col("h.st.p").as("p_interval"),
        expr("CAST(CAST(h.st.z AS DECIMAL(38,0)) * 1000 div h.st.p AS BIGINT)")
          .as("rate_e3"))
  }

  /** #317 Link-prediction backtest: does #283's common-neighbor
    * scorer actually PREDICT? Time-split holdout — train = orders
    * before the calendar midpoint (the #286 split), test = after;
    * score every non-edge of the TRAIN co-purchase graph with #283's
    * hub-capped common-neighbor Jaccard, take the top-K by the same
    * (jaccard, cn, pa, pb) total order, and measure precision@K
    * against pairs that NEWLY co-occur in test (≥1 shared test
    * order, not a train edge). Lift compares against the base rate
    * over ALL scored candidates — "is ranking by the score better
    * than drawing any candidate" — the scorecard-beside-the-
    * approximation pattern (#238/#245 discipline: a prediction
    * operator ships WITH its evaluation). All counts exact BIGINTs;
    * precision/lift e6 truncating quotients. Scale shape identical
    * to #283 (wedge fan-out hub-capped at Σ min(deg,cap)²) plus two
    * linear pair extractions; the summary is one row.
    */
  def linkPredBacktest(
      spark: SparkSession,
      dir: String,
      minOrders: Int = LinkPredMinOrders,
      maxCenterDeg: Int = LinkPredMaxCenterDeg,
      topK: Int = LinkPredTopK): DataFrame = {
    val ordDay = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").as("l_orderkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"))
    val mid = ordDay.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val li = Tables
      .lineitem(spark, dir)
      .select("l_orderkey", "l_partkey")
      .join(ordDay, "l_orderkey")
      .crossJoin(broadcast(mid))
    def pairsOf(df: DataFrame): DataFrame =
      df.groupBy("l_orderkey")
        .agg(array_sort(collect_set("l_partkey")).as("parts"))
        .select(
          explode(
            expr(
              """flatten(transform(parts, (x, i) ->
                   transform(slice(parts, i + 2, size(parts)),
                     y -> named_struct('pa', x, 'pb', y))))"""))
            .as("p"))
        .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("n_orders"))
    // r14: eager cuts — e/testNew/cand each feed several consumers
    // including broadcast-exchange builds (trainAgg/testAgg/candAgg
    // crossJoins), which as lazy cuts raced on the unmaterialized
    // blocks and re-ran the pair builds per consumer
    val e = pairsOf(li.filter(col("day") < col("mid")))
      .filter(col("n_orders") >= minOrders)
      .select("pa", "pb")
      .localCheckpoint(eager = true)
    val testNew = pairsOf(li.filter(col("day") >= col("mid")))
      .select("pa", "pb")
      .join(e, Seq("pa", "pb"), "left_anti")
      .localCheckpoint(eager = true)
    val deg = e
      .select(col("pa").as("node"))
      .unionAll(e.select(col("pb").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
    val adj = e
      .select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e.select(col("pb").as("u"), col("pa").as("v")))
      .join(
        deg.filter(col("deg") <= maxCenterDeg).select(col("node").as("u")),
        Seq("u"),
        "left_semi")
    val cand = adj
      .join(adj.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
      .groupBy(col("v").as("pa"), col("w").as("pb"))
      .agg(count(lit(1)).as("cn"))
      .join(e, Seq("pa", "pb"), "left_anti")
      .join(deg.select(col("node").as("pa"), col("deg").as("deg_a")), "pa")
      .join(deg.select(col("node").as("pb"), col("deg").as("deg_b")), "pb")
      .withColumn("jaccard_e6", expr("CAST(cn * 1000000 div (deg_a + deg_b - cn) AS BIGINT)"))
      .join(testNew.withColumn("is_new", lit(1L)), Seq("pa", "pb"), "left")
      .withColumn("is_new", coalesce(col("is_new"), lit(0L)))
      .localCheckpoint(eager = true)
    val top = cand
      .orderBy(col("jaccard_e6").desc, col("cn").desc, col("pa"), col("pb"))
      .limit(topK)
    val candAgg = cand.agg(
      count(lit(1)).as("n_candidates"),
      coalesce(sum("is_new"), lit(0L)).as("base_hits"))
    val trainAgg = e.agg(count(lit(1)).as("n_train_edges"))
    val testAgg = testNew.agg(count(lit(1)).as("n_test_new"))
    top
      .agg(count(lit(1)).as("k_used"), coalesce(sum("is_new"), lit(0L)).as("topk_hits"))
      .crossJoin(broadcast(trainAgg))
      .crossJoin(broadcast(testAgg))
      .crossJoin(broadcast(candAgg))
      .select(
        col("n_train_edges"),
        col("n_test_new"),
        col("n_candidates"),
        col("base_hits"),
        col("k_used"),
        col("topk_hits"),
        expr("""CASE WHEN k_used > 0
                THEN CAST(topk_hits * 1000000 div k_used AS BIGINT)
                ELSE NULL END""").as("precision_e6"),
        expr("""CASE WHEN base_hits > 0 AND k_used > 0 THEN
                  CAST(CAST(topk_hits AS DECIMAL(38,0)) * n_candidates * 1000000
                    div (CAST(k_used AS DECIMAL(38,0)) * base_hits) AS BIGINT)
                ELSE NULL END""").as("lift_e6"))
  }

  /** #318 Theil T index with nation decomposition: customer-revenue
    * inequality in nats, split EXACTLY (up to quantization) into
    * within-nation and between-nation components — the decomposition
    * #180's Gini famously lacks (Gini's between/within terms overlap;
    * Theil's are additive), so "is inequality a country story or a
    * within-country story" is answerable. T = Σ(xᵢ/X)·ln(xᵢ·n/X);
    * within-g replaces (X, n) with the group's; between is the
    * ≤|nations|-term Σ(X_g/X)·ln(X_g·n/(X·n_g)). Every float term is
    * a double of INTEGER ratios e6-quantized before the
    * order-independent sum (#119's discipline); shares are exact
    * integer quotients. Zero-revenue customers carry no mass
    * (x·ln x → 0) and are excluded by contract. One customer-grain
    * aggregate + one nation join + ≤|nations| rollups; no windows.
    * T = Σ s_g·T_g + T_between holds within per-term quantization —
    * spec-pinned with the matching slack.
    */
  def theil(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("o_custkey")
      .agg(sum("c").as("x"))
      .filter(col("x") >= 1)
      .join(
        Tables
          .customer(spark, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        "o_custkey")
      .join(
        broadcast(
          Tables.nation(spark, dir).select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        "c_nationkey")
      .select(col("n_name"), col("x"))
    val groups = cust.groupBy("n_name").agg(count(lit(1)).as("n_g"), sum("x").as("x_g"))
    val total = groups.agg(sum("n_g").as("n"), sum("x_g").as("xt"))
    val terms = cust
      .join(broadcast(groups), "n_name")
      .crossJoin(broadcast(total))
      .withColumn(
        "t_term_e6",
        floor(
          (col("x").cast("double") / col("xt")) *
            log(col("x").cast("double") * col("n") / col("xt")) * lit(1e6) + lit(0.5))
          .cast("long"))
      .withColumn(
        "w_term_e6",
        floor(
          (col("x").cast("double") / col("x_g")) *
            log(col("x").cast("double") * col("n_g") / col("x_g")) * lit(1e6) + lit(0.5))
          .cast("long"))
    val byNation = terms
      .groupBy("n_name", "n_g", "x_g", "n", "xt")
      .agg(sum("t_term_e6").as("t_part_e6"), sum("w_term_e6").as("t_within_e6"))
    val tTotal = byNation
      .agg(sum("t_part_e6").as("t_total_e6"))
    byNation
      .crossJoin(broadcast(tTotal))
      .select(
        col("n_name"),
        col("n_g").as("n_cust"),
        col("x_g").as("revenue_cents"),
        expr("CAST(CAST(x_g AS DECIMAL(38,0)) * 1000000 div xt AS BIGINT)").as("share_e6"),
        col("t_within_e6"),
        floor(
          (col("x_g").cast("double") / col("xt")) *
            log(
              col("x_g").cast("double") * col("n") /
                (col("xt").cast("double") * col("n_g"))) * lit(1e6) + lit(0.5))
          .cast("long")
          .as("between_e6"),
        col("t_total_e6"))
  }

  /** #319 Propensity-stratified treatment effect: does carrying a
    * PROMO-part line associate with an order completing (status 'F'),
    * after stratifying on order value — the subclassification
    * estimator (Cochran 1968, Rosenbaum & Rubin's recommended 5–10
    * strata) that completes the causal shelf: #286 DiD removes time
    * confounding, this removes an OBSERVED covariate confounder
    * (order size correlates with both basket composition and
    * completion). Strata = 10 equal-width cents bins of o_totalprice
    * from a 1-row min/max broadcast (#233's binning); per stratum the
    * treated/control completion rates (e6 truncating), their
    * difference, and an `in_support` flag (both arms present —
    * off-support strata are excluded, the common-support rule);
    * ATE = Σ n_s·diff_s div N over supported strata — integer weights
    * on already-truncated diffs, deterministic in both engines. One
    * order-grain semi-join + two ≤10-row rollups; no windows.
    */
  def propensityStrata(spark: SparkSession, dir: String): DataFrame = {
    val promoParts = Tables
      .part(spark, dir)
      .filter(col("p_type").startsWith("PROMO"))
      .select(col("p_partkey").as("l_partkey"))
    val treatedOrders = Tables
      .lineitem(spark, dir)
      .join(broadcast(promoParts), Seq("l_partkey"), "left_semi")
      .select(col("l_orderkey").as("o_orderkey"))
      .distinct()
      .withColumn("treated", lit(1L))
    val ords = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("bal"),
        (col("o_orderstatus") === "F").cast("long").as("outcome"))
      .join(treatedOrders, Seq("o_orderkey"), "left")
      .withColumn("treated", coalesce(col("treated"), lit(0L)))
    val bounds = ords.agg(min("bal").as("lo"), max("bal").as("hi"))
    val strata = ords
      .crossJoin(broadcast(bounds))
      .withColumn("stratum", expr("((bal - lo) * 10) div (hi - lo + 1)"))
      .groupBy("stratum")
      .agg(
        sum(when(col("treated") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treated") === 1, col("outcome")).otherwise(0L)).as("y_t"),
        sum(when(col("treated") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("treated") === 0, col("outcome")).otherwise(0L)).as("y_c"))
      .withColumn("in_support", (col("n_t") >= 1 && col("n_c") >= 1).cast("long"))
      .withColumn(
        "rate_t_e6",
        expr("CASE WHEN n_t > 0 THEN CAST(y_t * 1000000 div n_t AS BIGINT) ELSE NULL END"))
      .withColumn(
        "rate_c_e6",
        expr("CASE WHEN n_c > 0 THEN CAST(y_c * 1000000 div n_c AS BIGINT) ELSE NULL END"))
      .withColumn(
        "diff_e6",
        expr("""CASE WHEN in_support = 1
                THEN rate_t_e6 - rate_c_e6 ELSE NULL END"""))
    val ate = strata
      .filter(col("in_support") === 1)
      .agg(
        sum(expr("n_t + n_c")).as("n_supported"),
        sum(expr("(n_t + n_c) * diff_e6")).as("wsum"))
      .select(
        col("n_supported"),
        expr("""CAST(CASE WHEN wsum < 0 THEN -1 ELSE 1 END
                 * (abs(CAST(wsum AS DECIMAL(38,0))) div n_supported) AS BIGINT)""")
          .as("ate_e6"))
    strata.crossJoin(broadcast(ate))
  }

  /** #320 Welch unequal-variance t test (squared form): do PROMO and
    * non-promo line revenues differ in MEAN — the parametric
    * counterpart to #288's rank test on the identical frame (rank
    * test moves only with order; this with magnitude — run both, and
    * disagreement itself is the skew/outlier diagnostic). Everything
    * staged integer quotients so no engine meets a float or a √:
    * aᵢ = s²ᵢ/nᵢ as ONE truncating division of DECIMAL(38,0) moment
    * forms (nᵢΣx²−S²ᵢ) by n²ᵢ(nᵢ−1); mean gap d in whole cents
    * (sign-factored); t² on the e6 grid as d²·10⁶ div (a₁+a₂) — the
    * #254 squared-statistic trick (compare t² to z²_crit, no sqrt
    * anywhere); Welch–Satterthwaite df on the e3 grid from the same
    * aᵢ via a second staged quotient. One partial-agg moment pass,
    * 1-row output, no windows.
    */
  def welchT(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .join(
        broadcast(
          Tables
            .part(spark, dir)
            .select(
              col("p_partkey").as("l_partkey"),
              col("p_type").startsWith("PROMO").cast("long").as("t"))),
        "l_partkey")
      .select(
        col("t"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("c"))
      .agg(
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("t") === 1, col("c")).otherwise(0L)).as("s1"),
        sum(when(col("t") === 1, expr("CAST(c AS DECIMAL(38,0)) * c")).otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q1"),
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("n2"),
        sum(when(col("t") === 0, col("c")).otherwise(0L)).as("s2"),
        sum(when(col("t") === 0, expr("CAST(c AS DECIMAL(38,0)) * c")).otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q2"))
      .withColumn(
        "a1",
        expr("""(CAST(n1 AS DECIMAL(38,0)) * q1 - CAST(s1 AS DECIMAL(38,0)) * s1)
                 div (CAST(n1 AS DECIMAL(38,0)) * n1 * (n1 - 1))"""))
      .withColumn(
        "a2",
        expr("""(CAST(n2 AS DECIMAL(38,0)) * q2 - CAST(s2 AS DECIMAL(38,0)) * s2)
                 div (CAST(n2 AS DECIMAL(38,0)) * n2 * (n2 - 1))"""))
      .withColumn(
        "d_cents",
        expr("""CAST(CASE WHEN CAST(s1 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * n1 < 0
                       THEN -1 ELSE 1 END
                 * (abs(CAST(s1 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * n1)
                    div (CAST(n1 AS DECIMAL(38,0)) * n2)) AS BIGINT)"""))
      .select(
        col("n1"),
        col("n2"),
        expr("s1 div n1").as("mean1_cents"),
        expr("s2 div n2").as("mean2_cents"),
        col("d_cents"),
        expr("CAST(a1 AS BIGINT)").as("se2_1_c2"),
        expr("CAST(a2 AS BIGINT)").as("se2_2_c2"),
        expr("""CASE WHEN a1 + a2 >= 1 THEN
                  CAST(CAST(d_cents AS DECIMAL(38,0)) * d_cents * 1000000 div (a1 + a2) AS BIGINT)
                ELSE NULL END""").as("t2_e6"),
        expr("""CASE WHEN CAST(a1 AS DECIMAL(38,0)) * a1 div (n1 - 1)
                     + CAST(a2 AS DECIMAL(38,0)) * a2 div (n2 - 1) >= 1 THEN
                  CAST((CAST(a1 AS DECIMAL(38,0)) + a2) * (CAST(a1 AS DECIMAL(38,0)) + a2) * 1000
                    div (CAST(a1 AS DECIMAL(38,0)) * a1 div (n1 - 1)
                         + CAST(a2 AS DECIMAL(38,0)) * a2 div (n2 - 1)) AS BIGINT)
                ELSE NULL END""").as("df_e3"))

  /** #337 Kendall τ-b: rank correlation of daily order COUNT vs daily
    * REVENUE over the per-day frame — the tie-robust ordinal
    * association (are busy days rich days, monotonically?) beside
    * #243's Spearman (Spearman squares rank gaps and moves with tie
    * structure; τ-b counts pair inversions and corrects BOTH margins).
    * Everything exact: per day-pair a sign comparison (concordant /
    * discordant / tied-x / tied-y counted in one aggregate),
    * τ-b = (C−D)·10⁶ div √((n₀−Tx)(n₀−Ty)) with the √ via the #226
    * one-ulp-clamp exact isqrt (the product ≤ n₀² keeps it in the
    * double-exactness domain far past this corpus), sign factored out
    * first. The pair fan-out is (#days choose 2) — calendar-bounded,
    * never row-bounded; the day frame broadcasts so the pair join is
    * a broadcast NLJ, not a shuffle.
    */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("day")
      .agg(count(lit(1)).as("x"), sum("c").as("y"))
    val pairs = byDay.alias("a")
      .join(broadcast(byDay.alias("b")), col("a.day") < col("b.day"))
      .select(
        expr("CAST(sign(b.x - a.x) AS BIGINT)").as("sx"),
        expr("CAST(sign(b.y - a.y) AS BIGINT)").as("sy"))
    pairs
      .agg(
        count(lit(1)).as("n0"),
        sum(when(expr("sx * sy = 1"), 1L).otherwise(0L)).as("n_c"),
        sum(when(expr("sx * sy = -1"), 1L).otherwise(0L)).as("n_d"),
        sum(when(col("sx") === 0, 1L).otherwise(0L)).as("tx"),
        sum(when(col("sy") === 0, 1L).otherwise(0L)).as("ty"))
      .withColumn(
        "den2",
        expr("CAST((n0 - tx) AS DECIMAL(38,0)) * (n0 - ty)"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(den2 AS DOUBLE))) AS BIGINT)"))
      .withColumn(
        "den",
        expr("""s0 + (CASE WHEN (CAST(s0 AS DECIMAL(38,0)) + 1) * (s0 + 1) <= den2 THEN 1 ELSE 0 END)
                   - (CASE WHEN CAST(s0 AS DECIMAL(38,0)) * s0 > den2 THEN 1 ELSE 0 END)"""))
      .select(
        col("n0"),
        col("n_c"),
        col("n_d"),
        col("tx").as("ties_x"),
        col("ty").as("ties_y"),
        expr("""CASE WHEN den > 0 THEN
                  CAST(CASE WHEN n_c >= n_d THEN 1 ELSE -1 END
                    * (abs(CAST(n_c AS DECIMAL(38,0)) - n_d) * 1000000 div den) AS BIGINT)
                ELSE NULL END""").as("tau_b_e6"))
  }

  /** #338 Cohen's d / Hedges' g: the standardized mean difference of
    * promo vs non-promo line revenue — the EFFECT SIZE #320's Welch t
    * only tests (a significant t on a big corpus can be a trivial d;
    * reviews want the magnitude, not the p). Pooled SD from staged
    * integer quotients of the same DECIMAL(38,0) moment forms
    * ((nᵢ−1)s²ᵢ = (nᵢΣx²−S²ᵢ) div nᵢ, one truncation each), σ_pooled
    * via the #226 one-ulp-clamp exact isqrt, d = exact mean-gap
    * numerator (S₁n₂ − S₂n₁) over n₁n₂σ as one sign-factored e6
    * truncating quotient; Hedges' small-sample correction
    * g = d − 3d div (4(n₁+n₂)−9) stays on the grid. One partial-agg
    * moment pass, 1 row, no windows.
    */
  def cohensD(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .join(
        broadcast(
          Tables
            .part(spark, dir)
            .select(
              col("p_partkey").as("l_partkey"),
              col("p_type").startsWith("PROMO").cast("long").as("t"))),
        "l_partkey")
      .select(
        col("t"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("c"))
      .agg(
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("t") === 1, col("c")).otherwise(0L)).as("s1"),
        sum(when(col("t") === 1, expr("CAST(c AS DECIMAL(38,0)) * c"))
          .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q1"),
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("n2"),
        sum(when(col("t") === 0, col("c")).otherwise(0L)).as("s2"),
        sum(when(col("t") === 0, expr("CAST(c AS DECIMAL(38,0)) * c"))
          .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q2"))
      // sp² = Σᵢ (nᵢΣx²−S²ᵢ) / (nᵢ(n₁+n₂−2)): dividing each group's
      // moment form by its FULL denominator first keeps every staged
      // quotient variance-sized (≈10¹³ cents²) at any SF — the interim
      // (nᵢ−1)s²ᵢ form crosses 2⁶³ (div lands on BIGINT) at ~sf1
      .withColumn(
        "v1",
        expr("""(CAST(n1 AS DECIMAL(38,0)) * q1 - CAST(s1 AS DECIMAL(38,0)) * s1)
                 div (CAST(n1 AS DECIMAL(38,0)) * (n1 + n2 - 2))"""))
      .withColumn(
        "v2",
        expr("""(CAST(n2 AS DECIMAL(38,0)) * q2 - CAST(s2 AS DECIMAL(38,0)) * s2)
                 div (CAST(n2 AS DECIMAL(38,0)) * (n1 + n2 - 2))"""))
      .withColumn("sp2", expr("v1 + v2"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(sp2 AS DOUBLE))) AS BIGINT)"))
      .withColumn(
        "sp",
        expr("""s0 + (CASE WHEN (CAST(s0 AS DECIMAL(38,0)) + 1) * (s0 + 1) <= sp2 THEN 1 ELSE 0 END)
                   - (CASE WHEN CAST(s0 AS DECIMAL(38,0)) * s0 > sp2 THEN 1 ELSE 0 END)"""))
      .withColumn(
        "d_e6",
        expr("""CASE WHEN sp > 0 THEN
                  CAST(CASE WHEN CAST(s1 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * n1 < 0
                         THEN -1 ELSE 1 END
                    * (abs(CAST(s1 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * n1) * 1000000
                       div (CAST(n1 AS DECIMAL(38,0)) * n2 * sp)) AS BIGINT)
                ELSE NULL END"""))
      .select(
        col("n1"),
        col("n2"),
        col("sp").as("pooled_sd_cents"),
        col("d_e6"),
        expr("CAST(d_e6 - (3 * d_e6) div (4 * (n1 + n2) - 9) AS BIGINT)").as("g_e6"))

  /** #339 Cliff's delta: the ordinal effect size
    * δ = P(X₁ > X₂) − P(X₁ < X₂) of promo vs non-promo line revenue —
    * the magnitude companion to #288's Mann–Whitney exactly as #338
    * is to #320's t (U tests; δ sizes, robust to any monotone
    * transform). Reads straight off the SAME doubled-midrank frame:
    * δ = (u1_2x − n₁n₂)/(n₁n₂) — the doubled grid makes the numerator
    * whole — one sign-factored e6 truncating quotient; the standard
    * magnitude bands (0.147/0.33/0.474, Romano et al. 2006) label it.
    */
  def cliffsDelta(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame =
    promoRankAgg(spark, dir, nShards)
      .withColumn(
        "delta_e6",
        expr("""CAST(CASE WHEN u1_2x >= CAST(n1 AS DECIMAL(38,0)) * n2 THEN 1 ELSE -1 END
                 * (abs(CAST(u1_2x AS DECIMAL(38,0)) - CAST(n1 AS DECIMAL(38,0)) * n2) * 1000000
                    div (CAST(n1 AS DECIMAL(38,0)) * n2)) AS BIGINT)"""))
      .select(
        col("n1"),
        col("n2"),
        col("u1_2x"),
        col("delta_e6"),
        expr("""CASE WHEN abs(delta_e6) < 147000 THEN 'negligible'
                     WHEN abs(delta_e6) < 330000 THEN 'small'
                     WHEN abs(delta_e6) < 474000 THEN 'medium'
                     ELSE 'large' END""").as("magnitude"))

  /** #340 One-way ANOVA F: does mean order value differ across the
    * five order priorities — the parametric omnibus beside #309's
    * rank-based Kruskal–Wallis (run both; disagreement is the
    * skew/outlier diagnostic, the #320/#288 pairing at k groups).
    * Integer sums of squares with ONE truncation per group (the #309
    * discipline): SSB = Σ_g(S²_g div n_g) − S² div n,
    * SSW = Σx² − Σ_g(S²_g div n_g), F on e6 as one staged
    * DECIMAL(38,0) quotient (ssb·(n−k)·10⁶) div (ssw·(k−1)).
    * One partial-agg pass + a k-row fold, no windows. WHOLE-DOLLAR
    * grid, not cents: Σ_g S²_g div n_g crosses 2⁶³ on the cents grid
    * already at sf0.01 (`div` lands on BIGINT), and F is a ratio —
    * the 100× coarser grid costs nothing.
    */
  def anovaF(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables
      .orders(spark, dir)
      .select(
        col("o_orderpriority").as("g"),
        expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").as("c"))
      .groupBy("g")
      .agg(
        count(lit(1)).as("n_g"),
        sum("c").as("s_g"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("q_g"))
    per
      .agg(
        count(lit(1)).as("k"),
        sum("n_g").as("n"),
        sum("s_g").as("s"),
        sum("q_g").as("q"),
        sum(expr("CAST(CAST(s_g AS DECIMAL(38,0)) * s_g div n_g AS DECIMAL(38,0))"))
          .as("bsum"))
      .select(
        col("k"),
        col("n"),
        expr("CAST(bsum - CAST(s AS DECIMAL(38,0)) * s div n AS BIGINT)").as("ssb_d2"),
        expr("CAST(q - bsum AS BIGINT)").as("ssw_d2"),
        expr("""CASE WHEN q - bsum >= 1 THEN
                  CAST((bsum - CAST(s AS DECIMAL(38,0)) * s div n) * (n - k) * 1000000
                    div ((q - bsum) * (k - 1)) AS BIGINT)
                ELSE NULL END""").as("f_e6"))
  }

  /** #341 Brown–Forsythe Levene test: do order-value SPREADS differ
    * across priorities — variance homogeneity, the assumption #340's
    * F quietly makes (run this first; a fat W says trust #309's ranks
    * over #340's means). The robust median-centered form: per group
    * the #106 rank-defined lower median (one PARTITIONED window),
    * z = |x − med_g|, then the #340 one-truncation-per-group F
    * machinery verbatim on z. Group count is the bounded alphabet;
    * everything whole cents.
    */
  def levene(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables
      .orders(spark, dir)
      .select(
        col("o_orderpriority").as("g"),
        col("o_orderkey"),
        // whole dollars — the #340 overflow rationale, W is a ratio
        expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").as("c"))
    val w = Window.partitionBy("g").orderBy(col("c"), col("o_orderkey"))
    val med = vals
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("g")))
      .groupBy("g")
      .agg(max(when(col("rn") === expr("(nn + 1) div 2"), col("c"))).as("med"))
    val per = vals
      .join(broadcast(med), "g")
      .select(col("g"), expr("abs(c - med)").as("z"))
      .groupBy("g")
      .agg(
        count(lit(1)).as("n_g"),
        sum("z").as("s_g"),
        sum(expr("CAST(z AS DECIMAL(38,0)) * z")).as("q_g"))
    per
      .agg(
        count(lit(1)).as("k"),
        sum("n_g").as("n"),
        sum("s_g").as("s"),
        sum("q_g").as("q"),
        sum(expr("CAST(CAST(s_g AS DECIMAL(38,0)) * s_g div n_g AS DECIMAL(38,0))"))
          .as("bsum"))
      .select(
        col("k"),
        col("n"),
        expr("CAST(bsum - CAST(s AS DECIMAL(38,0)) * s div n AS BIGINT)").as("ssb_z2"),
        expr("CAST(q - bsum AS BIGINT)").as("ssw_z2"),
        expr("""CASE WHEN q - bsum >= 1 THEN
                  CAST((bsum - CAST(s AS DECIMAL(38,0)) * s div n) * (n - k) * 1000000
                    div ((q - bsum) * (k - 1)) AS BIGINT)
                ELSE NULL END""").as("w_e6"))
  }

  /** #342 Ljung–Box whiteness test: is daily order revenue's
    * autocorrelation structure jointly zero over lags 1..10 —
    * the portmanteau gate a forecasting pipeline runs on model
    * RESIDUALS (and on the raw series before bothering with #250/#292
    * at all; #324 asks "which single lag dominates", this asks "is
    * there ANY structure"). Per-lag pairwise-complete r² on the e6
    * grid via the #229 factored quotient (the #324 construction
    * verbatim), Q = n(n+2)·Σ_k (r²_k div (n−k)) — one truncation per
    * lag, order-free sum, compare to the χ²₁₀ 95% point 18.307 on the
    * same grid. One day aggregate + a bounded lag self-join; 1 row.
    */
  def ljungBox(spark: SparkSession, dir: String, maxLag: Int = 10): DataFrame = {
    val daily = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("d"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("x"))
      .groupBy("d")
      .agg(sum("x").as("x"))
    val nDf = daily.agg(count(lit(1)).as("n"))
    val lags = spark.range(1, maxLag + 1).select(col("id").as("lag"))
    val pairs = broadcast(lags)
      .join(daily.alias("a"), expr("true"))
      .join(daily.alias("b"), expr("b.d = a.d + lag"))
      .select(col("lag"), col("a.x").as("x"), col("b.x").as("y"))
    val perLag = pairs
      .groupBy("lag")
      .agg(
        count(lit(1)).as("m"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(
        col("lag"),
        expr("CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy").as("num"),
        expr("CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx").as("den_x"),
        expr("CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy").as("den_y"))
      .filter(col("den_x") > 0 && col("den_y") > 0)
      .select(
        col("lag"),
        expr("(abs(num) * 1000 div den_x) * (abs(num) * 1000 div den_y)").as("r2_e6"))
    perLag
      .crossJoin(broadcast(nDf))
      .select(col("n"), expr("r2_e6 div (n - lag)").as("term"))
      .groupBy("n")
      .agg(count(lit(1)).as("n_lags"), sum("term").as("tsum"))
      .select(
        col("n").as("n_days"),
        col("n_lags"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * (n + 2) * tsum AS BIGINT)").as("q_e6"),
        lit(18307000L).as("chi2_crit_e6"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * (n + 2) * tsum > 18307000 AS BIGINT)")
          .as("significant"))
  }

  /** #322 Order↔lineitem reconciliation audit: per order, the header
    * total against the recomputed Σ extendedprice·(1−disc)·(1+tax)
    * over its lines — the cross-entity consistency check every CDC
    * warehouse runs between a header feed and a detail feed (the
    * classic "two systems disagree about money" screen; #190's DQ
    * audit checks per-ROW invariants, this checks a cross-TABLE
    * identity). Reports exact-match and headerless/lineless counts,
    * the signed net drift in cents, and the p50/p90/p99 of per-order
    * relative error (e6) — exact rank-defined percentiles via the
    * #180 hierarchical build on the per-VALUE error frame (ties
    * collapse first; windows ride distinct error values, never
    * orders). On this synthetic corpus the header total is
    * independent of the lines, so the audit reports ~100% mismatch —
    * that IS the finding; the operator's value is the exact shape of
    * the discrepancy distribution.
    */
  def orderReconciliation(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val recomputed = Tables
      .lineitem(spark, dir)
      .select(
        col("l_orderkey"),
        expr("""CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5)
                 AS BIGINT)""").as("lc"))
      .groupBy("l_orderkey")
      .agg(sum("lc").as("recomputed"))
    val j = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey").as("l_orderkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("total"))
      .join(recomputed, Seq("l_orderkey"), "left")
    val errs = j
      .filter(col("recomputed").isNotNull && col("total") >= 1)
      .withColumn("rel_e6", expr("abs(recomputed - total) * 1000000 div total"))
    val summary = j.agg(
      count(lit(1)).as("n_orders"),
      sum(col("recomputed").isNull.cast("long")).as("n_lineless"),
      sum((col("recomputed") === col("total")).cast("long")).as("n_exact"),
      sum(expr("CASE WHEN recomputed IS NOT NULL THEN recomputed - total ELSE 0 END"))
        .as("net_drift_cents"))
    val byVal = errs.groupBy("rel_e6").agg(count(lit(1)).as("cnt"))
    val bounds = byVal.agg(min("rel_e6").as("lo"), max("rel_e6").as("hi"))
    val sharded = byVal
      .crossJoin(broadcast(bounds))
      .withColumn("shard", expr(s"((rel_e6 - lo) * $nShards) div (hi - lo + 1)"))
    val offsets = sharded
      .groupBy("shard")
      .agg(sum("cnt").as("sc"))
      .withColumn(
        "off",
        coalesce(
          sum("sc").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("shard"), col("off"))
    val ranked = sharded
      .withColumn(
        "cum",
        coalesce(
          sum("cnt").over(
            Window.partitionBy("shard").orderBy("rel_e6")
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .join(broadcast(offsets), "shard")
      .select(col("rel_e6"), (col("off") + col("cum") + 1).as("first_rank"), col("cnt"))
    val total = errs.agg(count(lit(1)).as("n_errs"))
    val targets = spark
      .createDataFrame(Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
      .toDF("pctl", "num", "den")
    targets
      .crossJoin(broadcast(total))
      .withColumn("rank", expr("(n_errs * num + den - 1) div den"))
      .join(
        ranked,
        col("rank") >= col("first_rank") && col("rank") < col("first_rank") + col("cnt"))
      .select(col("pctl"), col("rank"), col("rel_e6").as("rel_err_e6"))
      .crossJoin(broadcast(summary))
  }

  /** #323 Brier score with Murphy decomposition: the order-value
    * score's probabilistic forecast quality on a held-out calendar
    * half — train-half completion rate per value bin becomes the
    * forecast p_b, the test half scores it, and Murphy (1973) splits
    * the Brier mean-squared error into REliability (calibration
    * error), RESolution (how much the bins separate outcomes) and
    * UNCertainty (outcome variance — the no-skill floor):
    * Brier = REL − RES + UNC. Completes the score-evaluation family:
    * #232 AUC ranks, #233 calibration eyeballs, #303 prices the
    * cutoff — this scores the probability NUMBERS on held-out data.
    * All e12-grid integers: per-bin Brier mass expands exactly as
    * o_b·(10⁶−p_b)² + (n_b−o_b)·p_b² with p_b the e6 train rate;
    * REL/RES masses are n_b-weighted squared e6-rate gaps; each
    * component is ONE truncating div N through DECIMAL(38,0)↔HUGEINT
    * so the identity holds within per-bin quantization (spec-pinned
    * with slack). Bins from a 1-row min/max broadcast over BOTH
    * halves (stable bin edges); two linear passes + ≤10-row rollups.
    *
    * Unseen-bin EXCLUSION (explicit, not silent): a test bin with no
    * train rows has no forecast p_b and is dropped from n_test and
    * every Murphy component — with extreme-value bins this can
    * exclude held-out data and bias Brier/REL/RES toward the covered
    * bins. The exclusion is ACCOUNTED: `dropped_bins` /
    * `dropped_rows` in the output count the test-only bins and their
    * orders (0/0 when train covers every test bin, the usual case —
    * the stable shared bin edges make coverage gaps rare). The oracle
    * mirrors the same inner join, so parity holds by construction.
    */
  def brierDecomp(spark: SparkSession, dir: String, nBins: Int = 10): DataFrame = {
    val ords = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"),
        (col("o_orderstatus") === "F").cast("long").as("y"))
    val mid = ords.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val bounds = ords.agg(min("v").as("lo"), max("v").as("hi"))
    val binned = ords
      .crossJoin(broadcast(mid))
      .crossJoin(broadcast(bounds))
      .withColumn("bin", expr(s"((v - lo) * $nBins) div (hi - lo + 1)"))
      .select(col("bin"), col("y"), (col("day") < col("mid")).cast("long").as("is_train"))
    val train = binned
      .filter(col("is_train") === 1)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_train"), sum("y").as("y_train"))
      .withColumn("p_e6", expr("CAST(y_train * 1000000 div n_train AS BIGINT)"))
    val test = binned
      .filter(col("is_train") === 0)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_b"), sum("y").as("o_b"))
      .withColumn("obar_b_e6", expr("CAST(o_b * 1000000 div n_b AS BIGINT)"))
    val bins = test.join(train.select(col("bin"), col("n_train"), col("p_e6")), "bin")
    // the documented unseen-bin exclusion, accounted: test bins with no
    // train forecast (and their orders) — a 1-row broadcast frame
    val dropped = test
      .join(train.select("bin"), Seq("bin"), "left_anti")
      .agg(
        count(lit(1)).as("dropped_bins"),
        coalesce(sum("n_b"), lit(0L)).as("dropped_rows"))
    val tot = bins.agg(sum("n_b").as("n_test"), sum("o_b").as("o_test"))
    val withTot = bins
      .crossJoin(broadcast(tot))
      .withColumn("obar_e6", expr("CAST(o_test * 1000000 div n_test AS BIGINT)"))
      .withColumn(
        "brier_mass",
        expr("""CAST(o_b AS DECIMAL(38,0)) * (1000000 - p_e6) * (1000000 - p_e6)
                + CAST(n_b - o_b AS DECIMAL(38,0)) * p_e6 * p_e6"""))
      .withColumn(
        "rel_mass",
        expr("""CAST(n_b AS DECIMAL(38,0)) * (p_e6 - obar_b_e6) * (p_e6 - obar_b_e6)"""))
      .withColumn(
        "res_mass",
        expr("""CAST(n_b AS DECIMAL(38,0)) * (obar_b_e6 - obar_e6) * (obar_b_e6 - obar_e6)"""))
    val global = withTot
      .groupBy("n_test", "o_test", "obar_e6")
      .agg(
        sum("brier_mass").as("bm"),
        sum("rel_mass").as("rm"),
        sum("res_mass").as("sm"))
      .select(
        col("n_test"),
        col("obar_e6"),
        expr("CAST(bm div n_test AS BIGINT)").as("brier_e12"),
        expr("CAST(rm div n_test AS BIGINT)").as("rel_e12"),
        expr("CAST(sm div n_test AS BIGINT)").as("res_e12"),
        expr("CAST(CAST(obar_e6 AS DECIMAL(38,0)) * (1000000 - obar_e6) AS BIGINT)")
          .as("unc_e12"))
    withTot
      .select(
        col("bin"),
        col("n_train"),
        col("p_e6"),
        col("n_b"),
        col("o_b"),
        col("obar_b_e6"))
      .crossJoin(broadcast(global))
      .crossJoin(broadcast(dropped))
  }

  /** #324 Dominant-period detection: the lag-2..14 autocorrelation
    * table of daily order revenue with the winning lag — ACF-based
    * periodicity discovery, the data-driven gate BEFORE fitting a
    * seasonal model (#221/#292 assume a period; this asks whether one
    * exists — run it first, and a sub-threshold winner means "use
    * #250 Holt and stop"). Per lag the paired series (d, d+L over
    * days present in both) scores #229's sign-factored e3×e3 r²
    * through DECIMAL(38,0)↔HUGEINT; winner by (signed r² desc, lag
    * asc); the `significant` flag squares the classic |r| > 2/√m
    * white-noise band — r²·m > 4·10⁶ on the e6 grid, no sqrt (the
    * #254 trick). On this corpus NO lag clears the band (max |r| ≈
    * 0.04) — the honest "no dominant period" reading, the #321-kappa
    * class of finding. One day aggregate + one 13-way lag explode +
    * self-join on day; windows none.
    */
  def periodDetect(spark: SparkSession, dir: String, maxLag: Int = 14): DataFrame = {
    val daily = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("d"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("x"))
      .groupBy("d")
      .agg(sum("x").as("x"))
    val lagged = daily
      .select(col("d"), col("x"), explode(expr(s"sequence(2, $maxLag)")).as("lag"))
      .withColumn("d2", col("d") + col("lag"))
      .join(daily.select(col("d").as("d2"), col("x").as("y")), Seq("d2"))
    val perLag = lagged
      .groupBy("lag")
      .agg(
        count(lit(1)).as("m"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(
        col("lag").cast("long").as("lag"),
        col("m"),
        expr("CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy").as("num"),
        expr("CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx").as("den_x"),
        expr("CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy").as("den_y"))
      .filter(col("den_x") > 0 && col("den_y") > 0)
      .select(
        col("lag"),
        col("m"),
        expr("""CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END *
                 ((abs(num) * 1000 div den_x) * (abs(num) * 1000 div den_y))
                AS BIGINT)""").as("r2_signed_e6"))
      .withColumn(
        "significant",
        expr("CAST(abs(r2_signed_e6) * m > 4000000 AS LONG)"))
    val best = perLag
      .orderBy(col("r2_signed_e6").desc, col("lag"))
      .limit(1)
      .select(col("lag").as("best_lag"), col("r2_signed_e6").as("best_r2_e6"))
    perLag.crossJoin(broadcast(best))
  }

  /** #326 Seasonal Mann–Kendall (Hirsch & Slack 1984,
    * independent-seasons form): #242's monotone-trend test computed
    * WITHIN each day-of-week season and summed — the trend test that
    * stays valid when the series carries weekly seasonality (#290's
    * profile), where plain MK's cross-weekday pairs read the seasonal
    * cycle as spurious trend. Per (type, season): the pairwise sign
    * sweep S_s and tie-corrected var18_s; the seasonal statistic sums
    * both across seasons (independence assumed — the standard form;
    * the serial-correlation correction is a documented non-goal).
    * Same exact-integer grid as #242; pair fan-out is (days/7)² per
    * season — 7× CHEAPER than plain MK's days². Callers compare
    * S_total² against var18_total/18·z² without leaving the grid.
    */
  def seasonalMannKendall(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    val daily = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr(s"ts div ${nsPerDay}L").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("c"))
      .withColumn("season", pmod(col("day"), lit(7L)))
      .localCheckpoint(eager = false)
    val s = daily
      .alias("a")
      .join(
        daily.alias("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.season") === col("b.season") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(
        sum(signum(col("b.c") - col("a.c")).cast("long")).as("s_total"),
        count(lit(1)).as("n_pairs"))
    val ties = daily
      .groupBy(col("event_type"), col("season"), col("c"))
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type", "season")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"), sum("t").as("nd"))
      .withColumn("var18_s", expr("nd * (nd - 1) * (2 * nd + 5) - tie_term"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_seasons"),
        sum("nd").as("n_days"),
        sum("var18_s").as("var18_total"))
    s.join(ties, "event_type")
      .select(
        col("event_type"),
        col("n_days"),
        col("n_seasons"),
        col("n_pairs"),
        col("s_total"),
        col("var18_total"))
  }

  /** #327 Cramér's V for the status × priority association: the
    * normalized effect SIZE on [0,1] that completes the categorical-
    * association trio — #189's χ² tests significance (grows with n
    * even for trivial dependence), #313's MI sizes it in bits
    * (unbounded), V = √(χ²/(n·(min(r,c)−1))) puts it on the
    * comparable-across-tables unit scale every profiling report
    * wants. Same per-cell e6 χ² construction as #189 (one count pass
    * + broadcast margins), V² on the e12 grid as one further
    * truncating quotient, V on e6 via the #226 one-ulp-clamp EXACT
    * isqrt — no float ever. 1-row output.
    */
  def cramersV(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .orders(spark, dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("o"))
    val rowm = cells.groupBy("o_orderstatus").agg(sum("o").as("r"))
    val colm = cells.groupBy("o_orderpriority").agg(sum("o").as("c"))
    val tot = cells.agg(
      sum("o").as("n"),
      countDistinct("o_orderstatus").as("n_rows"),
      countDistinct("o_orderpriority").as("n_cols"))
    cells
      .join(broadcast(rowm), "o_orderstatus")
      .join(broadcast(colm), "o_orderpriority")
      .crossJoin(broadcast(tot))
      .select(
        col("n"),
        col("n_rows"),
        col("n_cols"),
        expr("""CAST((CAST(n * o - r * c AS DECIMAL(38,0)) * CAST(n * o - r * c AS DECIMAL(38,0))
                      * 1000000)
                 div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)""").as("contrib_e6"))
      .groupBy("n", "n_rows", "n_cols")
      .agg(sum("contrib_e6").as("chi2_e6"))
      .withColumn(
        "v2_e12",
        expr("""CAST(CAST(chi2_e6 AS DECIMAL(38,0)) * 1000000
                 div (CAST(n AS DECIMAL(38,0)) * (least(n_rows, n_cols) - 1)) AS BIGINT)"""))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(v2_e12 AS DOUBLE))) AS BIGINT)"))
      .withColumn(
        "v_e6",
        expr("""s0 + (CASE WHEN (CAST(s0 AS DECIMAL(38,0)) + 1) * (s0 + 1) <= v2_e12 THEN 1 ELSE 0 END)
                   - (CASE WHEN CAST(s0 AS DECIMAL(38,0)) * s0 > v2_e12 THEN 1 ELSE 0 END)"""))
      .select(col("n"), col("n_rows"), col("n_cols"), col("chi2_e6"), col("v2_e12"), col("v_e6"))
  }

  /** #330 Odds ratio / risk ratio of the 2×2 promo × completion
    * table: the epidemiology-standard effect sizes for a binary
    * exposure and outcome — OR = ad/bc (symmetric, the logistic-
    * regression coefficient's exponent), RR = [a/(a+b)]/[c/(c+d)]
    * (the interpretable one), and the risk DIFFERENCE — reading the
    * same exposure #319 stratifies: unadjusted here, stratum-adjusted
    * there, and the gap between the two numbers is itself the
    * confounding read. All exact: each ratio one truncating e6
    * DECIMAL(38,0)↔HUGEINT quotient, zero margins → NULL. One
    * order-grain semi-join + a 4-cell aggregate; 1-row output.
    */
  def oddsRatio(spark: SparkSession, dir: String): DataFrame = {
    val promoOrders = Tables
      .lineitem(spark, dir)
      .join(
        broadcast(
          Tables
            .part(spark, dir)
            .filter(col("p_type").startsWith("PROMO"))
            .select(col("p_partkey").as("l_partkey"))),
        Seq("l_partkey"),
        "left_semi")
      .select(col("l_orderkey").as("o_orderkey"))
      .distinct()
      .withColumn("treated", lit(1L))
    Tables
      .orders(spark, dir)
      .select(col("o_orderkey"), (col("o_orderstatus") === "F").cast("long").as("y"))
      .join(promoOrders, Seq("o_orderkey"), "left")
      .withColumn("treated", coalesce(col("treated"), lit(0L)))
      .agg(
        sum(expr("CASE WHEN treated = 1 AND y = 1 THEN 1 ELSE 0 END")).as("a"),
        sum(expr("CASE WHEN treated = 1 AND y = 0 THEN 1 ELSE 0 END")).as("b"),
        sum(expr("CASE WHEN treated = 0 AND y = 1 THEN 1 ELSE 0 END")).as("c"),
        sum(expr("CASE WHEN treated = 0 AND y = 0 THEN 1 ELSE 0 END")).as("d"))
      .select(
        col("a"),
        col("b"),
        col("c"),
        col("d"),
        expr("""CASE WHEN b > 0 AND c > 0 THEN
                  CAST(CAST(a AS DECIMAL(38,0)) * d * 1000000
                    div (CAST(b AS DECIMAL(38,0)) * c) AS BIGINT)
                ELSE NULL END""").as("odds_ratio_e6"),
        expr("""CASE WHEN a + b > 0 AND c > 0 THEN
                  CAST(CAST(a AS DECIMAL(38,0)) * (c + d) * 1000000
                    div (CAST(c AS DECIMAL(38,0)) * (a + b)) AS BIGINT)
                ELSE NULL END""").as("risk_ratio_e6"),
        expr("""CASE WHEN a + b > 0 AND c + d > 0 THEN
                  CAST(a * 1000000 div (a + b) - c * 1000000 div (c + d) AS BIGINT)
                ELSE NULL END""").as("risk_diff_e6"))
  }

  /** #331 Page–Hinkley drift chart: the third classic SPC monitor
    * beside #254's Shewhart (per-point spikes) and #284's CUSUM
    * (sustained shifts vs a FIXED mean) — Page–Hinkley tracks the
    * deviation against the RUNNING mean, so it self-calibrates as the
    * level drifts and flags CHANGES rather than excursions. Exact,
    * no recursion: m_t = Σ_{i≤t}(x_i − x̄_i) with x̄_i = S_i div i
    * (truncating prefix mean — deterministic both engines), and
    * PH⁺_t = m_t − min_{j≤t} m_j, PH⁻_t = max_{j≤t} m_j − m_t —
    * prefix-extrema closed forms (the #284 trick) over the
    * day-keyed aggregate (calendar-bounded frames); threshold
    * λ = 4σ via the #226 one-ulp-clamp exact isqrt of the
    * population variance, alarm flags integer comparisons.
    */
  def pageHinkley(spark: SparkSession, dir: String): DataFrame = {
    // every unpartitioned window below rides this PER-DAY aggregate
    // (<= #calendar-days rows) — a documented PlanDisciplineSpec
    // exception with an exact instance count, NOT a naming trick
    val byDay = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("day")
      .agg(sum("c").as("x"))
    val sig = byDay
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .select(
        expr("""CAST((CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                 div (CAST(n AS DECIMAL(38,0)) * n) AS DECIMAL(38,0))""").as("var_c"))
      .select(expr("CAST(floor(sqrt(CAST(var_c AS DOUBLE))) AS BIGINT)").as("s0"), col("var_c"))
      .select(
        expr("""s0 + (CASE WHEN (CAST(s0 AS DECIMAL(38,0)) + 1) * (s0 + 1) <= var_c THEN 1 ELSE 0 END)
                   - (CASE WHEN CAST(s0 AS DECIMAL(38,0)) * s0 > var_c THEN 1 ELSE 0 END)""")
          .as("sigma"))
    val wAll = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay
      .withColumn("i", row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("s_pre", sum("x").over(wAll))
      .withColumn("dev", col("x") - expr("s_pre div i"))
      .withColumn("m", sum("dev").over(wAll))
      .withColumn("m_min", min("m").over(wAll))
      .withColumn("m_max", max("m").over(wAll))
      .crossJoin(broadcast(sig))
      .select(
        col("day"),
        col("x").as("cents"),
        expr("s_pre div i").as("mean_so_far"),
        col("m"),
        (col("m") - col("m_min")).as("ph_plus"),
        (col("m_max") - col("m")).as("ph_minus"),
        (lit(4L) * col("sigma")).as("lambda_c"),
        (col("m") - col("m_min") > lit(4L) * col("sigma")).cast("long").as("alarm_up"),
        (col("m_max") - col("m") > lit(4L) * col("sigma")).cast("long").as("alarm_down"))
  }

  /** #332 Assortment turnover: for each consecutive month pair, the
    * Jaccard overlap of the ACTIVE part sets plus added/dropped
    * counts — the catalog-churn read merchandising tracks (#281's
    * catalog breadth counts actives and cumulative novelty; this
    * measures month-over-month SET movement — a stable breadth can
    * hide a fully-rotating assortment). Exact: actives from one
    * DISTINCT (month, part) frame; |A∩B| by an equi-join on part
    * across adjacent months (never a set product), |A∪B| = |A|+|B|−∩;
    * Jaccard one truncating e6 quotient. Consecutive months via a
    * lag over the ≤#months frame; part-keyed joins shuffle on part.
    */
  def assortmentTurnover(spark: SparkSession, dir: String): DataFrame = {
    val mp = Tables
      .lineitem(spark, dir)
      .join(
        Tables.orders(spark, dir).select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey")
      .select(
        expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)").as("m"),
        col("l_partkey"))
      .distinct()
      .localCheckpoint(eager = false)
    val sizes = mp.groupBy("m").agg(count(lit(1)).as("n_active"))
    val inter = mp
      .join(mp.select((col("m") - 1).as("m"), col("l_partkey").as("l_partkey")), Seq("m", "l_partkey"))
      .groupBy("m")
      .agg(count(lit(1)).as("n_common"))
    sizes
      .join(
        sizes.select((col("m") - 1).as("m"), col("n_active").as("n_next")),
        Seq("m"))
      .join(inter, Seq("m"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .select(
        col("m").as("month"),
        (col("m") + 1).as("next_month"),
        col("n_active"),
        col("n_next"),
        col("n_common"),
        (col("n_next") - col("n_common")).as("n_added"),
        (col("n_active") - col("n_common")).as("n_dropped"),
        expr("""CAST(n_common * 1000000 div (n_active + n_next - n_common) AS BIGINT)""")
          .as("jaccard_e6"))
  }

  /** #333 Supplier concentration per part: the HHI of each part's
    * supplier quantity shares — the single-source-risk screen
    * procurement runs (#246's HHI reads the whole market; this reads
    * EVERY part's supply base, and the top-concentrated multi-
    * supplier parts are the de-risking worklist). Shares on the e4
    * grid so the squared sum lands on e8 and a sole-source part is
    * exactly 10⁸; per-part HHI = Σ (q_s·10⁴ div q_tot)² — truncated
    * shares squared then summed, deterministic in both engines; top
    * 25 by (hhi desc, part) among parts with ≥2 suppliers (the
    * sole-source set is size-reported, not listed). One
    * (part, supplier) aggregate + part rollup; no windows beyond the
    * rank cut.
    */
  def supplierConcentration(spark: SparkSession, dir: String, topK: Int = 25): DataFrame = {
    val ps = Tables
      .lineitem(spark, dir)
      .select(
        col("l_partkey"),
        col("l_suppkey"),
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum("q").as("qs"))
    val perPart = ps
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_suppliers"), sum("qs").as("q_tot"))
      .filter(col("q_tot") >= 1)
    val hhi = ps
      .join(perPart, "l_partkey")
      .withColumn("share_e4", expr("qs * 10000 div q_tot"))
      .groupBy("l_partkey", "n_suppliers", "q_tot")
      .agg(sum(expr("share_e4 * share_e4")).as("hhi_e8"))
    val soleSource = hhi.agg(
      count(lit(1)).as("n_parts"),
      sum((col("n_suppliers") === 1).cast("long")).as("n_sole_source"))
    hhi
      .filter(col("n_suppliers") >= 2)
      .orderBy(col("hhi_e8").desc, col("l_partkey"))
      .limit(topK)
      .crossJoin(broadcast(soleSource))
  }

  /** Label-propagation contract constants — shared with the
    * q_label_prop / q_label_prop_eval oracle builders so the replay
    * can't drift from the operator.
    */
  val LabelPropRounds = 4
  val LabelPropMinSupport = 2

  /** #366 Weighted label-propagation communities (LPA — Raghavan,
    * Albert & Kumara 2007): community detection over the co-purchase
    * graph, the structure-DISCOVERY sibling of #166's connected
    * components (CC answers "reachable at all?"; LPA answers "which
    * densely-wired region?", splitting a bridged component along its
    * weak seam). Each of exactly [[LabelPropRounds]] synchronous
    * rounds relabels every vertex with the neighbor label carrying
    * the largest total edge weight (support counts — a 5-basket tie
    * outvotes 5 one-basket strangers), ties broken by smallest
    * label; isolated parts keep their own label. The FIXED round
    * count (no early exit) is the determinism contract: synchronous
    * LPA can oscillate on bipartite-ish seams, so "the labeling
    * after exactly R rounds" is the well-defined deliverable both
    * engines replay bit-exactly, and the spec's planted two-cliques-
    * and-a-bridge case shows R=4 already separates what CC cannot.
    *
    * Scale: per round one hash join against the dst-partitioned
    * cached edge list + one (vertex, label) aggregate + one per-
    * vertex rank — all keyed shuffles, linear in |E|; the argmax
    * window is PARTITIONED by vertex (never global); round frames
    * are eagerly lineage-cut and every block released on exit
    * (#124/#166 discipline). Rounds are O(1) by contract, so the
    * shape holds at any graph size.
    */
  def labelProp(
      spark: SparkSession,
      dir: String,
      rounds: Int = LabelPropRounds,
      minSupport: Int = LabelPropMinSupport): DataFrame =
    Lineage.checkpointReleasing(spark) { implicit scope =>
      // r14: pairs is an EAGER cut (was a lazy cache) — sym's two
      // union branches raced on it (see pageRank); sym is an eager
      // checkpoint, not a cache, so its width is AQE-sized instead of
      // pinned at the session's 32 shuffle partitions (see
      // betweennessSym)
      val pairs = coPurchasePairs(spark, dir, minSupport).cp(eager = true)
      val sym = scope.cp(
        pairs
          .select(col("part_a").as("src"), col("part_b").as("dst"), col("w"))
          .unionAll(pairs.select(col("part_b").as("src"), col("part_a").as("dst"), col("w")))
          .repartition(col("dst")),
        eager = true)
      var labels = Tables
        .lineitem(spark, dir)
        .select(col("l_partkey").as("part"))
        .distinct()
        .select(col("part"), col("part").as("label"))
        .cp(eager = true)
      var r = 0
      while (r < rounds) {
        r += 1
        // r14: the per-vertex argmax is a second aggregate —
        // min(struct(−tw, nl)) picks (tw desc, nl asc)'s first row
        // exactly (one row per (part, nl) group, so no hidden ties) —
        // instead of a row_number window: drops the window's sort and
        // keeps both steps partially aggregable (guide §2.3). Round
        // cuts stay EAGER: each round's frame feeds both the next
        // round's stream side and a broadcast build, and a lazy cut
        // lets those race and compute the round twice (measured: the
        // lazy form ran 4.4–12.6 s vs 4.0 eager).
        val best = sym
          .join(labels.select(col("part").as("dst"), col("label").as("nl")), "dst")
          .groupBy(col("src").as("part"), col("nl"))
          .agg(sum("w").as("tw"))
          .groupBy("part")
          .agg(min(struct((-col("tw")).as("ntw"), col("nl").as("nl"))).as("b"))
          .select(col("part"), col("b.nl").as("bl"))
        labels = labels
          .join(best, Seq("part"), "left")
          .select(col("part"), coalesce(col("bl"), col("label")).as("label"))
          .cp(eager = true)
      }
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("comm_size"))
      val out = labels
        .join(sizes, "label")
        .select(col("part"), col("label").as("community"), col("comm_size"))
      (out, Seq.empty)
    }

  /** #367 Label-propagation modularity scorecard (§15.4: every
    * discovered structure ships with its quality number in the same
    * round): Newman modularity Q of the #366 LPA partition versus Q
    * of the brand partition (#304's business baseline) on the SAME
    * support-filtered edge set — the one number that says whether
    * the discovered communities actually explain more basket wiring
    * than the catalog taxonomy does (LPA losing to brand would mean
    * the propagation found noise, the classic LPA failure no
    * per-community size readout can see). Same exact algebra as
    * #304: per-community numerator 4m·m_c − deg_c² in DECIMAL(38,0),
    * Q = sign·(|Σ num|·10⁶ div 4m²) with ONE final truncating
    * division per partition, so both engines land the identical
    * BIGINT. 1-row output; every post-fold frame is 1-row broadcast.
    *
    * Honest finding (the §15.5 convention): on the synthetic basket
    * graph both partitions score NEAR-ZERO modularity (sf0.01:
    * Q_lpa = 0.0071 vs Q_brand = 0.0022, lpa_wins = 1; at sf0.001
    * the order flips) — the corpus plants no community structure, so
    * the deliverable is the exact comparison mechanics, and the spec
    * pins the arithmetic, not a quality wish.
    */
  def labelPropEval(spark: SparkSession, dir: String): DataFrame = {
    // r14: the LPA run and the edge rebuild are independent —
    // overlap them (guide §2.6)
    val (lpa, edges) = Lineage.par2(
      labelProp(spark, dir).select(col("part"), col("community")), {
        val po =
          Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")).distinct()
        po.select(col("l_orderkey"), col("l_partkey").as("part_a"))
          .join(po.select(col("l_orderkey"), col("l_partkey").as("part_b")), "l_orderkey")
          .filter(col("part_a") < col("part_b"))
          .groupBy("part_a", "part_b")
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= LabelPropMinSupport)
          .select("part_a", "part_b")
          .localCheckpoint(eager = true)
      })
    val brand = Tables.part(spark, dir).select(col("p_partkey").as("part"), col("p_brand"))
    // modularity numerator fold for one vertex→community assignment:
    // Σ_c (4m·m_c − deg_c²), plus m and the community count
    def qFold(assign: DataFrame, labelCol: String): DataFrame = {
      val lab = assign.select(col("part"), col(labelCol).as("comm"))
      val e = edges
        .join(lab.select(col("part").as("part_a"), col("comm").as("ca")), "part_a")
        .join(lab.select(col("part").as("part_b"), col("comm").as("cb")), "part_b")
      val m = e.agg(count(lit(1)).as("m"))
      val intra = e
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("comm"))
        .agg(count(lit(1)).as("mc"))
      val deg = e
        .select(explode(array(
          struct(col("part_a").as("node"), col("ca").as("comm")),
          struct(col("part_b").as("node"), col("cb").as("comm")))).as("x"))
        .groupBy(col("x.comm").as("comm"))
        .agg(count(lit(1)).as("degc"))
      deg
        .join(intra, Seq("comm"), "left")
        .na
        .fill(0L, Seq("mc"))
        .agg(
          count(lit(1)).as("n_comms"),
          sum(expr("CAST(mc AS DECIMAL(38,0))")).as("sum_mc"),
          sum(expr("CAST(degc AS DECIMAL(38,0)) * degc")).as("sum_deg2"))
        .crossJoin(broadcast(m))
        .select(
          col("n_comms"),
          expr("CAST(4 * CAST(m AS DECIMAL(38,0)) * sum_mc - sum_deg2 AS DECIMAL(38,0))")
            .as("q_num"),
          col("m"))
    }
    val ql = qFold(lpa, "community")
      .select(
        col("n_comms").as("n_comms_lpa"),
        col("q_num").as("q_num_lpa"),
        col("m"))
    val qb = qFold(brand, "p_brand")
      .select(col("n_comms").as("n_comms_brand"), col("q_num").as("q_num_brand"))
    ql.crossJoin(broadcast(qb))
      .select(
        col("m"),
        col("n_comms_lpa"),
        col("n_comms_brand"),
        expr("""CAST(CASE WHEN q_num_lpa < 0 THEN -1 ELSE 1 END
                 * (abs(q_num_lpa) * 1000000 div (4 * CAST(m AS DECIMAL(38,0)) * m))
                 AS BIGINT)""").as("q_lpa_e6"),
        expr("""CAST(CASE WHEN q_num_brand < 0 THEN -1 ELSE 1 END
                 * (abs(q_num_brand) * 1000000 div (4 * CAST(m AS DECIMAL(38,0)) * m))
                 AS BIGINT)""").as("q_brand_e6"),
        (col("q_num_lpa") > col("q_num_brand")).cast("long").as("lpa_wins"))
  }

  /** #368 Adamic–Adar link prediction: the #283 common-neighbors
    * ranking re-scored with the Adamic–Adar weight Σ_w 1/ln(deg w)
    * over shared neighbors — the standard refinement that discounts
    * evidence from promiscuous hubs (a shared niche accessory is a
    * stronger tie signal than a shared bestseller; plain CN counts
    * them equally, which is exactly the failure #317's backtest
    * measures). Same wedge enumeration and center-degree cap as
    * #283 (the cap is the Σdeg² → |E|·D scale bound AND part of the
    * oracle-replayed contract); each wedge contributes its CENTER's
    * precomputed term ⌊10⁶/ln(deg)+½⌋ — ln of an exact INTEGER
    * degree, one double op per distinct degree value, quantized per
    * term THEN summed (the order-free float recipe; deg ≥ 2 for any
    * wedge center, so ln > 0). Top-k by (aa_e6, cn, pair) is a
    * TakeOrdered — map-side bounded, no global window.
    */
  def adamicAdar(
      spark: SparkSession,
      dir: String,
      minOrders: Int = LinkPredMinOrders,
      maxCenterDeg: Int = LinkPredMaxCenterDeg,
      topK: Int = LinkPredTopK): DataFrame = {
    val baskets = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set("l_partkey")).as("parts"))
    val e = baskets
      .select(
        explode(
          expr(
            """flatten(transform(parts, (x, i) ->
                 transform(slice(parts, i + 2, size(parts)),
                   y -> named_struct('pa', x, 'pb', y))))"""))
          .as("p"))
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= minOrders)
      .select("pa", "pb")
      .localCheckpoint(eager = false)
    val deg = e
      .select(col("pa").as("node"))
      .unionAll(e.select(col("pb").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
    val adj = e
      .select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e.select(col("pb").as("u"), col("pa").as("v")))
      .join(
        // deg >= 2: a deg-1 center forms no wedge (its self-join pair is
        // (v,v), killed by v < w) so dropping it is result-neutral — and
        // it keeps 1/ln(1) = Infinity out of the BIGINT cast, which
        // would throw under spark.sql.ansi.enabled
        deg
          .filter(col("deg") <= maxCenterDeg && col("deg") >= 2)
          .select(col("node").as("u"), col("deg")),
        Seq("u"))
      .withColumn("term_e6", expr("CAST(floor(1000000.0 / ln(CAST(deg AS DOUBLE)) + 0.5) AS BIGINT)"))
    adj
      .join(adj.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
      .groupBy(col("v").as("pa"), col("w").as("pb"))
      .agg(count(lit(1)).as("cn"), sum("term_e6").as("aa_e6"))
      .join(e, Seq("pa", "pb"), "left_anti")
      .orderBy(col("aa_e6").desc, col("cn").desc, col("pa"), col("pb"))
      .limit(topK)
  }

  /** #369 Individuals & moving-range (I-MR) control chart: the SPC
    * chart for UNGROUPED daily observations — the #254 p-chart needs
    * a defect fraction and the #349 EWMA/#284 CUSUM accumulate; I-MR
    * is the Shewhart baseline for a single-value-per-period series,
    * where σ is estimated from the average two-point moving range
    * (M̄R/d₂, d₂ = 1.128 at n = 2) because no within-period spread
    * exists. Both textbook tests, kept EXACT by cross-multiplying
    * the rational limits instead of materializing them: the
    * individuals test |xᵢ − x̄| > 3·M̄R/d₂ becomes
    * |xᵢ·n − Σx|·1128·n₁ > 3000·ΣMR·n, and the range test
    * mrᵢ > D₄·M̄R (D₄ = 3.267) becomes mrᵢ·1000·n₁ > 3267·ΣMR —
    * every product through DECIMAL(38,0) (xᵢ·n·1128·n₁ crosses 2⁶³
    * once daily revenue reaches ~10¹⁰ cents), both engines land the
    * identical comparison. One per-day aggregate, one day-ordered
    * lag for the moving range (≤ #calendar-days rows — a documented
    * PlanDisciplineSpec exception; the lag subtree is planned twice,
    * under the stats fold and under the output join), one 1-row
    * broadcast stats frame.
    */
  def imrChart(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("day")
      .agg(sum("c").as("x"))
    val withMr = byDay
      .withColumn("mr", abs(col("x") - lag("x", 1).over(Window.orderBy("day"))))
    val stats = withMr.agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"),
      count(col("mr")).as("n1"),
      sum("mr").as("smr"))
    withMr
      .crossJoin(broadcast(stats))
      .select(
        col("day"),
        col("x").as("x_c"),
        col("mr").as("mr_c"),
        col("n").as("n_days"),
        expr("""CAST(CASE WHEN abs(CAST(x AS DECIMAL(38,0)) * n - sx) * 1128 * n1
                          > 3000 * CAST(smr AS DECIMAL(38,0)) * n
                     THEN 1 ELSE 0 END AS BIGINT)""").as("x_ooc"),
        expr("""CAST(CASE WHEN mr IS NOT NULL
                          AND CAST(mr AS DECIMAL(38,0)) * 1000 * n1
                              > 3267 * CAST(smr AS DECIMAL(38,0))
                     THEN 1 ELSE 0 END AS BIGINT)""").as("mr_ooc"))
  }

  /** #370 X̄-R control chart: the GROUPED Shewhart sibling of #369's
    * I-MR — subgroups are epoch-aligned calendar weeks (day div 7) of
    * daily revenue, kept only when FULL (7 days present) because the
    * A₂/D₃/D₄ constants are tabulated per subgroup size (n = 7:
    * A₂ = 0.419, D₃ = 0.076, D₄ = 1.924); within-subgroup spread
    * exists here, so σ comes from the mean range R̄ instead of #369's
    * moving range. Both charts kept EXACT by cross-multiplying the
    * rational limits on the weekly SUM s = 7·X̄: the X̄ test
    * |X̄_w − X̿| > A₂·R̄ becomes |s·W − Σs|·1000 > 2933·ΣR (2933 =
    * 7·419), the range tests r > D₄·R̄ / r < D₃·R̄ become
    * r·1000·W > 1924·ΣR / r·1000·W < 76·ΣR — every product through
    * DECIMAL(38,0)↔HUGEINT. One day aggregate, one week aggregate,
    * one 1-row broadcast stats frame — NO windows at all, linear at
    * any scale.
    */
  def xbarRChart(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("day")
      .agg(sum("c").as("x"))
    val byWeek = byDay
      .groupBy(expr("day div 7").as("week"))
      .agg(count(lit(1)).as("nd"), sum("x").as("s"), (max("x") - min("x")).as("r"))
      .filter(col("nd") === 7)
    val stats = byWeek.agg(count(lit(1)).as("w"), sum("s").as("ss"), sum("r").as("sr"))
    byWeek
      .crossJoin(broadcast(stats))
      .select(
        col("week"),
        col("s").as("s_c"),
        col("r").as("r_c"),
        col("w").as("n_weeks"),
        expr("""CAST(CASE WHEN abs(CAST(s AS DECIMAL(38,0)) * w - ss) * 1000
                          > 2933 * CAST(sr AS DECIMAL(38,0))
                     THEN 1 ELSE 0 END AS BIGINT)""").as("xbar_ooc"),
        expr("""CAST(CASE WHEN CAST(r AS DECIMAL(38,0)) * 1000 * w
                          > 1924 * CAST(sr AS DECIMAL(38,0))
                     THEN 1 ELSE 0 END AS BIGINT)""").as("r_high_ooc"),
        expr("""CAST(CASE WHEN CAST(r AS DECIMAL(38,0)) * 1000 * w
                          < 76 * CAST(sr AS DECIMAL(38,0))
                     THEN 1 ELSE 0 END AS BIGINT)""").as("r_low_ooc"))
  }

  /** #371 Net / gross revenue retention (NRR / GRR): for each base
    * month m with a following month in the data, the revenue of m's
    * active customers re-measured in m+1 — NRR = their full m+1
    * revenue over their m revenue (expansion counts), GRR = the
    * contraction-only floor Σ min(rev_m, rev_m+1) over the same base
    * (expansion capped at 100%), plus the new-customer revenue the
    * retention ratios deliberately exclude. THE SaaS/recurring-
    * revenue health metric; #240's growth accounting counts HEADS,
    * this weighs DOLLARS, and the two disagree exactly when churn
    * concentrates in small accounts. Whole-cent BIGINT grid, ratios
    * single truncating e6 divisions through DECIMAL(38,0) (both
    * engines identical; base > 0 by construction — the base month is
    * in the data). One (customer, month) aggregate, one shifted
    * self-join on (customer, month), one ≤#months fold — linear, no
    * windows.
    */
  def nrr(spark: SparkSession, dir: String): DataFrame = {
    val cm = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        expr(
          "CAST(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT)")
          .as("m"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("o_custkey", "m")
      .agg(sum("c").as("rev0"))
    val nxt = cm.select(col("o_custkey"), (col("m") - 1).as("m"), col("rev0").as("rev1"))
    val months = cm.select("m").distinct()
    // base months = months whose successor month also appears
    val valid = months.join(
      months.select((col("m") - 1).as("m")),
      Seq("m"),
      "left_semi")
    cm.join(nxt, Seq("o_custkey", "m"), "full_outer")
      .join(valid, Seq("m"), "left_semi")
      .groupBy("m")
      .agg(
        count(col("rev0")).as("n_base"),
        count(when(col("rev0").isNotNull && col("rev1").isNotNull, lit(1))).as("n_retained"),
        coalesce(sum("rev0"), lit(0L)).as("base_c"),
        coalesce(sum(when(col("rev0").isNotNull, col("rev1"))), lit(0L)).as("retained_c"),
        // least() skips NULLs in both engines — guard to BOTH-active
        // rows or single-sided revenue leaks into the GRR floor
        coalesce(
          sum(when(col("rev0").isNotNull && col("rev1").isNotNull,
            least(col("rev0"), col("rev1")))),
          lit(0L)).as("min_c"),
        coalesce(sum(when(col("rev0").isNull, col("rev1"))), lit(0L)).as("new_c"))
      .select(
        col("m"),
        col("n_base"),
        col("n_retained"),
        col("base_c"),
        col("retained_c"),
        col("min_c"),
        col("new_c"),
        expr("CAST(CAST(retained_c AS DECIMAL(38,0)) * 1000000 div base_c AS BIGINT)")
          .as("nrr_e6"),
        expr("CAST(CAST(min_c AS DECIMAL(38,0)) * 1000000 div base_c AS BIGINT)")
          .as("grr_e6"))
  }

  /** #372 Heuristics-miner dependency measure (Weijters & van der
    * Aalst): for every ordered event-type pair, the dependency score
    * dep(a,b) = (|a>b| − |b>a|) / (|a>b| + |b>a| + 1) over the
    * directly-follows counts — the noise-robust edge weight the
    * heuristics miner thresholds to draw a process model. #174's
    * transition matrix reports raw first-order frequencies; the
    * dependency measure is the DIRECTIONAL read (near +1 = a truly
    * precedes b, near 0 = concurrent/noise — the distinction
    * frequency alone cannot make), with the +1 smoothing that keeps
    * one stray observation from claiming certainty. Length-1 loops
    * score the textbook |a>a| / (|a>a| + 1). Counts from one lag
    * window per user (bounded partitions) + one pair aggregate; the
    * mirror join runs at alphabet² cardinality; dep on the e6 grid
    * via the sign-factored truncating division (magnitudes only, so
    * Spark div ≡ DuckDB //).
    */
  def hmDependency(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val t = Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("a"), col("next_type").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val rev = t.select(col("b").as("a"), col("a").as("b"), col("n_ab").as("n_ba"))
    t.join(rev, Seq("a", "b"), "full_outer")
      .na
      .fill(0L, Seq("n_ab", "n_ba"))
      .select(
        col("a").as("from_type"),
        col("b").as("to_type"),
        col("n_ab"),
        col("n_ba"),
        expr("""CAST(CASE WHEN a = b THEN n_ab * 1000000 div (n_ab + 1)
                     ELSE (CASE WHEN n_ab < n_ba THEN -1 ELSE 1 END)
                          * (abs(n_ab - n_ba) * 1000000 div (n_ab + n_ba + 1))
                END AS BIGINT)""").as("dep_e6"))
  }

  /** #376 Next-event entropy per state: for each event type, the
    * Shannon entropy (bits) of its next-event distribution — the
    * predictability read on top of #174's transition matrix (a row
    * can be 90/10 or uniform at the same n_from; entropy is the one
    * number that says whether the next step is KNOWABLE, gating
    * whether a next-event model is worth training on this state).
    * Each term −p·log₂(p) is a float of the integer ratio
    * n_ab/n_from, e6-quantized BEFORE the order-independent sum
    * (#119's float-identity discipline — both engines evaluate log₂
    * of the same double, so the quantized terms agree bit-exactly);
    * h_max = log₂(k) quantized the same way, p = 1 rows contribute
    * exactly 0. One per-user lag window + one pair aggregate + one
    * per-state fold — linear, alphabet-bounded output.
    */
  def markovEntropy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type"))
      .agg(count(lit(1)).as("n_ab"))
      .withColumn("n_from", sum("n_ab").over(Window.partitionBy("from_type")))
      .withColumn(
        "term_e6",
        expr("""CAST(floor(-(CAST(n_ab AS DOUBLE) / n_from)
                           * log2(CAST(n_ab AS DOUBLE) / n_from) * 1000000 + 0.5)
                AS BIGINT)"""))
      .groupBy(col("from_type"), col("n_from"))
      .agg(
        count(lit(1)).as("n_next_types"),
        sum("term_e6").as("h_e6"))
      .withColumn(
        "hmax_e6",
        expr("CAST(floor(log2(CAST(n_next_types AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"))
  }

  /** #377 Alpha-miner footprint matrix (van der Aalst's alpha
    * algorithm, step 1): the completed alphabet×alphabet grid of
    * ordering relations derived from the directly-follows counts —
    * `causal` (a>b observed, b>a never), `rev_causal`, `parallel`
    * (both observed) and `choice` (neither) — the footprint table
    * every discovered process model starts from, and the categorical
    * summary of #372's numeric dependency scores. Grid COMPLETION is
    * the point (absent cells are the `choice` relation, which the
    * observed-pairs frames cannot represent): alphabet from one
    * distinct aggregate, grid = broadcast alphabet² cross join, counts
    * left-joined and coalesced to 0. All counts exact; output
    * alphabet²-bounded.
    */
  def alphaFootprint(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val t = Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("a"), col("next_type").as("b"))
      .agg(count(lit(1)).as("n"))
    val alphabet = Tables
      .events(spark, dir)
      .select(col("event_type").as("a"))
      .distinct()
    val grid = broadcast(alphabet)
      .crossJoin(broadcast(alphabet.select(col("a").as("b"))))
    grid
      .join(t, Seq("a", "b"), "left")
      .na
      .fill(0L, Seq("n"))
      .join(
        t.select(col("b").as("a"), col("a").as("b"), col("n").as("n_rev")),
        Seq("a", "b"),
        "left")
      .na
      .fill(0L, Seq("n_rev"))
      .select(
        col("a").as("from_type"),
        col("b").as("to_type"),
        col("n").as("n_ab"),
        col("n_rev").as("n_ba"),
        expr("""CASE WHEN n > 0 AND n_rev = 0 THEN 'causal'
                     WHEN n = 0 AND n_rev > 0 THEN 'rev_causal'
                     WHEN n > 0 AND n_rev > 0 THEN 'parallel'
                     ELSE 'choice' END""").as("rel"))
  }

  /** #411 Hash-relabeling permutation test (the Monte-Carlo
    * permutation test — the assumption-free significance check the
    * parametric family (#320 Welch, #340 ANOVA) falls back to when
    * normality/variance assumptions die: is the BUILDING-segment mean
    * order value different from the rest, measured against the null
    * distribution of B = 200 random relabelings?). Determinism: each
    * relabeling b assigns orders by the HIGH BIT of the Knuth
    * multiplicative hash (orderkey·2654435761 + b·2246822519) mod 2³²
    * — pure codegen'd integer arithmetic (an md5-parity draft spent
    * 19 s at sf0.1 on 30M digest calls; this runs in ~2 s), binomial
    * label counts rather than a fixed-count shuffle, the standard
    * Monte-Carlo relaxation, documented; every statistic is exact
    * integer (means as
    * centi-cents via sum·100 div n, diffs absolute), so the DuckDB
    * replay reproduces the ENTIRE null distribution bit-exactly and
    * p = (1 + #{b: diff_b ≥ diff_obs}) / (B_valid + 1) on the e6
    * grid. Scale: the B-fold explode is embarrassingly parallel
    * (B·rows partial-aggregated map-side to 2B cells); nothing
    * driver-side.
    */
  def permutationTest(spark: SparkSession, dir: String, b: Int = 200): DataFrame = {
    val base = Tables
      .orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .join(
        broadcast(
          Tables
            .customer(spark, dir)
            .select(
              col("c_custkey").as("o_custkey"),
              (col("c_mktsegment") === "BUILDING").cast("long").as("g"))),
        "o_custkey")
      .select("o_orderkey", "c", "g")
      .localCheckpoint(eager = false)
    val obs = base
      .agg(
        sum(when(col("g") === 1, col("c"))).as("s1"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === 0, col("c"))).as("s0"),
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0"))
      .select(
        col("n1"),
        col("n0"),
        expr("abs(s1 * 100 div n1 - s0 * 100 div n0)").as("observed_diff"))
    val nulls = base
      .select(col("o_orderkey"), col("c"), explode(expr(s"sequence(0, ${b - 1})")).as("bi"))
      .withColumn(
        "gb",
        expr("""CAST((o_orderkey * 2654435761L + bi * 2246822519L) % 4294967296L
                     >= 2147483648L AS BIGINT)"""))
      .groupBy("bi")
      .agg(
        sum(when(col("gb") === 1, col("c"))).as("s1"),
        sum(when(col("gb") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("gb") === 0, col("c"))).as("s0"),
        sum(when(col("gb") === 0, 1L).otherwise(0L)).as("n0"))
      .filter(col("n1") > 0 && col("n0") > 0)
      .select(expr("abs(s1 * 100 div n1 - s0 * 100 div n0)").as("diff"))
    nulls
      .crossJoin(broadcast(obs))
      .agg(
        max("n1").as("n_building"),
        max("n0").as("n_rest"),
        max("observed_diff").as("observed_diff_cc"),
        count(lit(1)).as("b_valid"),
        sum(when(col("diff") >= col("observed_diff"), 1L).otherwise(0L)).as("n_ge"))
      .withColumn("p_e6", expr("(1 + n_ge) * 1000000 div (b_valid + 1)"))
  }

  /** #407 Markov next-event prediction scorecard (§15.4: the chain
    * family ships its evaluation): train the first-order
    * maximum-likelihood predictor — per state, the argmax next event
    * by transition count, ties on event name — and score its top-1
    * accuracy over the SAME log, per state, against the
    * state-independent majority baseline (always predict the
    * corpus-wide most common next event). #376 measures next-event
    * ENTROPY (how predictable in principle); this measures what a
    * 1-step predictor actually ACHIEVES and the per-state lift over
    * ignoring state — the go/no-go read before wiring next-action
    * prediction into a product. Training-set accuracy by design
    * (documented): the question here is model-family signal, not
    * generalization. Transition counts fold to the alphabet²-bounded
    * frame; two rank-1 windows on it; one broadcast of the global
    * argmax; accuracies truncating e6.
    */
  def markovPrediction(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("b", lead("event_type", 1).over(w))
      .filter(col("b").isNotNull)
      .groupBy(col("event_type").as("a"), col("b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    val pred = trans
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy("a").orderBy(col("n").desc, col("b"))))
      .filter(col("rn") === 1)
      .select(col("a"), col("b").as("predicted_next"))
    val global = trans
      .groupBy("b")
      .agg(sum("n").as("nb"))
      .orderBy(col("nb").desc, col("b"))
      .limit(1)
      .select(col("b").as("baseline_next"))
    trans
      .join(pred, "a")
      .crossJoin(broadcast(global))
      .groupBy(col("a").as("state"), col("predicted_next"), col("baseline_next"))
      .agg(
        sum("n").as("n_transitions"),
        sum(when(col("b") === col("predicted_next"), col("n")).otherwise(0L)).as("n_correct"),
        sum(when(col("b") === col("baseline_next"), col("n")).otherwise(0L))
          .as("n_baseline_correct"))
      .select(
        col("state"),
        col("predicted_next"),
        col("n_transitions"),
        col("n_correct"),
        expr("n_correct * 1000000 div n_transitions").as("accuracy_e6"),
        col("baseline_next"),
        col("n_baseline_correct"),
        expr("n_baseline_correct * 1000000 div n_transitions").as("baseline_acc_e6"))
  }

  /** #406 Weight-of-evidence / information-value scorecard (the
    * credit-scoring feature screen, Siddiqi 2006): for each candidate
    * categorical feature — customer market segment and customer
    * nation — against the binary target "order is high-priority"
    * (URGENT/HIGH), the per-bin WOE = ln(%pos/%neg) and IV
    * contribution (%pos − %neg)·WOE, the standard pre-model read of
    * which attributes separate the classes (IV < 0.02 useless,
    * > 0.3 strong) and in WHICH bins. #313's mutual information
    * scores association in bits corpus-wide; WOE/IV is the per-bin
    * DIRECTIONAL decomposition modelers act on.
    *
    * Floats of integer ratios only (the established recipe): WOE and
    * IV terms are doubles of exact BIGINT count ratios, e6-quantized
    * per bin with floor(x·10⁶ + 0.5), never summed before
    * quantization — bit-identical in DuckDB. Bins where either class
    * count is zero get NULL WOE and a 0 IV term (strict convention,
    * no smoothing — documented; smoothing constants are a modeling
    * choice, not an engine one). One orders⋈customer join (customer
    * side small → broadcast), two bin aggregates, 1-row totals
    * broadcast.
    */
  def woeIv(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        (col("o_orderpriority").isin("1-URGENT", "2-HIGH")).cast("long").as("pos"))
      .join(
        broadcast(
          Tables
            .customer(spark, dir)
            .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"), col("c_nationkey"))),
        "o_custkey")
      .select(
        col("pos"),
        col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("string").as("nat"))
      .localCheckpoint(eager = false)
    val stacked = base
      .select(lit("mktsegment").as("feature"), col("seg").as("bin"), col("pos"))
      .unionAll(base.select(lit("nation").as("feature"), col("nat").as("bin"), col("pos")))
    val tot = base.agg(
      sum("pos").as("total_pos"),
      (count(lit(1)) - sum("pos")).as("total_neg"))
    stacked
      .groupBy("feature", "bin")
      .agg(sum("pos").as("n_pos"), (count(lit(1)) - sum("pos")).as("n_neg"))
      .crossJoin(broadcast(tot))
      .select(
        col("feature"),
        col("bin"),
        col("n_pos"),
        col("n_neg"),
        expr("n_pos * 1000000 div total_pos").as("pct_pos_e6"),
        expr("n_neg * 1000000 div total_neg").as("pct_neg_e6"),
        expr("""CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                  CAST(floor(ln((CAST(n_pos AS DOUBLE) * total_neg)
                               / (CAST(n_neg AS DOUBLE) * total_pos)) * 1e6 + 0.5) AS BIGINT)
                END""").as("woe_e6"),
        expr("""CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                  CAST(floor((CAST(n_pos AS DOUBLE) / total_pos
                            - CAST(n_neg AS DOUBLE) / total_neg)
                           * ln((CAST(n_pos AS DOUBLE) * total_neg)
                               / (CAST(n_neg AS DOUBLE) * total_pos)) * 1e6 + 0.5) AS BIGINT)
                ELSE 0L END""").as("iv_term_e6"))
  }

  /** Hill-estimator order-statistic count — shared with the oracle. */
  val HillK = 100

  /** #380 Hill tail-index estimator (Hill 1975): α̂ = 1/H with
    * H = (1/k)·Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top-k customer
    * lifetime revenues — the heavy-tail diagnostic that says whether
    * revenue concentration is Pareto-like and HOW heavy (α ≤ 1 means
    * the mean is tail-dominated; #180's Gini and #285's Lorenz
    * measure inequality, Hill measures the tail LAW, which is what
    * capacity planning and whale-risk models consume). Exact
    * discipline: the top-(k+1) order statistics ride a rank-limited
    * global window (WindowGroupLimit — the #13 top-k shape, never a
    * full sort), the threshold x₍ₖ₊₁₎ is a 1-row broadcast, each
    * ln(xᵢ/thr) term is a float of the integer cent ratio
    * e6-quantized BEFORE the order-free sum (#119 discipline),
    * H = Σ div k and α̂_e6 = 10¹² div H_e6 are truncating integer
    * divisions — both engines land the identical BIGINTs.
    */
  def hillTail(spark: SparkSession, dir: String, k: Int = HillK): DataFrame = {
    val rev = Tables
      .orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("rev"))
    val w = Window.orderBy(col("rev").desc, col("o_custkey"))
    val top = rev
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k + 1)
    val thr = top.filter(col("rank") === k + 1).select(col("rev").as("thr"))
    top
      .filter(col("rank") <= k)
      .crossJoin(broadcast(thr))
      .select(
        col("thr"),
        expr("CAST(floor(ln(CAST(rev AS DOUBLE) / thr) * 1000000 + 0.5) AS BIGINT)")
          .as("term_e6"))
      .groupBy("thr")
      .agg(count(lit(1)).as("k"), sum("term_e6").as("sum_e6"))
      .select(
        col("k"),
        col("thr").as("thr_c"),
        expr("CAST(sum_e6 div k AS BIGINT)").as("hill_e6"),
        expr("""CAST(CASE WHEN sum_e6 div k > 0
                     THEN 1000000000000 div (sum_e6 div k) ELSE 0 END AS BIGINT)""")
          .as("alpha_e6"))
  }

  /** #404 Footprint conformance / token-less trace fitness: replay
    * every trace against the NOISE-FILTERED dependency model the
    * heuristics miner (#372) would keep — a direct transition a→b
    * conforms iff its dependency measure (|a→b|−|b→a|)/(|a→b|+|b→a|+1)
    * clears the standard 0.5 threshold (self-loops score n/(n+1), so
    * any observed loop stays legal) — closing the process-mining loop:
    * #377/#372 DISCOVER the model, #381 counts variants, this scores
    * how much of the live log the discovered model explains and WHICH
    * variants deviate (the pm4py footprint-conformance shape; ping-
    * pong a↔b noise fails the threshold in both directions and
    * surfaces as the non-conforming steps). Per top-`topK` variant:
    * traces, steps, conforming steps, fitness on the e6 grid.
    *
    * Scale: one per-user lead window (bounded partitions), transition
    * counts fold to the alphabet²-bounded model frame (broadcast
    * back), variants one per-user aggregate — no global windows; the
    * dep threshold compares e3-truncated quotients (negative
    * numerators truncate differently per engine but can never cross
    * the +500 gate, so the edge SET is engine-identical).
    */
  def footprintConformance(spark: SparkSession, dir: String, topK: Int = 25): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = ev
      .withColumn("b", lead("event_type", 1).over(w))
      .filter(col("b").isNotNull)
      .select(col("user_id"), col("event_type").as("a"), col("b"))
    val counts = trans.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    val model = counts
      .join(
        counts.select(col("b").as("a"), col("a").as("b"), col("n_ab").as("n_ba")),
        Seq("a", "b"),
        "left")
      .na
      .fill(0L, Seq("n_ba"))
      .filter(
        expr("""CASE WHEN a = b THEN n_ab * 1000 div (n_ab + 1)
                     ELSE (n_ab - n_ba) * 1000 div (n_ab + n_ba + 1) END >= 500"""))
      .select(col("a"), col("b"), lit(1L).as("ok"))
    val perUser = trans
      .groupBy("user_id", "a", "b")
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(model), Seq("a", "b"), "left")
      .na
      .fill(0L, Seq("ok"))
      .groupBy("user_id")
      .agg(sum("cnt").as("steps"), sum(expr("cnt * ok")).as("ok_steps"))
    ev.groupBy("user_id")
      .agg(
        expr("""array_join(
                  transform(
                    array_sort(collect_list(struct(ts, event_id, event_type))),
                    x -> x.event_type),
                  '>')""").as("variant"))
      .join(perUser, "user_id") // 1-event traces have no transitions: fitness undefined, dropped
      .groupBy("variant")
      .agg(
        count(lit(1)).as("n_traces"),
        sum("steps").as("n_steps"),
        sum("ok_steps").as("n_conforming"))
      .withColumn("fitness_e6", expr("n_conforming * 1000000 div n_steps"))
      .orderBy(col("n_traces").desc, col("variant"))
      .limit(topK)
  }

  /** #422 Token-replay conformance (Rozinat & van der Aalst 2008, the
    * standard four-counter fitness read): replay every trace variant
    * against the happy-path DFG-as-workflow-net the transition rows
    * (#377/#251) discover — places are activities plus virtual
    * START/END, a transition exists per kept directly-follows edge,
    * and the kept set is the top-`modelK` edges by (count desc, a, b)
    * (the model the top-paths view shows; distinct from #404's
    * DEPENDENCY threshold: that scores step legality against a causal
    * model, this prices each deviation from the dominant flow in
    * tokens — and on a structureless log a frequency FLOOR keeps
    * every edge and the read degenerates to fitness ≡ 1, measured at
    * sf0.001: all 34 edges clear count ≥ 2, so the floor form scores
    * nothing). Per trace [START]+trace+[END] with p adjacent pairs:
    * every firing produces and consumes one token (+1 initial
    * produce at START, +1 final consume at END ⇒ produced = consumed
    * = p+1); an out-of-model pair cannot fire, so a token is conjured
    * before the successor (missing++) and the token sitting at the
    * predecessor is stranded until the final marking (remaining++) —
    * in a sequential DFG-net replay the conjure/strand pairs are 1:1,
    * so missing = remaining (both reported: the textbook read keeps
    * all four counters). fitness_e6 = ½(1−m/c) + ½(1−r/p), each half
    * div-truncated on the e6 grid.
    *
    * Scale: pairs from one per-user zip (no window), the model is
    * alphabet²+2-bounded and broadcast, variants one per-user
    * aggregate, top-`topK` a TakeOrdered — no global windows; every
    * count is positive so Spark div ≡ DuckDB // throughout.
    */
  def tokenReplay(spark: SparkSession, dir: String, topK: Int = 25, modelK: Int = 12): DataFrame = {
    val seqs = Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(
        expr("""transform(
                  array_sort(collect_list(struct(ts, event_id, event_type))),
                  x -> x.event_type)""").as("tr"))
      .select(
        col("user_id"),
        expr("array_join(tr, '>')").as("variant"),
        expr("concat(array('START'), tr, array('END'))").as("t"))
    val pairs = seqs
      .select(
        col("user_id"),
        col("variant"),
        explode(expr("""zip_with(slice(t, 1, size(t) - 1),
                                 slice(t, 2, size(t) - 1),
                                 (x, y) -> struct(x AS a, y AS b))""")).as("p"))
      .select(col("user_id"), col("variant"), col("p.a"), col("p.b"))
    // alphabet²+2-bounded edge counts; the model cut is a TakeOrdered
    // on that bounded frame, never a global window over data
    val model = pairs
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_ab"))
      .orderBy(col("n_ab").desc, col("a"), col("b"))
      .limit(modelK)
      .select(col("a"), col("b"), lit(1L).as("in_model"))
    val perUser = pairs
      .join(broadcast(model), Seq("a", "b"), "left")
      .na
      .fill(0L, Seq("in_model"))
      .groupBy("user_id", "variant")
      .agg(count(lit(1)).as("n_pairs"), sum(expr("1 - in_model")).as("bad"))
    perUser
      .groupBy("variant")
      .agg(
        count(lit(1)).as("n_traces"),
        // every trace of a variant replays identically
        min("n_pairs").as("p_pairs"),
        min("bad").as("bad"))
      .select(
        col("variant"),
        col("n_traces"),
        expr("p_pairs + 1").as("produced"),
        expr("p_pairs + 1").as("consumed"),
        col("bad").as("missing"),
        col("bad").as("remaining"),
        expr("""500000 * (p_pairs + 1 - bad) div (p_pairs + 1)
                + 500000 * (p_pairs + 1 - bad) div (p_pairs + 1)""").as("fitness_e6"))
      .orderBy(col("n_traces").desc, col("variant"))
      .limit(topK)
  }

  /** #381 Top trace variants (the process-mining variant explorer):
    * each user's FULL ordered event-type sequence as one path string,
    * grouped and ranked — the view every conformance discussion
    * starts from ("80% of users follow 6 variants; the tail is the
    * interesting part"). #251 ranks session OPENINGS, this ranks
    * whole-journey variants. Sequence assembled inside one per-user
    * aggregate (collect_list of (ts, event_id, type) structs,
    * array_sort on the same total order as every sequence op, then a
    * transform+join — per-key state bounded by a user's activity, the
    * #195 contract); top-25 by (n_users desc, variant) is a
    * TakeOrdered, no global window.
    */
  def traceVariants(spark: SparkSession, dir: String, topK: Int = 25): DataFrame =
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(
        expr("""array_join(
                  transform(
                    array_sort(collect_list(struct(ts, event_id, event_type))),
                    x -> x.event_type),
                  '>')""").as("variant"),
        count(lit(1)).as("n_events"))
      .groupBy("variant")
      .agg(
        count(lit(1)).as("n_users"),
        max("n_events").as("max_events"))
      .orderBy(col("n_users").desc, col("variant"))
      .limit(topK)

  /** #382 Monthly customer-concentration ratios (CR4 / CR8): per
    * month, the revenue share of the top-4 and top-8 customers — the
    * antitrust-style concentration read beside #246's HHI (CRk is
    * what sales leadership actually quotes: "our top 4 accounts are
    * 31% of the month"), trended monthly so concentration CREEP is
    * visible. Top-8 per month rides a month-partitioned
    * WindowGroupLimit (the #13 top-k-per-group shape — never a full
    * within-month sort at any scale); month totals come from one
    * aggregate; shares are truncating e6 quotients through
    * DECIMAL(38,0). ≤#months output rows.
    */
  def crConcentration(spark: SparkSession, dir: String): DataFrame = {
    val cm = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        expr(
          "CAST(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT)")
          .as("m"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("m", "o_custkey")
      .agg(sum("c").as("rev"))
    val w = Window.partitionBy("m").orderBy(col("rev").desc, col("o_custkey"))
    val top = cm
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 8)
      .groupBy("m")
      .agg(
        sum(when(col("rank") <= 4, col("rev")).otherwise(0L)).as("top4_c"),
        sum(col("rev")).as("top8_c"))
    val tot = cm.groupBy("m").agg(sum("rev").as("total_c"), count(lit(1)).as("n_cust"))
    tot
      .join(top, "m")
      .select(
        col("m"),
        col("n_cust"),
        col("total_c"),
        col("top4_c"),
        col("top8_c"),
        expr("CAST(CAST(top4_c AS DECIMAL(38,0)) * 1000000 div total_c AS BIGINT)")
          .as("cr4_e6"),
        expr("CAST(CAST(top8_c AS DECIMAL(38,0)) * 1000000 div total_c AS BIGINT)")
          .as("cr8_e6"))
  }

  /** #383 Purchase-streak distribution (gaps-and-islands): per
    * customer, the longest run of CONSECUTIVE active months, rolled
    * up into a streak-length histogram — the habit-formation read
    * #270's stickiness ratio can't give (DAU/WAU is a point ratio;
    * streaks measure persistence, the strongest simple churn
    * predictor in subscription analytics). The classic SQL
    * construction kept exact: island id = month − dense_rank(month)
    * per customer (consecutive months share an island), streak = max
    * island size per customer. All windows partitioned BY CUSTOMER
    * (a customer's months, never the table); the histogram fold is
    * one ≤max-streak aggregate.
    */
  /** Markov-attribution contract constants — shared with the oracle
    * builder: fixed propagation rounds (the LPA-style determinism
    * contract) and the absorbing conversion state.
    */
  val MarkovAttrRounds = 6

  /** #384 Markov removal-effect attribution (Anderl et al. 2014 —
    * the data-driven multi-touch attribution standard): model user
    * journeys as a first-order chain START → events → absorption at
    * the first `purchase` (or NULL when the journey ends without
    * one); a channel's credit is its REMOVAL EFFECT — how much total
    * conversion probability dies when every path through that channel
    * is cut — normalized into attribution shares. The causal-flavored
    * answer to the heuristic #178 U-shape (which pays fixed
    * positional credit no matter what the paths actually needed).
    *
    * Exactness contract: journey truncation at the first purchase +
    * START/NULL framing happen inside one per-user aggregate (#195's
    * activity-bounded state); the chain is the integer edge count
    * matrix; propagation runs EXACTLY [[MarkovAttrRounds]] synchronous
    * rounds of massₑ₆·n div n_from (the #253 quantized-trajectory
    * recipe — both engines replay the identical integer trajectory),
    * absorbing states carry n = n_from = 1 self-loops so absorbed
    * mass is held exactly; conv = mass at `purchase` after the fixed
    * rounds. Removal redirects every edge INTO the channel to NULL
    * and drops the channel's outgoing edges — margins of surviving
    * edges unchanged, so removed-conv ≤ base-conv holds round-by-
    * round (monotonicity of truncating division; spec-pinned).
    *
    * Scale: the data-scale work is ONE per-user aggregate down to the
    * alphabet²-bounded edge-count matrix (≤ (types+3)² rows — the
    * whitelisted bounded-model-state pattern k-means training uses,
    * `Similarity.scala` collect sites); scenarios and all propagation
    * rounds fold driver-side on that matrix — distributing 6 rounds
    * of ≤64-row shuffles would be pure scheduler overhead (measured
    * 7.6 s distributed vs ~1.5 s folded at sf0.1).
    */
  /** #412 Shapley-value channel attribution (the cooperative-game
    * model Google Ads' data-driven attribution popularized; completes
    * the attribution trio — #178 positional U-shape, #384 Markov
    * removal-effect, this the axiomatic coalition split): journeys =
    * each user's path up to the FIRST purchase, touchset = the
    * distinct non-purchase channels in it; the coalition value v(S) =
    * number of conversions whose touchset ⊆ S ("the coalition alone
    * could have produced them"), and every channel's Shapley value is
    * computed by FULL coalition enumeration — φ_c = Σ_{S∌c}
    * |S|!(n−1−|S|)!·(v(S∪c)−v(S)) / n! — which is exact here because
    * the channel alphabet is tiny (2^n coalitions, n ≤ 5). Exact
    * integers end-to-end: touchsets encode as bitmasks, v() is a
    * masked count, the factorial weights keep φ as an integer
    * numerator over n! (emitted as `phi_num` + `denom`), shares on
    * the truncating e6 grid. For THIS value function game theory says
    * φ collapses to the closed form "each conversion splits 1/|T|
    * across its touchset" (a sum of unanimity games) — `ShapleySpec`
    * asserts the enumeration ≡ the closed form exactly, which both
    * validates the machinery and documents why v(S) with synergy
    * terms (where the closed form dies) would drop in unchanged.
    *
    * Scale: the ONLY data-scale work is one per-user path aggregate;
    * everything after lives on ≤2^n·n bounded frames (the #384
    * alphabet²-bounded discipline — explode of masks × channels, a
    * BroadcastNLJ-class grid, never a data-scale shuffle).
    */
  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    val seqs = Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(expr(
        "transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)")
        .as("t0"))
      .filter(expr("array_position(t0, 'purchase') > 0"))
      .select(
        expr("""array_sort(array_distinct(
                  slice(t0, 1, CAST(array_position(t0, 'purchase') AS INT) - 1)))""")
          .as("touchset"))
    val channels = Tables
      .events(spark, dir)
      .select(col("event_type").as("channel"))
      .filter(col("channel") =!= "purchase")
      .distinct()
      .withColumn("r", (row_number().over(Window.orderBy("channel")) - 1).cast("long"))
      .localCheckpoint(eager = false)
    val nc = channels.agg(count(lit(1)).as("nc"))
    // journey bitmask: Σ 2^rank over its touched channels (0 if empty)
    // DISTINCT touchsets first — building the mask over raw journeys
    // would sum each channel's bit once PER JOURNEY sharing the set
    val tmasks = seqs
      .select("touchset")
      .distinct()
      .select(explode_outer(col("touchset")).as("channel"), col("touchset"))
      .join(channels, Seq("channel"), "left")
      .groupBy("touchset")
      .agg(coalesce(sum(expr("shiftleft(1L, CAST(r AS INT))")), lit(0L)).as("tmask"))
    val tsCounts = seqs
      .join(tmasks, "touchset")
      .groupBy("tmask")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val masks = nc
      .select(col("nc"), explode(expr("sequence(0L, shiftleft(1L, CAST(nc AS INT)) - 1)")).as("m"))
    // grid-complete: masks no journey's touchset fits still need v=0
    // rows, or the v(S∪c) inner join silently drops their terms
    val vFrame = masks
      .join(
        masks
          .crossJoin(tsCounts)
          .filter(expr("(tmask & m) = tmask"))
          .groupBy("m")
          .agg(sum("cnt").as("v")),
        Seq("m"),
        "left")
      .na
      .fill(0L, Seq("v"))
      .localCheckpoint(eager = false)
    val terms = channels
      .crossJoin(vFrame)
      .filter(expr("(m >> CAST(r AS INT)) % 2 = 0"))
      .withColumn(
        "s",
        expr("aggregate(sequence(0, CAST(nc - 1 AS INT)), 0L, (a, j) -> a + (m >> j) % 2)"))
      .join(
        vFrame.select(col("m").as("m2"), col("v").as("v2")),
        expr("m2 = m + shiftleft(1L, CAST(r AS INT))"))
      .select(
        col("channel"),
        col("nc"),
        expr("CAST(factorial(CAST(s AS INT)) AS BIGINT) * CAST(factorial(CAST(nc - 1 - s AS INT)) AS BIGINT) * (v2 - v)")
          .as("term"))
    val phi = terms
      .groupBy("channel", "nc")
      .agg(sum("term").as("phi_num"))
      .withColumn("denom", expr("CAST(factorial(CAST(nc AS INT)) AS BIGINT)"))
    val tot = phi.agg(sum("phi_num").as("tot_num"))
    phi
      .crossJoin(broadcast(tot))
      .select(
        col("channel"),
        col("phi_num"),
        col("denom"),
        expr("phi_num * 1000 div denom").as("shapley_journeys_e3"),
        expr("CASE WHEN tot_num > 0 THEN phi_num * 1000000 div tot_num ELSE 0L END")
          .as("share_e6"))
  }

  def markovAttribution(
      spark: SparkSession,
      dir: String,
      rounds: Int = MarkovAttrRounds): DataFrame = {
    val seqs = Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(expr(
        "transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)")
        .as("t0"))
      .select(expr("""CASE WHEN array_position(t0, 'purchase') > 0
                      THEN slice(t0, 1, CAST(array_position(t0, 'purchase') AS INT))
                      ELSE t0 END""").as("t1"))
      .select(expr("""concat(array('START'), t1,
                      CASE WHEN element_at(t1, -1) <> 'purchase'
                      THEN array('NULL') ELSE array() END)""").as("t"))
    // alphabet²-bounded model state: the chain's integer count matrix
    val edges = seqs
      .select(explode(expr(
        """transform(slice(t, 1, size(t) - 1),
             (x, i) -> named_struct('a', x, 'b', element_at(t, i + 2)))""")).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val channels = (edges.keys.flatMap { case (a, b) => Seq(a, b) }.toSet
      -- Set("START", "NULL", "purchase")).toSeq.sorted
    def convFor(removed: Option[String]): Long = {
      val redirected = edges.toSeq
        .filter { case ((a, _), _) => !removed.contains(a) }
        .map { case ((a, b), n) => ((a, if (removed.contains(b)) "NULL" else b), n) }
        .groupBy(_._1)
        .map { case (k, xs) => k -> xs.map(_._2).sum }
      val withLoops =
        redirected ++ Map(("purchase", "purchase") -> 1L, ("NULL", "NULL") -> 1L)
      val nFrom = withLoops.groupBy(_._1._1).map { case (a, xs) => a -> xs.values.sum }
      var mass = Map("START" -> 1000000L)
      for (_ <- 1 to rounds) {
        mass = withLoops.toSeq
          .flatMap { case ((a, b), n) => mass.get(a).map(m => b -> m * n / nFrom(a)) }
          .groupBy(_._1)
          .map { case (b, xs) => b -> xs.map(_._2).sum }
      }
      mass.getOrElse("purchase", 0L)
    }
    val base = convFor(None)
    val effects = channels.map(c => (c, base - convFor(Some(c))))
    val sumEff = effects.map(_._2).sum
    import spark.implicits._
    effects
      .map { case (c, eff) =>
        (c, base, base - eff, eff, if (sumEff > 0) eff * 1000000L / sumEff else 0L)
      }
      .toDF("channel", "base_conv_e6", "removed_conv_e6", "effect_e6", "attribution_e6")
  }

  /** #385 Edge embeddedness (Granovetter tie strength on the
    * co-purchase graph): for each support-2 edge, the Jaccard overlap
    * of its endpoints' neighborhoods — cn div (deg_a + deg_b − 2 −
    * cn), common neighbors over the union excluding the endpoints
    * themselves — the classic strong-tie/weak-tie score: embedded
    * edges live inside communities (#366's seams), zero-embeddedness
    * edges are the BRIDGES information actually crosses. #176 counts
    * triangles per graph, #283 scores NON-edges; this scores the
    * edges themselves. Common neighbors via the oriented wedge join
    * on the support-filtered edge set (Σdeg² bounded by the support
    * filter, the #176 shape); top-100 by (emb desc, pair) rides
    * WindowGroupLimit. Isolated edges (both endpoints degree 1) have
    * an empty union — scored 0 by convention, documented here.
    */
  def edgeEmbeddedness(spark: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    val e = coPurchasePairs(spark, dir, minSupport = 2)
      .select(col("part_a").as("pa"), col("part_b").as("pb"))
      .localCheckpoint(eager = false)
    val adj = e
      .select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e.select(col("pb").as("u"), col("pa").as("v")))
    val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
    val cn = adj
      .select(col("u"), col("v").as("x"))
      .join(adj.select(col("u"), col("v").as("y")), Seq("u"))
      .filter(col("x") < col("y"))
      .select(col("x").as("pa"), col("y").as("pb"))
      .join(e, Seq("pa", "pb"), "left_semi")
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("cn"))
    e.join(cn, Seq("pa", "pb"), "left")
      .na
      .fill(0L, Seq("cn"))
      .join(deg.select(col("u").as("pa"), col("deg").as("deg_a")), "pa")
      .join(deg.select(col("u").as("pb"), col("deg").as("deg_b")), "pb")
      .select(
        col("pa"),
        col("pb"),
        col("deg_a"),
        col("deg_b"),
        col("cn"),
        expr("""CAST(CASE WHEN deg_a + deg_b - 2 - cn > 0
                     THEN cn * 1000000 div (deg_a + deg_b - 2 - cn)
                     ELSE 0 END AS BIGINT)""").as("emb_e6"))
      .orderBy(col("emb_e6").desc, col("pa"), col("pb"))
      .limit(topK)
  }

  /** #393 AOV mix-shift decomposition (the BI "mix vs rate" analysis:
    * each month-over-month change in average order value split, per
    * market segment, into a MIX effect — the segment's order-share
    * moved — and a RATE effect — the segment's own AOV moved — the
    * first question asked whenever a topline average moves: "did the
    * business change, or did the mix?"; #363 decomposes revenue by
    * part price×volume, this decomposes the AVERAGE by segment
    * share×rate). Laspeyres-mix / current-weight-rate split, exact in
    * rationals: Δ(S_i/N) = (n1_i·N0 − n0_i·N1)·S0_i/(N0·N1·n0_i)
    * [mix] + (S1_i·n0_i − S0_i·n1_i)/(N1·n0_i) [rate] telescopes
    * with zero slack; on the e4 grid each term is ONE sign-factored
    * truncating division of a DECIMAL(38,0) product (the n·N·S·10⁴
    * numerator crosses 2⁶³ at sf0.1 already), so the only slack is
    * the documented ≤2-quanta truncation residual, emitted as its own
    * column and spec-pinned. Segments present in only one month carry
    * their whole contribution as status 'new'/'gone' (the #363
    * new/churned morphology; a base rate for them does not exist).
    * One (month, segment) aggregate + one shifted full-outer join +
    * two broadcast month-total joins; ≤months×segments rows.
    */
  def mixShift(spark: SparkSession, dir: String): DataFrame = {
    val cm = Tables
      .orders(spark, dir)
      .join(
        Tables.customer(spark, dir).select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey")
      .select(
        col("c_mktsegment").as("segment"),
        expr(
          "CAST(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT)")
          .as("m"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("m", "segment")
      .agg(count(lit(1)).as("n"), sum("c").as("s"))
      .localCheckpoint(eager = false)
    val tot = cm.groupBy("m").agg(sum("n").as("nt"), sum("s").as("st"))
    val months = tot.select("m")
    val valid = months.join(months.select((col("m") - 1).as("m")), Seq("m"), "left_semi")
    val nxt = cm.select(
      col("segment"),
      (col("m") - 1).as("m"),
      col("n").as("n1"),
      col("s").as("s1"))
    cm.withColumnRenamed("n", "n0")
      .withColumnRenamed("s", "s0")
      .join(nxt, Seq("m", "segment"), "full_outer")
      .join(valid, Seq("m"), "left_semi")
      .join(broadcast(tot.select(col("m"), col("nt").as("nt0"), col("st").as("st0"))), "m")
      .join(
        broadcast(tot.select((col("m") - 1).as("m"), col("nt").as("nt1"))),
        "m")
      .na
      .fill(0L, Seq("n0", "n1", "s0", "s1"))
      .select(
        col("m"),
        col("segment"),
        col("n0"),
        col("n1"),
        col("s0").as("s0_c"),
        col("s1").as("s1_c"),
        expr("""CASE WHEN n0 > 0 AND n1 > 0 THEN 'both'
                     WHEN n0 = 0 THEN 'new' ELSE 'gone' END""").as("status"),
        // sign-factored truncating e4 terms; NULL outside 'both'
        expr("""CASE WHEN n0 > 0 AND n1 > 0 THEN
                  CAST((CASE WHEN (CAST(n1 AS DECIMAL(38,0)) * nt0 - CAST(n0 AS DECIMAL(38,0)) * nt1) * s0 < 0
                        THEN -1 ELSE 1 END)
                     * (abs((CAST(n1 AS DECIMAL(38,0)) * nt0 - CAST(n0 AS DECIMAL(38,0)) * nt1) * s0) * 10000
                        div (CAST(nt0 AS DECIMAL(38,0)) * nt1 * n0)) AS BIGINT)
                END""").as("mix_e4"),
        expr("""CASE WHEN n0 > 0 AND n1 > 0 THEN
                  CAST((CASE WHEN CAST(s1 AS DECIMAL(38,0)) * n0 - CAST(s0 AS DECIMAL(38,0)) * n1 < 0
                        THEN -1 ELSE 1 END)
                     * (abs(CAST(s1 AS DECIMAL(38,0)) * n0 - CAST(s0 AS DECIMAL(38,0)) * n1) * 10000
                        div (CAST(nt1 AS DECIMAL(38,0)) * n0)) AS BIGINT)
                END""").as("rate_e4"),
        expr("""CAST((CASE WHEN CAST(s1 AS DECIMAL(38,0)) * nt0 - CAST(s0 AS DECIMAL(38,0)) * nt1 < 0
                      THEN -1 ELSE 1 END)
                   * (abs(CAST(s1 AS DECIMAL(38,0)) * nt0 - CAST(s0 AS DECIMAL(38,0)) * nt1) * 10000
                      div (CAST(nt0 AS DECIMAL(38,0)) * nt1)) AS BIGINT)""")
          .as("dcontrib_e4"))
      .withColumn(
        "resid_e4",
        when(col("status") === "both",
          col("dcontrib_e4") - col("mix_e4") - col("rate_e4")))
  }

  /** #387 Syntetos–Boylan demand classification (the SBC quadrants —
    * Syntetos, Boylan & Croston 2005): each part classified smooth /
    * intermittent / erratic / lumpy from ADI (mean inter-demand
    * interval) vs the 1.32 cutoff and CV² (squared coefficient of
    * variation of daily demand sizes) vs 0.49 — the decision table
    * that says WHICH forecaster to run (#316's Croston only earns its
    * keep in the intermittent/lumpy quadrants; smooth parts belong to
    * #250's Holt). Both tests exact by cross-multiplication on the
    * integer grid: ADI = span/(n−1) < 1.32 becomes span·100 <
    * 132·(n−1), CV² = (nΣq²−S²)/S² < 0.49 becomes (nΣq²−S²)·100 <
    * 49·S², every product through DECIMAL(38,0)↔HUGEINT. One
    * (part, day) aggregate + one per-part moment fold + a ≤4-row
    * quadrant rollup (with total demand so the rollup shows where the
    * VOLUME sits, not just the part count); parts with a single
    * demand day have no interval — reported as their own
    * 'single_day' class rather than silently dropped.
    */
  def demandClasses(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .lineitem(spark, dir)
      .select(
        col("l_partkey"),
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"))
      .groupBy("l_partkey", "day")
      .agg(sum("q").as("q"))
    val per = daily
      .groupBy("l_partkey")
      .agg(
        count(lit(1)).as("n"),
        (max("day") - min("day")).as("span"),
        sum("q").as("s"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sq2"))
    per
      .select(
        col("l_partkey"),
        col("s"),
        expr("""CASE WHEN n < 2 THEN 'single_day'
                WHEN CAST(span AS DECIMAL(38,0)) * 100 < 132 * (n - 1) THEN
                  CASE WHEN (n * sq2 - CAST(s AS DECIMAL(38,0)) * s) * 100
                            < 49 * CAST(s AS DECIMAL(38,0)) * s
                       THEN 'smooth' ELSE 'erratic' END
                ELSE
                  CASE WHEN (n * sq2 - CAST(s AS DECIMAL(38,0)) * s) * 100
                            < 49 * CAST(s AS DECIMAL(38,0)) * s
                       THEN 'intermittent' ELSE 'lumpy' END END""").as("quadrant"))
      .groupBy("quadrant")
      .agg(count(lit(1)).as("n_parts"), sum("s").as("total_qty"))
  }

  def purchaseStreaks(spark: SparkSession, dir: String): DataFrame = {
    val cm = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        expr(
          "CAST(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT)")
          .as("m"))
      .distinct()
    val w = Window.partitionBy("o_custkey").orderBy("m")
    cm.withColumn("island", col("m") - dense_rank().over(w))
      .groupBy("o_custkey", "island")
      .agg(count(lit(1)).as("len"))
      .groupBy("o_custkey")
      .agg(max("len").as("longest"))
      .groupBy(col("longest").as("streak_months"))
      .agg(count(lit(1)).as("n_customers"))
  }
}
