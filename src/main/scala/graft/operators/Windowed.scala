package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Lineage
import graft.core.Lineage.CutOps
import graft.plans.LexExtreme.lexMax

import graft.core.Tables._
import graft.functions.StableNum._

/** Event-time window operators over the `events` stream table — the
  * PopularPlaces sliding-window family (datastream_java/windows/
  * PopularPlaces.java:77-148) in its batch form. The identical
  * `window(...)` grouping expressions run unchanged under Structured
  * Streaming with `withWatermark` (see graft.streaming) — SURVEY §7.2.2's
  * "isolate window semantics from streaming semantics" step.
  *
  * Scale: `window()` is a generator + hash aggregate — one shuffle on
  * (window, key); Spark's partial aggregation collapses rows map-side
  * first. The reference's non-incremental full-window re-iteration
  * (RideCounter) is replaced by incremental agg for free (SURVEY §4).
  */
object Windowed {

  /** q227: freshness-decayed event leaderboard — per event type: raw
    * count, the exponentially-decayed count Σ cnt_day · 2^−age (daily
    * half-life, age in days behind the corpus' newest day), and both
    * ranks side by side. The recency dial raw counts don't have: a type
    * that dominated last month but died yesterday outranks a surging
    * one on raw volume yet drops below it decayed — the ordering a
    * trending feed, cache-eviction policy, or freshness-weighted
    * mixture actually wants.
    *
    * Exactness: the decayed sum is computed ENTIRELY in integers —
    * term = cnt << (H − min(age, H)) with horizon H = 32, summed as
    * longs (order-free), then ONE division by 2^H — so both engines
    * hash-match bit-for-bit; no floating-point accumulation ordering
    * anywhere. Ages beyond H collapse to the 2^−H floor (weight ≈ 0,
    * kept nonzero so raw mass is never silently dropped). Contract:
    * per-(type, day) counts < 2^30, i.e. the shifted terms stay inside
    * a long — holds to ~10⁹ events per type-day.
    *
    * Shape: one (type, day) map-side-combinable aggregate (the only
    * corpus-scale pass), two driver scalars off it, then windows over
    * the |types|-row table. At 100 TB: the daily grid is
    * |types|·|days| rows; everything after is free.
    */
  def decayedLeaderboard(spark: SparkSession, d: String,
      horizon: Int = 32): DataFrame = {
    import spark.implicits._
    val grid = events(spark, d)
      .select($"event_type", to_date($"ts").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("cnt"))
    val maxDay = grid.agg(max($"day")).head().getDate(0)
    val per = grid.select($"event_type", $"cnt",
        least(datediff(lit(maxDay), $"day"), lit(horizon)).as("age"))
      .groupBy($"event_type")
      .agg(sum($"cnt").as("raw_cnt"),
        sum($"cnt" * expr(s"shiftleft(CAST(1 AS BIGINT), $horizon - age)"))
          .as("dec_num"))
    val byDec = Window.orderBy($"dec_num".desc, $"event_type")
    val byRaw = Window.orderBy($"raw_cnt".desc, $"event_type")
    per.select($"event_type", $"raw_cnt",
        round($"dec_num".cast("double") / lit(math.pow(2.0, horizon))
          * lit(1000.0)).cast("long").as("decayed_q3"),
        row_number().over(byRaw).cast("long").as("rank_raw"),
        row_number().over(byDec).cast("long").as("rank_decayed"))
  }

  /** Sliding event-time window (1 day / 6 h) count + exact value sum per
    * event type, with the popularity threshold ≥ 20
    * (PopularPlaces.java:58,83-88). Emits unix-second window bounds
    * (`window.getEnd` shape, PopularPlaces.java:139).
    */
  def slidingCounts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d)
      .groupBy(window($"ts", "1 day", "6 hours").as("w"), $"event_type")
      .agg(count(lit(1)).as("cnt"), stableSum($"value").as("sum_value"))
      .filter($"cnt" >= 20)
      .select(unix_timestamp($"w.start").as("w_start"),
        unix_timestamp($"w.end").as("w_end"),
        $"event_type", $"cnt", $"sum_value")
  }

  /** Tumbling 1-hour window per user — the degenerate sliding case
    * (SURVEY §2.6 note).
    */
  def tumblingUserCounts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d)
      .groupBy(window($"ts", "1 hour").as("w"), $"user_id")
      .agg(count(lit(1)).as("cnt"), stableSum($"value").as("sum_value"))
      .select(unix_timestamp($"w.start").as("w_start"), $"user_id", $"cnt", $"sum_value")
  }

  /** Native session windows (session_window generator): 30-min-gap
    * sessions per user via Spark's built-in session aggregation — the
    * same sessions the lag+running-sum formulation (sessionize) derives
    * relationally; the DuckDB oracle uses the relational form, so this
    * query cross-checks Spark's native operator against first principles.
    * The same expression runs under Structured Streaming with a
    * watermark (state merges sessions incrementally).
    */
  def sessionWindows(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d)
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), stableSum($"value").as("sum_value"))
      .select($"user_id", unix_micros($"w.start").as("session_start_us"),
        $"n_events", $"sum_value")
  }

  /** Sessionization: split each user's event stream at >30 min gaps via
    * lag + running sum of gap markers — the standard scalable formulation
    * (one shuffle on user_id; both window functions reuse the same sort).
    * Timestamps compared in integer microseconds for cross-engine parity.
    */
  def sessionize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"tsu", $"event_id")
    events(spark, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tsu"), $"value")
      .withColumn("gap",
        when($"tsu" - lag($"tsu", 1).over(byUser) > lit(1800L * 1000000L), 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum($"gap").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_seq")
      .agg(count(lit(1)).as("n_events"),
        min($"tsu").as("session_start_us"),
        (max($"tsu") - min($"tsu")).as("duration_us"),
        stableSum($"value").as("sum_value"))
  }

  /** q113: strictly-ordered conversion funnel view → click → purchase
    * with a per-step conversion window (default 24 h): stage 1 = the
    * user's first view; stage 2 = the first click strictly after it and
    * within the window; stage 3 = the first purchase strictly after that
    * click and within the window. Emits one row per funnel-entering
    * user: (user_id, stage, t1, t2, t3), unreached steps as -1.
    *
    * First-occurrence semantics (not "any matching triple") keep the
    * result deterministic and each step a plain min-aggregate — the form
    * every funnel warehouse query takes.
    *
    * Scale: three filtered min-aggregates chained by equi-joins on
    * user_id — partial aggregation collapses each user's events map-side,
    * and every join key is the natural user_id shuffle; no window over a
    * global ordering, no per-user event collection.
    */
  def funnelStages(spark: SparkSession, d: String,
      windowUs: Long = 24L * 3600 * 1000000): DataFrame = {
    import spark.implicits._
    val e = events(spark, d)
      .select($"user_id", unix_micros($"ts").as("tsu"), $"event_type")
    val f1 = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"tsu").as("t1"))
    val f2 = e.join(f1, "user_id")
      .filter($"event_type" === "click" && $"tsu" > $"t1" &&
        $"tsu" <= $"t1" + lit(windowUs))
      .groupBy($"user_id").agg(min($"tsu").as("t2"))
    val f3 = e.join(f2, "user_id")
      .filter($"event_type" === "purchase" && $"tsu" > $"t2" &&
        $"tsu" <= $"t2" + lit(windowUs))
      .groupBy($"user_id").agg(min($"tsu").as("t3"))
    f1.join(f2, Seq("user_id"), "left")
      .join(f3, Seq("user_id"), "left")
      .select($"user_id",
        (lit(1L) + $"t2".isNotNull.cast("long") + $"t3".isNotNull.cast("long"))
          .as("stage"),
        $"t1", coalesce($"t2", lit(-1L)).as("t2"),
        coalesce($"t3", lit(-1L)).as("t3"))
  }

  /** q173: funnel conversion latency — for fully-converted users
    * (q113 stage 3), the exact-microsecond view→click, click→purchase
    * and view→purchase durations, summarized per metric with exact
    * middle-rank p50/p90 picks (the q129 rank convention — no
    * interpolation) and a single-division mean. The "how long does the
    * funnel take" report that decides attribution windows and session
    * gaps.
    *
    * Scale: rides q113's three chained min-aggregates; the converted-
    * user table is pinned once by `Lineage.counted`, the three metrics
    * UNPIVOT into one (metric, dur) stream, and ONE `Ranks.groupRowNumber`
    * machine ranks all three (metric is a group key) — no metric is
    * ever one sort partition, one rank machine instead of three, and
    * the funnel lineage runs exactly once.
    */
  def funnelLatency(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pin = Lineage.counted(funnelStages(spark, d).filter($"stage" === 3L)
      .select($"user_id", ($"t2" - $"t1").as("d_vc"),
        ($"t3" - $"t2").as("d_cp"), ($"t3" - $"t1").as("d_vp")))
    val conv = pin.df
    val stacked = conv.select($"user_id", expr(
      """stack(3,
        |  'view_to_click', d_vc,
        |  'click_to_purchase', d_cp,
        |  'view_to_purchase', d_vp) AS (metric, dur_us)""".stripMargin))
    val durs = Ranks.groupRowNumberPinned(stacked, 3L * pin.rows, "rn",
      Seq($"metric"), Seq($"dur_us", $"user_id"))
    // ONE map-side-combined aggregate carries counts, extremes, sums
    // AND both percentile picks (`max(when(rn = target))` — the q174
    // trick); every metric holds the pin's n rows, so n is a literal
    durs.withColumn("n", lit(pin.rows))
      .groupBy($"metric")
      .agg(count(lit(1)).as("n_converted"), min($"dur_us").as("min_us"),
        max(when($"rn" === expr("(50 * n + 99) div 100"), $"dur_us"))
          .as("p50_us"),
        max(when($"rn" === expr("(90 * n + 99) div 100"), $"dur_us"))
          .as("p90_us"),
        max($"dur_us").as("max_us"), sum($"dur_us").as("sum_us"))
      .select($"metric", $"n_converted", $"min_us", $"p50_us", $"p90_us",
        $"max_us",
        ($"sum_us".cast("double") / $"n_converted".cast("double")).as("mean_us"))
  }

  /** q174: session rollup — the corpus-level sessionization datasheet
    * off q28's sessions: session/user counts, bounce rate (single-event
    * sessions, exact 1e6 integer ratio), exact middle-rank p50/p90 of
    * events-per-session and p50 duration, single-division means. The
    * report that tunes the 30-minute gap itself.
    *
    * Scale: sessions are already the per-user aggregate; the two
    * percentile metrics UNPIVOT into one (metric, v) stream ranked by
    * ONE `Ranks.globalRank` machine (each metric contributes exactly n
    * rows under a metric-first total order, so per-metric ranks are
    * global ranks minus a KNOWN offset — no per-group offset join),
    * then a single global aggregate computes counts, sums, bounce and
    * the three percentile picks (`max(when(gr = target))`) in one
    * map-side-combined exchange. The session table is pinned by
    * `Lineage.counted` ONCE, so the sessionize lineage (events scan +
    * user window) runs exactly once.
    */
  /** q234: inter-arrival burstiness per event type — Goh & Barabási's
    * B = (σ−μ)/(σ+μ) over every user's consecutive same-type event
    * gaps. THE automation signal the count panels (q153 anomaly, q159
    * growth, q214 trending) can't see: human activity is bursty
    * (B > 0 — long silences, dense flurries), cron-like bot traffic is
    * periodic (B < 0, σ ≪ μ), and a type whose B collapses toward −1
    * mid-corpus is being farmed. Read before trusting events-derived
    * training signals (q113 funnels, q120 retention, q135 dwell).
    *
    * Exactness: multiply B's numerator and denominator by n: with
    * D = n·Σg² − (Σg)² (exact decimal(38,0) — n²σ² by the computational
    * identity) B = (√D − Σg)/(√D + Σg) — two exact integers into one
    * sqrt and one division, the whole FP tail mirrored in the oracle.
    * Gap multiset is tie-order invariant (equal timestamps contribute
    * the same zero gaps either way); the lag order still pins event_id
    * so the PLAN is deterministic, not just the answer.
    *
    * Shape: one lag window per (user, type) — key-bounded partitions,
    * the blessed shape — then ONE |types|-row aggregate with map-side
    * combine. Nothing corpus-sized shuffles twice, nothing collected.
    */
  def burstiness(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts_us", $"event_id")
    val gaps = events(spark, d)
      .select($"user_id", $"event_type", $"event_id",
        unix_micros($"ts").as("ts_us"))
      .withColumn("gap", $"ts_us" - lag($"ts_us", 1).over(w))
      .filter($"gap".isNotNull)
    gaps.groupBy($"event_type").agg(
        count(lit(1)).as("n_gaps"),
        countDistinct($"user_id").as("n_users"),
        sum($"gap".cast(dec38)).as("sg"),
        sum(($"gap".cast(dec38) * $"gap".cast(dec38))).as("sgg"))
      .select($"event_type", $"n_users", $"n_gaps",
        ($"sg".cast("double") / $"n_gaps".cast("double")).as("mean_gap_us"),
        when($"n_gaps" > 1 && $"sg" > 0, {
          val dd = ($"n_gaps".cast(dec38) * $"sgg" - $"sg" * $"sg")
            .cast("double")
          (sqrt(dd) - $"sg".cast("double")) /
            (sqrt(dd) + $"sg".cast("double"))
        }).otherwise(lit(0.0)).as("burstiness"))
  }

  /** q246: CUSUM change-point locator per event type — the day k*
    * maximizing |S_k·n − k·S_n| over the daily count series (the
    * classic cumulative-sum deviation from the constant-rate line,
    * Page's statistic in its scan form), with the exact integer
    * statistic and the rate levels before/after the located break.
    * The WHEN complement of q153's per-day z-anomalies and q178's
    * distribution drift: a level shift too small for any single day to
    * flag accumulates linearly in the CUSUM and the argmax names the
    * day the regime changed (deploy, crawler change, bot onset) — the
    * first question an incident review asks.
    *
    * Exactness: the statistic is cross-multiplied |S_k·n − k·S_n| in
    * decimal(38,0) — no per-day division, so the supremum AND its
    * argmax are value-exact (the q232 KS discipline on the time axis);
    * ties break to the earliest day; the two rate columns are the only
    * divisions, quantized.
    *
    * Shape: corpus → (type, day) counts (map-side combine), ONE
    * calendar-bounded running-sum window per type, a |types|-row
    * struct-max aggregate + a broadcast join back for the break-day
    * levels. Never corpus rows past the first aggregate.
    */
  def cusumChangePoint(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // pinned: grid feeds the running-sum window, the per-type totals
    // AND the break-day join-back — uncut, each reference re-scanned
    // the event log (guide §2.4). |types × days| rows.
    val grid = events(spark, d)
      .select($"event_type", to_date($"ts").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("cnt"))
      .cutLineage()
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.select($"event_type", $"day", $"cnt",
      sum($"cnt").over(w).as("sk"),
      count(lit(1)).over(w).as("k"))
    val tot = grid.groupBy($"event_type")
      .agg(sum($"cnt").as("sn"), count(lit(1)).as("n_days"))
    val scored = cum.join(broadcast(tot), "event_type")
      .select($"event_type", $"day", $"sk", $"k", $"sn", $"n_days",
        abs($"sk".cast(dec38) * $"n_days".cast(dec38)
          - $"k".cast(dec38) * $"sn".cast(dec38)).as("dev"))
    val best = scored.groupBy($"event_type").agg(
      lexMax(struct($"dev", expr("unix_date(day) * -1").as("nd"),
        $"sk", $"k")).as("b"))
    best
      .join(broadcast(tot), "event_type")
      .select($"event_type", $"n_days", $"sn".as("n_events"),
        expr("date_from_unix_date(CAST(-b.nd AS INT))").as("break_day"),
        $"b.dev".cast("long").as("cusum_dev"),
        round($"b.sk".cast("double") / $"b.k".cast("double")
          * lit(1000.0)).cast("long").as("rate_before_q3"),
        when($"n_days" > $"b.k",
          round(($"sn" - $"b.sk").cast("double")
            / ($"n_days" - $"b.k").cast("double") * lit(1000.0))
            .cast("long")).otherwise(lit(0L)).as("rate_after_q3"))
  }

  /** q245: session-gap sensitivity sweep — session counts and mean
    * session size at gap thresholds τ ∈ {5, 15, 30, 60} minutes, from
    * ONE gap scan: a session breaks at gap > τ, so
    * n_sessions(τ) = n_active_users + |{gaps > τ}| — the whole sweep is
    * four conditional counters over the same lag column, no
    * re-sessionization per τ (the q205 threshold-sweep discipline
    * applied to q28). The tuning table read BEFORE trusting any
    * session-derived signal (q28/q41/q135/q150/q174 all fix τ = 30 min):
    * if n_sessions still moves steeply at 30, the corpus has no
    * natural gap and "session" is an artifact of the constant.
    *
    * Exactness: gap comparisons are exact integer µs (strict >, q28's
    * convention); the one division per τ is the final quantized mean.
    * Shape: one (user)-key-bounded lag window, one 4-row aggregate.
    */
  def sessionGapSweep(spark: SparkSession, d: String,
      gapsMin: Seq[Int] = Seq(5, 15, 30, 60)): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val g = events(spark, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
      .withColumn("gap", $"ts_us" - lag($"ts_us", 1).over(byUser))
    val tot = g.agg(count(lit(1)).as("n_events"),
      countDistinct($"user_id").as("n_users"))
    g.filter($"gap".isNotNull)
      .select(explode(typedLit(gapsMin.map(_.toLong))).as("gap_min"), $"gap")
      .groupBy($"gap_min")
      .agg(sum(when($"gap" > $"gap_min" * lit(60000000L), 1L).otherwise(0L))
        .as("n_breaks"))
      .crossJoin(broadcast(tot))
      .select($"gap_min", $"n_users", ($"n_users" + $"n_breaks").as("n_sessions"),
        round($"n_events".cast("double")
          / ($"n_users" + $"n_breaks").cast("double") * lit(1000.0))
          .cast("long").as("mean_events_q3"))
  }

  /** q239: Theil–Sen robust trend per event type — the median of all
    * pairwise day-to-day slopes over the (day, count) grid. The robust
    * TREND complement of q121's robust location: q159's period ratios
    * and q153's z-scores both break on one anomalous day (a single
    * spike drags an OLS slope arbitrarily), while the pairwise-slope
    * median has a 29% breakdown point — the "is this type actually
    * growing" number a capacity planner reads next to the anomaly
    * panel, immune to the very anomalies q153 flags.
    *
    * Exactness: each pairwise slope is ONE correctly-rounded division
    * of two exact integers quantized to 1e9; the median is the LOWER
    * median (rank (n+1) div 2 — integer-exact selection, no averaging
    * of middle elements), picked under a fully deterministic
    * (slope, day_a, day_b) order.
    *
    * Shape: the corpus collapses to the (type, day) count grid first
    * (map-side combine); the pairwise join and the rank window run over
    * THAT — |days|² per type, calendar-bounded (≈2k rows per type-year)
    * — the blessed windows-over-aggregates shape, never corpus rows.
    */
  def theilSenTrend(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val grid = events(spark, d)
      .select($"event_type", to_date($"ts").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("cnt"))
    val nd = grid.groupBy($"event_type").agg(count(lit(1)).as("n_days"))
    val pairs = grid.as("a").join(grid.as("b"),
        $"a.event_type" === $"b.event_type" && $"a.day" < $"b.day")
      .select($"a.event_type".as("event_type"), $"a.day".as("da"),
        $"b.day".as("db"),
        round(($"b.cnt" - $"a.cnt").cast("double")
          / datediff($"b.day", $"a.day").cast("double")
          * lit(1000000000.0)).cast("long").as("slope_q9"))
    val w = Window.partitionBy($"event_type")
      .orderBy($"slope_q9", $"da", $"db")
    pairs
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("np", count(lit(1)).over(
        Window.partitionBy($"event_type")))
      .filter($"rk" === expr("(np + 1) div 2"))
      .join(broadcast(nd), "event_type")
      .select($"event_type", $"n_days", $"np".as("n_pairs"),
        $"slope_q9".as("sen_slope_q9"))
  }

  def sessionStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pin = Lineage.counted(sessionize(spark, d))
    val s = pin.df
    // n as a driver scalar, counted by the pin's own job (the same A3
    // closed-over-scalar shape the rank machine uses for its offsets):
    // it prices the percentile TARGET ranks as plan literals, so no
    // scalar subquery or 1-row crossJoin has to carry them
    val n = pin.rows
    val t50 = (50L * n + 99L) / 100L
    val t90 = (90L * n + 99L) / 100L
    // both percentile metrics UNPIVOT into one (metric, v) stream ranked
    // by ONE global rank machine. Each metric contributes EXACTLY n rows
    // and 'duration' < 'events' under the total order, so the per-metric
    // rank offsets are KNOWN A PRIORI — duration owns global ranks 1..n,
    // events n+1..2n — and groupRowNumber's offset join disappears.
    val stacked = s.select($"user_id", $"session_seq", expr(
      "stack(2, 'events', n_events, 'duration', duration_us) AS (metric, v)"))
    val ranked = Ranks.globalRankPinned(stacked, 2L * n, "gr",
      $"metric", $"v", $"user_id", $"session_seq")
    // ONE aggregate computes the whole datasheet: counts/sums read the
    // events rows (v IS n_events there; session_seq = 0 marks each user
    // exactly once, so n_users needs no countDistinct expand), and the
    // three percentile picks are max(when(gr = target)). After the rank's
    // range shuffle the query is one map-side-combined exchange, 0 joins
    // (was: a groupRowNumber offset join + 4 one-row crossJoins).
    val out = ranked.agg(
        sum(when($"metric" === "events", 1L).otherwise(0L)).as("n_sessions"),
        sum(when($"metric" === "events" && $"session_seq" === 0L, 1L)
          .otherwise(0L)).as("n_users"),
        sum(when($"metric" === "events" && $"v" === 1L, 1L).otherwise(0L))
          .as("bounce_n"),
        sum(when($"metric" === "events", $"v").otherwise(0L)).as("sum_events"),
        sum(when($"metric" === "duration", $"v").otherwise(0L))
          .as("sum_duration_us"),
        max(when($"gr" === lit(n + t50), $"v")).as("p50_events"),
        max(when($"gr" === lit(n + t90), $"v")).as("p90_events"),
        max(when($"gr" === lit(t50), $"v")).as("p50_duration_us"))
      .select($"n_sessions", $"n_users", $"bounce_n",
        expr("bounce_n * 1000000L div n_sessions").as("bounce_q6"),
        $"p50_events", $"p90_events", $"p50_duration_us",
        ($"sum_events".cast("double") / $"n_sessions".cast("double"))
          .as("mean_events"),
        ($"sum_duration_us".cast("double") / $"n_sessions".cast("double"))
          .as("mean_duration_us"))
    // empty corpus: the previous form returned ZERO rows (its percentile
    // branches were empty) — keep that contract instead of emitting a
    // 1-row NaN datasheet; the literal-false filter prunes the plan
    if (n == 0L) out.filter(lit(false)) else out
  }

  /** q177: watermark advisor — the event-time disorder audit that picks
    * `withWatermark`'s delay: per event-type stream, each row's lateness
    * vs the running event-time max over the arrival order (event_id —
    * the ingestion sequence the sources contract), then the exact
    * out-of-order fraction and middle-rank p50/p99/max lateness. A
    * watermark of ~p99 lateness drops ≤1 % of rows; `max_late_us` is
    * the zero-loss setting. The q153/q174 percentile discipline on the
    * one streaming knob every deployment has to choose.
    *
    * Scale (the round-10 verdict's ask, implemented): the running
    * event-time max rides `Ranks.groupRunningMaxExcl` (the q53-style
    * decomposition — range cells over the arrival order, per-cell
    * maxes, a tiny carried-offset scan, in-cell running maxes) and the
    * percentile picks ride `Ranks.groupRowNumber`, so a hot event type
    * is NEVER one sort partition. Values are bit-identical to the
    * single-window form (`watermarkAdvisorWindow`, the spec's equality
    * reference); the DuckDB oracle is unchanged. The streaming twin
    * (`EventStreams.latenessStream`) keeps the state-store shape.
    */
  def watermarkAdvisor(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // ONE counted cut of the events projection serves both scans: the
    // running max and the lateness rank both take its row count
    val pin = Lineage.counted(events(spark, d)
      .select($"event_type", $"event_id", unix_micros($"ts").as("tsu")))
    val late = Ranks.groupRunningMaxExclPinned(pin.df, pin.rows, "__rmax",
        Seq($"event_type"), Seq($"event_id"), $"tsu")
      .withColumn("late_us",
        greatest(lit(0L), coalesce($"__rmax", $"tsu") - $"tsu"))
      .drop("__rmax")
    // the rank carries each row's per-type count n, so every ranked row
    // knows its percentile targets; counts, the out-of-order sum, the
    // max AND both picks then fold in ONE map-side-combined aggregate
    // (the q174 trick)
    Ranks.groupRowNumberPinned(late, pin.rows, "rn",
        Seq($"event_type"), Seq($"late_us", $"event_id"), sizeCol = Some("n"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(($"late_us" > 0L).cast("long")).as("n_out_of_order"),
        max(when($"rn" === expr("(50 * n + 99) div 100"), $"late_us"))
          .as("p50_late_us"),
        max(when($"rn" === expr("(99 * n + 99) div 100"), $"late_us"))
          .as("p99_late_us"),
        max($"late_us").as("max_late_us"))
      .select($"event_type", $"n_events", $"n_out_of_order",
        expr("n_out_of_order * 1000000L div n_events").as("ooo_q6"),
        $"p50_late_us", $"p99_late_us", $"max_late_us")
  }

  /** The per-type single-window form of `watermarkAdvisor` — the
    * directly-oracle-mirrorable rung and the spec's equality reference
    * (a hot type is one sort partition at corpus scale).
    */
  private[graft] def watermarkAdvisorWindow(spark: SparkSession,
      d: String): DataFrame = {
    import spark.implicits._
    val arr = Window.partitionBy($"event_type").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = events(spark, d)
      .select($"event_type", $"event_id", unix_micros($"ts").as("tsu"))
      .withColumn("late_us",
        greatest(lit(0L), coalesce(max($"tsu").over(arr), $"tsu") - $"tsu"))
    val rk = Window.partitionBy($"event_type").orderBy($"late_us", $"event_id")
    val ranked = late
      .withColumn("rn", row_number().over(rk).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
    val p50 = ranked.filter($"rn" === expr("(50 * n + 99) div 100"))
      .select($"event_type", $"late_us".as("p50_late_us"))
    val p99 = ranked.filter($"rn" === expr("(99 * n + 99) div 100"))
      .select($"event_type", $"late_us".as("p99_late_us"))
    late.groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(($"late_us" > 0L).cast("long")).as("n_out_of_order"),
        max($"late_us").as("max_late_us"))
      .join(p50, "event_type").join(p99, "event_type")
      .select($"event_type", $"n_events", $"n_out_of_order",
        expr("n_out_of_order * 1000000L div n_events").as("ooo_q6"),
        $"p50_late_us", $"p99_late_us", $"max_late_us")
  }

  /** q178: population-stability drift monitor (PSI) — each week's
    * `value` distribution vs the FIRST observed week's, over 16
    * fixed-range bins with add-one smoothing (zero bins would blow up
    * the log; Laplace is the standard PSI convention): PSI =
    * Σ (p−q)·ln(p/q), each term one identical-shape double chain over
    * exact integer bin counts, 1e6-quantized and summed exactly (the
    * q96 KL discipline). PSI > 0.2 is the classic "investigate" flag —
    * the ML-ops feature-drift monitor beside q153's volume monitor.
    *
    * Scale: one (week, bin) hash aggregate with map-side combine; the
    * PSI join runs on the ≤ weeks·bins grid. Bin bounds are one
    * 2-scalar driver-bounded aggregate (fixed a priori in a streaming
    * deployment — the q129 convention).
    */
  def valueDrift(spark: SparkSession, d: String, nBins: Int = 16,
      threshold: Double = 0.2): DataFrame = {
    import spark.implicits._
    val e = events(spark, d).select(
      expr("(unix_micros(ts) div 1000000L) div 604800L").as("week_id"),
      $"value")
    val b = e.agg(min($"value"), max($"value"), min($"week_id")).head()
    // empty events → NULL bounds; zeros are inert (no row is binned)
    val (lo, hi, w0) = (graft.core.Scalars.doubleAt(b, 0, 0.0),
      graft.core.Scalars.doubleAt(b, 1, 0.0), graft.core.Scalars.longAt(b, 2, 0L))
    // a constant column would make the bin expression 0/0 = NaN (silent
    // null bins in Spark; the q129 batch special-cases mx == mn the same
    // way): pin the degenerate range to one bin on both engines
    val span = if (hi == lo) 1.0 else hi - lo
    val bin = least(lit(nBins - 1L), greatest(lit(0L),
      floor(($"value" - lo) / span * nBins).cast("long")))
    val counts = e.select($"week_id", bin.as("bin"))
      .groupBy($"week_id", $"bin").agg(count(lit(1)).as("c"))
    val weeks = counts.select($"week_id").distinct()
    val grid = weeks.crossJoin(
      spark.range(nBins).select($"id".as("bin")))
    val filled = grid.join(counts, Seq("week_id", "bin"), "left")
      .select($"week_id", $"bin", coalesce($"c", lit(0L)).as("c"))
    val totals = filled.groupBy($"week_id").agg(sum($"c").as("n"))
    val base = filled.filter($"week_id" === w0)
      .select($"bin", $"c".as("cb"))
    val nb = totals.filter($"week_id" === w0)
      .select($"n".as("nbase"))
    val joined = filled.join(totals, "week_id")
      .join(broadcast(base), "bin").crossJoin(broadcast(nb))
    val pw = ($"c" + lit(1L)).cast("double") /
      ($"n" + lit(nBins.toLong)).cast("double")
    val pb = ($"cb" + lit(1L)).cast("double") /
      ($"nbase" + lit(nBins.toLong)).cast("double")
    joined
      .select($"week_id", $"n",
        round((pw - pb) * log(pw / pb) * lit(1e6)).cast("long").as("termq"))
      .groupBy($"week_id")
      .agg(max($"n").as("n_events"), sum($"termq").as("psi_q"))
      .select($"week_id", $"n_events", $"psi_q",
        ($"psi_q".cast("double") / 1e6).as("psi"),
        ($"psi_q".cast("double") / 1e6 > threshold).as("is_drifted"))
  }

  /** q120: daily retention cohorts — each user joins the cohort of
    * their first-ever event's epoch day; a cohort's day-N retention is
    * the fraction of its users active (≥1 event) N days later. The
    * standard warehouse cohort matrix: (cohort_day, offset_day, n_users,
    * cohort_size, retention). Daily, not weekly: the fixture's 30-day
    * span with always-on users makes weekly cells constant-1.0, while
    * per-user daily activity is sparse enough to vary.
    *
    * Day ids are exact integral division of unix micros (`div`, floor
    * for the always-positive timestamps — never a double division that
    * could mis-floor at a day boundary); retention is the single
    * int/int double division.
    *
    * Scale: two user-key aggregates (first day, distinct active days)
    * on the SAME shuffle key, so the planner reuses one exchange; the
    * cohort matrix itself is days² rows — the final join is a broadcast
    * against the cohort-size table. No windows, no per-user collections.
    */
  def retentionCohorts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dayUs = 86400L * 1000000
    val e = events(spark, d)
      .select($"user_id", expr(s"unix_micros(ts) div ${dayUs}L").as("dy"))
    val firstDy = e.groupBy($"user_id").agg(min($"dy").as("cohort_day"))
    val act = e.join(firstDy, "user_id")
      .select($"user_id", $"cohort_day", ($"dy" - $"cohort_day").as("offset_day"))
      .distinct()
    val ret = act.groupBy($"cohort_day", $"offset_day")
      .agg(count(lit(1)).as("n_users"))
    val sizes = firstDy.groupBy($"cohort_day")
      .agg(count(lit(1)).as("cohort_size"))
    ret.join(sizes, "cohort_day")
      .select($"cohort_day", $"offset_day", $"n_users", $"cohort_size",
        ($"n_users".cast("double") / $"cohort_size".cast("double"))
          .as("retention"))
  }

  /** q128: first-order Markov transition matrix over per-user event
    * sequences — for every ordered pair of event types, how often type b
    * directly follows type a in some user's (ts, event_id)-ordered
    * stream, and the row-normalized transition probability. The
    * behavioral-analysis primitive under next-event prediction, funnel
    * discovery, and bot detection (uniform rows ⇒ no behavioral
    * structure).
    *
    * Determinism: the sequence order (ts, event_id) is a total order
    * (event_id unique), counts are exact integers, and the probability
    * is ONE double division of two exact integers — identical in both
    * engines. Scale: one shuffle on user_id for the lag window (the
    * per-user sort is per-partition, never global), then a (from, to)
    * aggregate with map-side combine onto |types|² ≤ tiny rows; the
    * row-normalizing window runs on that tiny table.
    */
  def eventTransitions(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val seqW = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val counts = events(spark, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(seqW))
      .filter($"prev".isNotNull)
      .groupBy($"prev".as("from_type"), $"event_type".as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("prob", $"cnt".cast("double") /
        sum($"cnt").over(Window.partitionBy($"from_type")).cast("double"))
  }

  /** q131: top-k 3-step behavioral paths — q128's transition idea one
    * order higher: how often each (a → b → c) event-type triple occurs
    * contiguously in a user's (ts, event_id)-ordered stream, top `k`
    * under the (cnt DESC, path ASC) total order. Funnel DISCOVERY (which
    * paths exist and dominate) where q113 measures one known funnel.
    *
    * Scale: the same single user-key shuffle as q128 — both lead()
    * offsets ride ONE window spec, so one Exchange + one per-partition
    * sort; the triple aggregate is ≤ |types|³ rows and the top-k is
    * TakeOrderedAndProject (per-partition heaps, never a global sort).
    */
  /** q135: inter-event dwell times — the gap between consecutive events
    * of the same (user, type) stream, aggregated per type: gap count,
    * mean (one exact-integer division), exact middle-rank median (the
    * q121 rank arithmetic — no percentile interpolation, so the oracle
    * is value-exact), and max. Gaps are unix-micros differences: exact
    * longs end to end. The sessionization/engagement primitive between
    * q28's gap-threshold sessions and q121's robust profiles.
    *
    * Scale: one (user, type) lag window (per-partition sort), then the
    * median rank window partitions by TYPE — five partitions here, and
    * at real cardinality the (gap, user, event) total order keeps it
    * deterministic; mean/max ride one hash aggregate.
    */
  def interEventGaps(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val seqW = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    val gaps = events(spark, d)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("prev", lag($"ts", 1).over(seqW))
      .filter($"prev".isNotNull)
      .select($"event_type", $"user_id", $"event_id",
        (unix_micros($"ts") - unix_micros($"prev")).as("gap"))
    // per-type median rank via the two-phase group rank — a hot event
    // type's gap population is never one sort partition above the dial;
    // BOTH the median and the summary stats then read the rank's counted
    // cut, so the per-user lag window runs exactly once. (gap, user, event) is
    // total → the row_number fast path (no tie-class aggregate/join)
    val rk = Ranks.groupRowNumber(gaps, "rn",
      Seq($"event_type"), Seq($"gap", $"user_id", $"event_id"),
      sizeCol = Some("n"))
    val stats = rk.groupBy($"event_type")
      .agg(count(lit(1)).as("n_gaps"),
        (sum($"gap").cast("double") / count(lit(1))).as("mean_gap_us"),
        max($"gap").as("max_gap_us"))
    // the rank's size column is the per-type n: no count join
    val med = rk
      .filter($"rn" === expr("(n + 1) div 2") || $"rn" === expr("(n + 2) div 2"))
      .groupBy($"event_type")
      .agg((sum($"gap").cast("double") / count(lit(1))).as("median_gap_us"))
    stats.join(med, "event_type")
  }

  /** q139: activity heat-grid — event counts and exact value sums per
    * (day-of-week, hour-of-day) cell per event type. Calendar math is
    * PURE INTEGER arithmetic on unix seconds (dow = (days+4) mod 7 with
    * Thursday-epoch anchoring, hour = (secs div 3600) mod 24) — NOT the
    * engines' calendar functions, whose dow numbering conventions differ
    * (Spark 1=Sunday, DuckDB 0=Sunday); the integer form is identical
    * everywhere and needs no timezone library. The load/seasonality
    * profile behind capacity planning and bot-cadence detection.
    *
    * Scale: scan-stage integer projection + one hash aggregate onto
    * ≤ types·7·24 rows — map-side combine does almost all the work.
    */
  def activityGrid(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d)
      .select($"event_type", $"value",
        expr("((unix_seconds(ts) div 86400) + 4) % 7").as("dow"),
        expr("(unix_seconds(ts) div 3600) % 24").as("hour"))
      .groupBy($"event_type", $"dow", $"hour")
      .agg(count(lit(1)).as("cnt"), stableSum($"value").as("sum_value"))
  }

  /** q150: interval/range join — for every user session (the q28
    * gap-split intervals), how many PURCHASE events from OTHER users
    * fell inside it (concurrent marketplace activity during the
    * session). The predicate is pure containment plus an inequality —
    * `p.ts BETWEEN s.start AND s.end AND p.user <> s.user` — i.e. NO
    * equi-key, the join shape Spark's planner can only express as a
    * BroadcastNestedLoop (quadratic, broadcast side unbounded).
    *
    * Scale plan — coarse-cell bucketization, the standard distributed
    * range-join decomposition: pick a cell width W (1 h), explode each
    * interval into the hour cells it covers (`sequence(start div W,
    * end div W)` — fan-out = duration/W + 1, bounded because sessions
    * are gap-bounded), map each point to its ONE cell, hash-join on the
    * cell id, then apply the exact containment predicate as a filter.
    * Every qualifying (session, point) pair meets exactly once — the
    * point contributes a single cell — so no post-join dedup. Candidate
    * volume is Σ_cell sessions(cell)·points(cell): data that co-occurs
    * in time meets, everything else never pairs. At 100 TB, W tunes the
    * fan-out/selectivity trade exactly like `maxPartitionBytes` tunes a
    * scan. Zero-match sessions are restored by a left join on the
    * session key (the natural user-key shuffle).
    *
    * Determinism: bounds are exact unix micros, counts exact integers,
    * the value sum rides the StableNum decimal discipline.
    */
  def sessionOverlap(spark: SparkSession, d: String,
      cellUs: Long = 3600L * 1000000): DataFrame = {
    import spark.implicits._
    val sessions = sessionize(spark, d)
      .select($"user_id", $"session_seq", $"session_start_us",
        ($"session_start_us" + $"duration_us").as("session_end_us"))
    val exploded = sessions.select($"user_id", $"session_seq",
        $"session_start_us", $"session_end_us",
        explode(sequence(expr(s"session_start_us div ${cellUs}L"),
          expr(s"session_end_us div ${cellUs}L"))).as("cell"))
    val points = events(spark, d)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), unix_micros($"ts").as("p_tsu"),
        $"value", expr(s"unix_micros(ts) div ${cellUs}L").as("cell"))
    val hits = exploded.join(points, "cell")
      .filter($"p_tsu" >= $"session_start_us" &&
        $"p_tsu" <= $"session_end_us" && $"p_user" =!= $"user_id")
      .groupBy($"user_id", $"session_seq")
      .agg(count(lit(1)).as("n_concurrent"),
        stableSum($"value").as("concurrent_value"))
    sessions.join(hits, Seq("user_id", "session_seq"), "left")
      .select($"user_id", $"session_seq", $"session_start_us", $"session_end_us",
        coalesce($"n_concurrent", lit(0L)).as("n_concurrent"),
        coalesce($"concurrent_value", lit(0.0)).as("concurrent_value"))
  }

  /** q153: daily volume anomaly detection — per event type, each day's
    * event count z-scored against the TRAILING 7 OBSERVED days (rows-
    * between window, so a silent day simply doesn't contribute a row —
    * the operational monitor's convention). Mean and variance come from
    * exact integer window sums (Σx, Σx² — the q137 two-moment identity,
    * n·Σx²−(Σx)² never cancels catastrophically), the z itself is one
    * identical-shape double chain in both engines, and days with fewer
    * than 7 predecessors or zero variance emit NULL z (warm-up /
    * degenerate — flagged false, never NaN).
    *
    * Scale: one hash aggregate onto (type, day) — map-side combine does
    * the volume work — then a window over the tiny per-type day series
    * (≤ types·days rows). The day id is exact integral division of unix
    * micros (the q120 convention).
    */
  def dailyAnomaly(spark: SparkSession, d: String,
      lookback: Int = 7, zThresh: Double = 2.0): DataFrame = {
    import spark.implicits._
    val dayUs = 86400L * 1000000
    val daily = events(spark, d)
      .select($"event_type", expr(s"unix_micros(ts) div ${dayUs}L").as("dy"))
      .groupBy($"event_type", $"dy").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"dy")
      .rowsBetween(-lookback, -1)
    val stats = daily
      .withColumn("n_prev", count($"cnt").over(w))
      .withColumn("s1", sum($"cnt").over(w))
      .withColumn("s2", sum($"cnt" * $"cnt").over(w))
    val varNum = $"n_prev" * $"s2" - $"s1" * $"s1"
    val meanPrev = $"s1".cast("double") / $"n_prev".cast("double")
    val z = ($"cnt".cast("double") - meanPrev) /
      sqrt(varNum.cast("double") /
        ($"n_prev" * ($"n_prev" - 1L)).cast("double"))
    stats
      .withColumn("mean_prev",
        when($"n_prev" >= 1L, meanPrev).otherwise(lit(null).cast("double")))
      .withColumn("z",
        when($"n_prev" === lookback.toLong && varNum > 0L, z)
          .otherwise(lit(null).cast("double")))
      .withColumn("is_anomaly",
        coalesce(abs($"z") >= zThresh, lit(false)))
      .select($"event_type", $"dy", $"cnt", $"n_prev", $"mean_prev",
        $"z", $"is_anomaly")
  }

  /** q159: period-over-period growth report — weekly event counts and
    * exact value sums per type, each compared to the previous OBSERVED
    * week (lag window — a silent week doesn't contribute a row, the
    * q153 convention). Count growth is an exact integer ratio
    * ((cur−prev)·1e6 div prev — both engines truncate toward zero);
    * value growth is one identical-shape double chain over the exact
    * DECIMAL sums. First observed week per type emits NULLs.
    *
    * Scale: one hash aggregate onto (type, week) — map-side combine
    * collapses the fact volume — then a lag window over the tiny
    * per-type week series (≤ types·weeks rows).
    */
  def periodGrowth(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val weekS = 604800L
    val wk = events(spark, d)
      .select($"event_type",
        expr(s"(unix_micros(ts) div 1000000L) div ${weekS}L").as("week_id"),
        $"value")
      .groupBy($"event_type", $"week_id")
      .agg(count(lit(1)).as("cnt"), stableSum($"value").as("sum_value"))
    val w = Window.partitionBy($"event_type").orderBy($"week_id")
    wk.withColumn("prev_cnt", lag($"cnt", 1).over(w))
      .withColumn("prev_value", lag($"sum_value", 1).over(w))
      .withColumn("cnt_wow_q6",
        expr("(cnt - prev_cnt) * 1000000L div prev_cnt"))
      .withColumn("value_wow",
        ($"sum_value" - $"prev_value") / nullif($"prev_value", lit(0.0)))
      .select($"event_type", $"week_id", $"cnt", $"sum_value",
        $"prev_cnt", $"cnt_wow_q6", $"value_wow")
  }

  /** q160: linear multi-touch revenue attribution — each purchase's value
    * is split equally across the user's view/click touchpoints in the
    * preceding 24 h; touchless purchases land in a 'direct' bucket.
    * Shares are exact integers in 1e-6-value units (cents·1e4 div
    * touches), with the division remainder assigned to the LAST touch
    * before the purchase (deterministic (t_tsu, t_id) DESC rank), so the
    * attributed mass conserves the purchase mass exactly — a spec law.
    *
    * Scale: the touch↔purchase pairing is an equi-join on user_id with
    * the 24 h range as a residual filter — per-key fan-out is bounded by
    * per-user activity (whale users take the q33 salting treatment), and
    * the share windows are keyed by purchase id, never global. The
    * output aggregate is |touch types|+1 rows with map-side combine.
    */
  def linearAttribution(spark: SparkSession, d: String,
      windowUs: Long = 24L * 3600 * 1000000): DataFrame = {
    import spark.implicits._
    val ev = events(spark, d).select($"event_id", $"user_id", $"event_type",
      unix_micros($"ts").as("tsu"), $"value")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"tsu".as("p_tsu"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val t = ev.filter($"event_type".isin("view", "click"))
      .select($"user_id", $"event_id".as("t_id"),
        $"event_type".as("touch_type"), $"tsu".as("t_tsu"))
    val pairCond = $"t_tsu" < $"p_tsu" && $"t_tsu" >= $"p_tsu" - windowUs
    val j = p.join(t, Seq("user_id")).filter(pairCond)
    val ranked = j
      .withColumn("n_touch", count(lit(1)).over(Window.partitionBy($"p_id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"p_id").orderBy($"t_tsu".desc, $"t_id".desc)))
      .withColumn("unit", $"cents" * 10000L)
      .withColumn("share", expr("unit div n_touch") +
        when($"rk" === 1L, expr("unit % n_touch")).otherwise(lit(0L)))
      .select($"touch_type", $"share")
    // both sides derive from `ev`: aliased, so the key compares the two
    // sides instead of resolving to a trivially-true user_id == user_id
    val direct = p.as("p")
      .join(t.as("t"), $"p.user_id" === $"t.user_id" && pairCond, "left_anti")
      .select(lit("direct").as("touch_type"), ($"cents" * 10000L).as("share"))
    ranked.unionByName(direct)
      .groupBy($"touch_type")
      .agg(count(lit(1)).as("n_contribs"), sum($"share").as("attributed_q6"))
      .withColumn("attributed", $"attributed_q6".cast("double") / 1e6)
  }

  /** q165: RFM segmentation — recency (days since last purchase, vs the
    * corpus's latest purchase day), frequency (purchase count), monetary
    * (exact cents sum) per user, each quartiled under the deterministic
    * (metric, user_id) total order ((rownum−1)·4 div n — exact integer
    * buckets, no percentile interpolation) and concatenated into the
    * marketing-standard segment label. Quartile 0 is most-recent for R,
    * quartile 3 is highest for F/M.
    *
    * Scale: the per-user aggregate is the big reduction (fact volume →
    * |purchasing users| with map-side combine); the three quartile
    * metrics UNPIVOT into one (metric, v) stream ranked by ONE
    * `Ranks.globalRank` machine (no single-partition sort above the
    * dial), then fold back onto the unique user key in one aggregate.
    */
  def rfmSegments(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val p = events(spark, d).filter($"event_type" === "purchase")
      .select($"user_id", expr("unix_micros(ts) div 86400000000L").as("dy"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val u = p.groupBy($"user_id").agg(max($"dy").as("last_dy"),
      count(lit(1)).as("frequency"), sum($"cents").as("monetary_c"))
    val mx = p.agg(max($"dy").as("mx"))
    // one pinned per-user base; its count n is a driver scalar, so the
    // quartile divisor is a plan literal (no count aggregate + broadcast)
    val pin = Lineage.counted(u.crossJoin(broadcast(mx))
      .select($"user_id", ($"mx" - $"last_dy").as("recency_days"),
        $"frequency", $"monetary_c"))
    val n = pin.rows
    // the three metrics UNPIVOT into one (metric, v) stream ranked under
    // (metric, v, user_id). Each metric contributes EXACTLY n rows, so
    // each owns one contiguous block of n global ranks (the q174 trick):
    // its row number is (gr − 1) mod n + 1, with no offset aggregate
    // or join
    val stacked = pin.df.select($"user_id", expr(
      """stack(3, 'r', recency_days, 'f', frequency,
        |  'm', monetary_c) AS (metric, v)""".stripMargin))
    val ranked = Ranks.globalRankPinned(stacked, 3L * n, "gr",
      $"metric", $"v", $"user_id")
    // ONE aggregate folds the ranks back onto the user key and reads
    // each metric's value off its own rank row (no join with the base);
    // quartile = (rownum − 1)·4 div n
    val q = expr(s"(gr - 1L) % ${n}L * 4L div ${n}L")
    def pick(m: String, c: Column) = max(when($"metric" === m, c))
    ranked
      .groupBy($"user_id")
      .agg(pick("r", $"v").as("recency_days"), pick("f", $"v").as("frequency"),
        pick("m", $"v").as("monetary_c"), pick("r", q).as("r_q"),
        pick("f", q).as("f_q"), pick("m", q).as("m_q"))
      .withColumn("segment", concat(lit("R"), $"r_q".cast("string"),
        lit("F"), $"f_q".cast("string"), lit("M"), $"m_q".cast("string")))
  }

  def eventPaths(spark: SparkSession, d: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    val seqW = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events(spark, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("e2", lead($"event_type", 1).over(seqW))
      .withColumn("e3", lead($"event_type", 2).over(seqW))
      .filter($"e2".isNotNull && $"e3".isNotNull)
      .groupBy($"event_type".as("s1"), $"e2".as("s2"), $"e3".as("s3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"s1", $"s2", $"s3")
      .limit(k)
  }
}
