package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Lineage.CutOps
import graft.core.Tables._
import graft.plans.LexExtreme.lexMax
import graft.functions.StableNum._

/** Batch relational operators — the reference's DataSet/Table-API surface
  * re-expressed over the driver's star schema.
  *
  * Reference shapes covered (SURVEY.md §2):
  *  - group-aggregate with hand-rolled count → hash agg
  *    (dataset_java/mail_count/MailCount.java:60,86-107)
  *  - month-key projection (MailCount.java:69-81)
  *  - argmax-per-group with tie preservation
  *    (table_java/memberotm/MemberOTMonth.java:74-78)
  *  - self-join on a parent pointer (dataset_java/reply_graph/ReplyGraph.java:65-66)
  *  - bot-address exclusion filter (ReplyGraph.java:59-62)
  *  - distinct (dataset_preparation/MBoxParser.java:79-80)
  *  - vertex set = union of edge endpoints
  *    (gelly_java/PageRankWithEdgeWeights.java:78-83)
  *
  * Scale notes: every aggregate here is a partial+final hash aggregate
  * (one shuffle on the group key); joins against small dimensions
  * (nation/region, 25/5 rows) are explicitly broadcast so the fact scan
  * never shuffles for them. Filters are plain column predicates so
  * Catalyst pushes them into the parquet scan.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: wide hash aggregate over the fact
    * table. Map-side partial agg collapses 600 k rows (or 100 TB) to
    * |returnflag × linestatus| groups per partition before the shuffle.
    */
  def pricingSummary(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, d)
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        stableSum($"l_quantity").as("sum_qty"),
        stableSum($"l_extendedprice").as("sum_base_price"),
        stableProdSum($"l_extendedprice", lit(1.0) - $"l_discount").as("sum_disc_price"),
        stableAvg($"l_quantity").as("avg_qty"),
        stableAvg($"l_discount", scale = 4).as("avg_disc"),
        count(lit(1)).as("cnt"))
  }

  /** RideCleansing analog (datastream_java/basics/RideCleansing.java:68-76):
    * predicate filter + projection. Both reach the parquet scan as
    * PushedFilters / ReadSchema — the 100 TB version reads only 4 columns
    * and skips row groups via min/max stats.
    */
  def filterProject(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d)
      .filter($"event_type".isin("click", "purchase") && $"value".between(50.0, 150.0))
      .select($"event_id", $"user_id", $"event_type", $"value")
  }

  /** Revenue per nation: fact ⋈ dims with explicit broadcast of the small
    * sides. orders⋈customer shuffles on the key once; nation (25 rows) is
    * broadcast so no extra exchange appears.
    */
  def joinAgg(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    orders(spark, d)
      .join(customer(spark, d), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation(spark, d)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(stableSum($"o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
  }

  /** MailCount analog (dataset_java/mail_count/MailCount.java:49-107):
    * month-key projection + two-column group count.
    */
  def monthUserCount(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d)
      .select(date_format($"ts", "yyyy-MM").as("month"), $"user_id")
      .groupBy($"month", $"user_id")
      .agg(count(lit(1)).as("cnt"))
  }

  /** MemberOTMonth analog (table_java/memberotm/MemberOTMonth.java:64-81):
    * argmax-per-group keeping ties as a MAX-JOIN — a |months|-row max
    * table broadcast back onto the counts, `cnt == month max` keeps
    * every tied winner. This IS the reference's own max-then-join shape
    * (SURVEY §7.4.3), and unlike the rank()-window form it never sorts
    * a month's whole user population through one partition (months are
    * few; users-per-month is corpus-sized at 100×) — the q20 lesson
    * applied to argmax, where no sort is needed at all.
    */
  def memberOTM(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val counts = events(spark, d)
      .filter($"event_type" =!= "error") // bot-filter shape (ReplyGraph.java:59-62)
      .select(date_format($"ts", "yyyy-MM").as("month"), $"user_id")
      .groupBy($"month", $"user_id")
      .agg(count(lit(1)).as("cnt"))
    val mx = counts.groupBy($"month").agg(max($"cnt").as("__mx"))
    counts.join(broadcast(mx), "month")
      .filter($"cnt" === $"__mx")
      .select($"month", $"user_id", $"cnt")
  }

  /** ReplyGraph-shaped self-join (dataset_java/reply_graph/ReplyGraph.java:65-66):
    * child.parentPointer = parent.id with disambiguating aliases, then a
    * group-count of the resulting pairs (ReplyGraph.java:69-71). Here the
    * "reply" pointer is the previous line number within an order. The
    * self-join co-partitions both sides on l_orderkey (single shuffle key),
    * which also holds at 100 TB since lines of one order are bounded.
    */
  def selfJoinPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val li = lineitem(spark, d).select($"l_orderkey", $"l_linenumber", $"l_returnflag")
    val child  = li.as("c")
    val parent = li.as("p")
    child
      .join(parent,
        $"c.l_orderkey" === $"p.l_orderkey" &&
          $"c.l_linenumber" === $"p.l_linenumber" + 1)
      .groupBy($"c.l_returnflag".as("child_flag"), $"p.l_returnflag".as("parent_flag"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Top-k per group (generalization of the reference's argmax, k=10)
    * as ONE bounded-heap aggregate (`Ranks.groupTopK` — the round-11
    * verdict's ask): no row_number anywhere, each partition folds a
    * k-heap per priority map-side, the single group shuffle merges
    * heaps, and the sorted array unpacks to (row, rnk). Same output as
    * the single-window form (`topKOrdersWindow`), kept as the spec
    * equality rung; the DuckDB oracle is unchanged.
    */
  def topKOrders(spark: SparkSession, d: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    Ranks.groupTopK(
        orders(spark, d)
          .select($"o_orderpriority", $"o_orderkey", $"o_totalprice"),
        k, "rnk", Seq($"o_orderpriority"),
        struct((-$"o_totalprice").as("__np"), $"o_orderkey", $"o_totalprice"))
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice", $"rnk")
  }

  /** The single-window form of `topKOrders` — one rank per priority
    * (5 sort partitions at any scale); the directly-oracle-shaped rung
    * and the spec's equality reference.
    */
  private[graft] def topKOrdersWindow(spark: SparkSession, d: String,
      k: Int = 10): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    orders(spark, d)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
  }

  /** Skew-safe two-stage aggregation: salt the (few, hot) group keys
    * across `salts` buckets, pre-aggregate per (key, salt), then combine.
    * Results are identical to the plain groupBy (counts/decimal sums are
    * associative); the first shuffle spreads each hot key over `salts`
    * reducers — the standard defense when one key holds a double-digit
    * share of 100 TB. (events has 5 hot event_type keys — exactly that
    * shape at scale.)
    */
  def saltedAgg(spark: SparkSession, d: String, salts: Int = 16): DataFrame = {
    import spark.implicits._
    events(spark, d)
      .withColumn("salt", pmod(xxhash64($"event_id"), lit(salts)))
      .groupBy($"event_type", $"salt")
      .agg(count(lit(1)).as("pcnt"), stableSum($"value").as("psum"))
      .groupBy($"event_type")
      .agg(sum($"pcnt").as("cnt"), stableSum($"psum").as("sum_value"))
  }

  /** As-of join on the event stream: each purchase is joined to the same
    * user's most recent prior click (a time-series join the reference
    * lacks; builder-prompt custom-operator family). Composed from
    * built-ins — preference (a) of the custom-op ladder: one shuffle on
    * user_id, a window sort, `last_value(ignoreNulls)` carries the
    * latest click forward; no custom SparkPlan needed because the
    * semantics ARE expressible relationally.
    */
  def asofJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tsu", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events(spark, d)
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_micros($"ts").as("tsu"))
      .withColumn("prev_click_value",
        last(when($"event_type" === "click", $"value"), ignoreNulls = true).over(w))
      .withColumn("prev_click_tsu",
        last(when($"event_type" === "click", $"tsu"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"tsu",
        coalesce($"prev_click_value", lit(-1.0)).as("prev_click_value"),
        coalesce($"prev_click_tsu", lit(-1L)).as("prev_click_tsu"))
  }

  /** The as-of join again, through the CUSTOM physical operator
    * (graft.plans.AsOfJoinExec — LogicalPlan + Strategy + sort-merge
    * exec). Same output contract as asofJoin, so it shares q34's oracle
    * shape: the two formulations are cross-checked in AsOfJoinSpec and
    * both hash-match the same DuckDB derivation.
    */
  def asofJoinCustom(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, d)
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_micros($"ts").as("tsu"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"tsu")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"tsu".as("c_tsu"), $"value".as("c_value"))
    graft.plans.AsOf.asofJoin(purchases, clicks, "user_id", "c_user", "tsu", "c_tsu")
      .select($"user_id", $"event_id", $"tsu",
        coalesce($"c_value", lit(-1.0)).as("prev_click_value"),
        coalesce($"c_tsu", lit(-1L)).as("prev_click_tsu"))
  }

  /** Daily argmax with ties — the MemberOTMonth shape (J3) at day grain
    * (the events table spans one month, so month grain yields one row).
    */
  def memberOTDay(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val counts = events(spark, d)
      .filter($"event_type" =!= "error")
      .select(date_format($"ts", "yyyy-MM-dd").as("day"), $"user_id")
      .groupBy($"day", $"user_id")
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("rnk", rank().over(
        Window.partitionBy($"day").orderBy($"cnt".desc)))
      .filter($"rnk" === 1)
      .select($"day", $"user_id", $"cnt")
  }

  /** Distinct pairs (MBoxParser.java:79-80 `distinct(0)` analog). */
  def distinctPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d).select($"user_id", $"event_type").distinct()
  }

  /** Semi/anti joins (EXISTS / NOT EXISTS): users who clicked but never
    * made a large (>190) purchase. Beyond the reference's inner-equi-join-only surface
    * (SURVEY §2.4 note) — both plan as existence joins with no
    * duplication of the probe side.
    */
  def antiSemiJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val clicks = events(spark, d).filter($"event_type" === "click")
      .select($"user_id").distinct()
    val bigPurchases = events(spark, d)
      .filter($"event_type" === "purchase" && $"value" > 190.0)
      .select($"user_id")
    clicks.join(bigPurchases, Seq("user_id"), "left_anti")
  }

  /** Exact distinct-aggregate: count(DISTINCT) expands to a two-phase
    * agg (distinct shuffle then count). The approximate one-pass sketch
    * forms live in approxStats (sketches are engine-specific, so its
    * q44 oracle checks error bounds against exact values rather than
    * sketch internals).
    */
  def distinctStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_events"))
  }

  /** Approximate aggregates — the mergeable-sketch forms that replace
    * their exact counterparts at 100 TB: HLL++ approx_count_distinct
    * (one pass, no distinct shuffle) and KLL-style approx_percentile.
    * Sketch VALUES are engine-specific, so the query emits its
    * error-bound CONTRACT instead: per group, the exact row count plus
    * booleans asserting each sketch landed inside its published bound
    * (HLL++ at rsd 0.05 → |err| ≤ 3·rsd; percentile at accuracy 1000 →
    * approx p50 within the exact [p47, p53] rank window). The DuckDB
    * oracle states the same contract as literal TRUEs over the exact
    * aggregates — a sketch regression (bias, merge bug, wrong rsd) flips
    * a boolean and fails the hash compare. ApproxSpec additionally bounds
    * the raw errors in-test.
    */
  def approxStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = events(spark, d)
    val approx = e.groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", 0.05).as("approx_users"),
        approx_percentile($"value", lit(0.5), lit(1000)).as("approx_p50"))
    val exact = e.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"),
        count(lit(1)).as("n_events"),
        percentile($"value", lit(0.47)).as("p47"),
        percentile($"value", lit(0.53)).as("p53"))
    approx.join(exact, "event_type")
      .select($"event_type", $"n_events",
        (abs($"approx_users" - $"exact_users") <=
          $"exact_users" * 0.15).as("hll_in_bound"),
        ($"approx_p50" >= $"p47" && $"approx_p50" <= $"p53").as("p50_in_bound"))
  }

  /** q127: a fully oracle-checkable HyperLogLog (Flajolet et al. 2007)
    * built from the engine's md5-derived 32-bit hash — unlike q44's
    * built-in HLL++ (engine-internal registers, bounds-contract oracle),
    * every register here is reproducible in both engines: bucket = low 8
    * hash bits (m = 256), rank = leading-zero count of the remaining 24
    * bits + 1 (via `bin` string length — no engine log2), register =
    * max rank. The raw estimate α·m²/Σ2^(−M_j) is exact cross-engine:
    * each 2^(−M) term is an exact power of two and the ≤ 33-bit sum
    * stays inside one double mantissa, so even the FP sum is exact and
    * order-free; the α expression is written token-identically in both
    * engines. Exact distinct counts ride along as the comparison column.
    *
    * Scale: THE mergeable-sketch pattern — the only shuffle state is the
    * (group, bucket) register table (map-side max-combined, 256 rows per
    * group regardless of input size); at 100 TB the exact-count column
    * drops and the register table is the whole answer, unioned across
    * shards/days by another max.
    */
  /** Linear-counting correction table for m = 256: lc(V) = ⌊m·ln(m/V)⌋.
    * V only takes 257 values, so the `ln` is evaluated ONCE, here, and
    * shipped to BOTH engines as the same integer literals (the Spark
    * plan's typedLit and the generated DuckDB list literal come from
    * this one Seq) — no runtime libm in either engine, determinism by
    * construction rather than by hoping two `ln`s round alike.
    */
  private[graft] val HllLcTable: Seq[Long] =
    (0 to 256).map { v =>
      if (v == 0) 0L else math.floor(256.0 * math.log(256.0 / v)).toLong
    }

  def hllDistinct(spark: SparkSession, d: String, m: Int = 256): DataFrame = {
    import spark.implicits._
    require(m == 256, "register math below is specialized to the 8-bit bucket")
    val h = graft.functions.Hashing
      .md5Bits32(concat(lit("hll:"), $"user_id".cast("string")), 1)
    val regs = events(spark, d)
      .select($"event_type", h.as("h"))
      .select($"event_type", $"h".bitwiseAND(lit(255L)).as("b"),
        shiftright($"h", 8).as("w"))
      .select($"event_type", $"b",
        when($"w" === 0L, lit(25L))
          .otherwise(lit(25L) - length(bin($"w")).cast("long")).as("rank"))
      .groupBy($"event_type", $"b").agg(max($"rank").as("m_j"))
    val sketch = regs.groupBy($"event_type")
      .agg(count(lit(1)).as("nz"), sum(pow(lit(2.0), -$"m_j")).as("snz"))
      .select($"event_type", (lit(256L) - $"nz").as("v_zero"),
        ((lit(256L) - $"nz").cast("double") + $"snz").as("s"))
    val exact = events(spark, d).groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"))
    val raw = floor(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
      * lit(65536.0) / $"s").cast("long")
    exact.join(sketch, "event_type")
      .select($"event_type", $"n_exact", $"v_zero", raw.as("hll_raw"),
        // small-range regime (raw ≤ 2.5m, some register empty): linear
        // counting via the shared literal table; else the raw estimate
        when($"v_zero" > 0L && raw <= lit(640L),
          element_at(typedLit(HllLcTable), ($"v_zero" + 1L).cast("int")))
          .otherwise(raw).as("hll_est"))
  }

  /** q196: HLL SET ALGEBRA — audience overlap between event types from
    * the q127 sketches alone: union = per-bucket register MAX (the one
    * operation HLL merges exactly — same algebra as q172's reach
    * curve), intersection by inclusion–exclusion over the integer
    * estimates (est_a + est_b − est_union, clamped at 0 — the standard
    * HLL intersection, with its known error blow-up for small overlaps;
    * that is exactly what the exact columns beside it audit). Answers
    * "how much do these audiences overlap" without ever joining the
    * raw user sets — the sketch question a 100 TB log can afford to ask
    * for every pair.
    *
    * Scale: registers are |types|·256 rows (mergeable, from one
    * scan-stage aggregate); all pair math happens on that table and the
    * |pairs|-row grid. The exact audit columns do one distinct-user
    * self-join — the declared exact rung beside the sketch (drop them
    * at deployment scale; the estimator is the product).
    */
  def hllOverlap(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val h = graft.functions.Hashing
      .md5Bits32(concat(lit("hll:"), $"user_id".cast("string")), 1)
    val regs = events(spark, d)
      .select($"event_type", h.as("h"))
      .select($"event_type", $"h".bitwiseAND(lit(255L)).as("b"),
        shiftright($"h", 8).as("w"))
      .select($"event_type", $"b",
        when($"w" === 0L, lit(25L))
          .otherwise(lit(25L) - length(bin($"w")).cast("long")).as("rank"))
      .groupBy($"event_type", $"b").agg(max($"rank").as("m_j"))
      // pinned: the register table is referenced four times (both
      // union fan-out sides, the per-type estimate, the type grid) —
      // uncut, each re-scanned the event log (guide §2.4).
      // |types|·256 rows.
      .cutLineage()
    def estimate(sk: DataFrame, keys: Seq[String]): DataFrame = {
      val kc = keys.map(col)
      val grouped = sk.groupBy(kc: _*)
        .agg(count(lit(1)).as("nz"), sum(pow(lit(2.0), -$"m_j")).as("snz"))
        .select(kc :+ (lit(256L) - $"nz").as("vz") :+
          ((lit(256L) - $"nz").cast("double") + $"snz").as("s"): _*)
      val raw = floor(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
        * lit(65536.0) / $"s").cast("long")
      grouped.select(kc :+
        when($"vz" > 0L && raw <= lit(640L),
          element_at(typedLit(HllLcTable), ($"vz" + 1L).cast("int")))
          .otherwise(raw).as("est"): _*)
    }
    val types = regs.select($"event_type").distinct()
    val pairs = types.select($"event_type".as("type_a"))
      .join(types.select($"event_type".as("type_b")), $"type_a" < $"type_b")
    val unionRegs = pairs
      .join(regs.withColumnRenamed("event_type", "type_a"), Seq("type_a"))
      .union(pairs
        .join(regs.withColumnRenamed("event_type", "type_b"), Seq("type_b"))
        .select($"type_a", $"type_b", $"b", $"m_j"))
      .groupBy($"type_a", $"type_b", $"b").agg(max($"m_j").as("m_j"))
    val estU = estimate(unionRegs, Seq("type_a", "type_b"))
      .withColumnRenamed("est", "est_union")
    val est1 = estimate(regs, Seq("event_type"))
    val du = events(spark, d).select($"event_type", $"user_id").distinct()
    val exactInter = du.as("a").join(du.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(count(lit(1)).as("exact_inter"))
    val exactN = du.groupBy($"event_type").agg(count(lit(1)).as("nx"))
    estU
      .join(broadcast(est1.select($"event_type".as("type_a"), $"est".as("est_a"))),
        Seq("type_a"))
      .join(broadcast(est1.select($"event_type".as("type_b"), $"est".as("est_b"))),
        Seq("type_b"))
      .join(broadcast(exactN.select($"event_type".as("type_a"), $"nx".as("nx_a"))),
        Seq("type_a"))
      .join(broadcast(exactN.select($"event_type".as("type_b"), $"nx".as("nx_b"))),
        Seq("type_b"))
      .join(exactInter, Seq("type_a", "type_b"), "left")
      .select($"type_a", $"type_b",
        coalesce($"exact_inter", lit(0L)).as("exact_inter"),
        ($"nx_a" + $"nx_b" - coalesce($"exact_inter", lit(0L))).as("exact_union"),
        $"est_a", $"est_b", $"est_union",
        greatest(lit(0L), $"est_a" + $"est_b" - $"est_union").as("est_inter"),
        expr("CASE WHEN est_union > 0 THEN " +
          "greatest(0L, est_a + est_b - est_union) * 1000000L div est_union " +
          "ELSE 0L END").as("jaccard_q6"))
  }

  /** q129: equi-width histogram quantile estimates — the deterministic,
    * fully oracle-checkable rung of the quantile family: q38 is exact
    * percentiles (global sort semantics), q44 checks the built-in KLL
    * sketch against error bounds; this one IS a sketch whose every value
    * both engines reproduce. Per event_type: 64 equi-width bins over the
    * exact [min, max], exact bin counts, then p50/p90/p99 by in-bin
    * linear interpolation. Rank = ⌈pct·n/100⌉ computed as the exact
    * integer (pct·n + 99) div 100; the estimate is a short chain of
    * identical double ops over exact ints and the min/max doubles.
    *
    * Scale: the mergeable-histogram pattern — bin counts are ONE
    * (group, bin) aggregate with map-side combine (≤ 64 rows per group
    * forever, mergeable by addition across shards/days); the quantile
    * walk runs on that tiny table via a cumulative window. The min/max
    * pre-pass is its own scan-stage aggregate broadcast back — two scans
    * total, the classic two-pass histogram (a streaming deployment fixes
    * the range a priori and drops to one pass).
    */
  def histogramQuantiles(spark: SparkSession, d: String,
      nBins: Int = 64, pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    import spark.implicits._
    val e = events(spark, d).select($"event_type", $"value")
    val stats = e.groupBy($"event_type")
      .agg(min($"value").as("mn"), max($"value").as("mx"),
        count(lit(1)).as("n"))
    val bins = e.join(broadcast(stats), "event_type")
      .select($"event_type",
        when($"mx" === $"mn", lit(0L)).otherwise(
          least(floor(($"value" - $"mn") / ($"mx" - $"mn") * nBins),
            lit(nBins - 1).cast("double")).cast("long")).as("b"))
      .groupBy($"event_type", $"b").agg(count(lit(1)).as("cnt"))
    val cum = bins.withColumn("cum",
      sum($"cnt").over(Window.partitionBy($"event_type").orderBy($"b")))
    val ranks = stats.select($"event_type", $"mn", $"mx", $"n",
        explode(typedLit(pcts)).as("pct"))
      .withColumn("r", expr("(pct * n + 99) div 100"))
    // first bin whose cumulative count reaches the rank
    val hit = ranks.join(cum, "event_type")
      .filter($"cum" >= $"r")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type", $"pct").orderBy($"b")))
      .filter($"rn" === 1)
    hit.select($"event_type", $"pct".cast("long").as("pct"), $"n", $"b", $"cnt",
        when($"mx" === $"mn", $"mn").otherwise(
          $"mn" + ($"b".cast("double")
            + ($"r" - ($"cum" - $"cnt")).cast("double") / $"cnt".cast("double"))
            * (($"mx" - $"mn") / nBins)).as("est"))
  }

  /** q191: EQUI-DEPTH histogram per group — q129's complement (equi-WIDTH
    * bins answer "how many rows in this value range"; equi-depth bins
    * answer "what value range holds each 1/B of the rows" — the
    * histogram a cost-based optimizer actually stores, because skewed
    * value distributions collapse an equi-width histogram into one hot
    * bin). Exact: rows ranked per group under the total (value,
    * event_id) order, bin = (rn−1)·B div n, then per-bin count + exact
    * [lo, hi] value bounds.
    *
    * Scale: `value` is a near-unique continuous double, so the rank
    * rides `Ranks.groupRowNumber` (the row-level fast path — a class
    * histogram would be as big as the rows), never a per-type window: a
    * hot event_type spans many range partitions. The per-group row
    * counts ride the rank as its size column. The final aggregate
    * touches |groups|·B cells.
    */
  def equiDepthHist(spark: SparkSession, d: String, bins: Int = 8): DataFrame = {
    import spark.implicits._
    val ev = events(spark, d).select($"event_type", $"event_id", $"value")
    val ranked = Ranks.groupRowNumber(ev, "rn", Seq($"event_type"),
      Seq($"value".asc, $"event_id".asc), sizeCol = Some("n"))
    ranked
      .withColumn("bin", expr(s"(rn - 1) * ${bins}L div n"))
      .groupBy($"event_type", $"bin")
      .agg(count(lit(1)).as("n_rows"),
        min($"value").as("lo"), max($"value").as("hi"))
      .select($"event_type", $"bin", $"n_rows", $"lo", $"hi")
  }

  /** The single-window form of `equiDepthHist` — one rank per event_type
    * (|types| sort partitions at any scale); the directly-oracle-shaped
    * rung and the spec's equality reference.
    */
  private[graft] def equiDepthHistWindow(spark: SparkSession, d: String,
      bins: Int = 8): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type")
      .orderBy($"value".asc, $"event_id".asc)
    val cw = Window.partitionBy($"event_type")
    events(spark, d).select($"event_type", $"event_id", $"value")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(cw))
      .withColumn("bin", expr(s"(rn - 1) * ${bins}L div n"))
      .groupBy($"event_type", $"bin")
      .agg(count(lit(1)).as("n_rows"),
        min($"value").as("lo"), max($"value").as("hi"))
      .select($"event_type", $"bin", $"n_rows", $"lo", $"hi")
  }

  /** q148: percent-of-total contribution — each nation's share of global
    * order revenue with running cumulative share in revenue-descending
    * order (the Pareto/ABC analysis every revenue dashboard opens with).
    * Revenue is the exact DECIMAL sum; shares are 1e6-quantized single
    * divisions; the cumulative ride is a window over |nations| rows.
    */
  def revenueContribution(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val rev = orders(spark, d)
      .join(customer(spark, d), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation(spark, d)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).as("rev_d"))
    val total = Window.partitionBy(lit(1))
    val cum = Window.partitionBy(lit(1))
      .orderBy($"rev_d".desc, $"n_name")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // cast the EXACT decimal sums to double before dividing (a cents sum
    // is < 2^53, so the casts are exact and the one division identical
    // cross-engine; decimal÷decimal would pick engine-specific scales)
    rev
      .withColumn("share_q",
        round($"rev_d".cast("double") / sum($"rev_d").over(total).cast("double")
          * 1000000.0).cast("long"))
      .withColumn("cum_share_q",
        round(sum($"rev_d").over(cum).cast("double")
          / sum($"rev_d").over(total).cast("double") * 1000000.0).cast("long"))
      .select($"n_name", $"rev_d".cast("double").as("revenue"),
        $"share_q", $"cum_share_q")
  }

  /** q143: latest-record-per-key compaction — the SCD-1 / CDC upsert
    * primitive: keep each user's most recent event under the
    * (ts, event_id) total order. row_number — not max-join — so exactly
    * one survivor per key even under timestamp ties; the same plan
    * compacts a 100 TB changelog into current state (one key shuffle,
    * per-partition sort, rank filter — no self-join, no global sort).
    */
  /** q214: hourly trending event types — per hour, the top-3 event
    * types by count (ties → type asc). The dashboard query every event
    * pipeline serves, and the third rider on the native bounded-heap
    * top-k (`plans.TopKRowsAgg`): the hourly count table is one
    * map-side-combined aggregate, then ONE heap aggregate per hour — no
    * row_number, no per-hour sort partition, |hours|·k output rows.
    */
  def trendingTypes(spark: SparkSession, d: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val hourly = events(spark, d)
      .select(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .groupBy($"hour", $"event_type").agg(count(lit(1)).as("cnt"))
    Ranks.groupTopK(hourly, k, "rnk", Seq($"hour"),
        struct((-$"cnt").as("__nc"), $"event_type", $"cnt"))
      .select($"hour", $"event_type", $"cnt", $"rnk")
  }

  /** q217: Hill tail-index estimate of the events-per-user
    * distribution — α̂ = k / (Σᵢ₌₁..ₖ ln xᵢ − k·ln x₍ₖ₊₁₎) over the
    * top-k order statistics. THE number behind every skew decision this
    * engine makes: α < 2 means the per-key load distribution has
    * infinite variance — salting (q33) and AQE skew splits are
    * mandatory, not optional — while α > 3 means uniform hashing is
    * fine. q167 flags today's hot keys; this says whether the TAIL LAW
    * generates new ones forever.
    *
    * Shape: one map-side-combined per-user count, the global top-(k+1)
    * via the native bounded-heap aggregate (`plans.TopKRowsAgg` as a
    * single-group fold — no global sort, no row_number), then the
    * quantized-log discipline: ln x → 1e6 longs, exact integer sums
    * over k rows, one final division chain identical in both engines.
    */
  def hillTail(spark: SparkSession, d: String, k: Int = 100): DataFrame = {
    import spark.implicits._
    val cnts = events(spark, d).groupBy($"user_id").agg(count(lit(1)).as("x"))
    // adapt to small key spaces: k_eff = min(k, |users| - 1), so the
    // estimator is defined whenever at least two users exist (the
    // (k_eff+1)-th order statistic must exist); |users| is a scalar
    val kEff = math.min(k.toLong, cnts.count() - 1L)
    // with 0 or 1 users the (k_eff+1)-th order statistic doesn't exist;
    // return a defined empty frame instead of feeding k ≤ 0 into the
    // heap aggregate's require (ADVICE round 12)
    if (kEff < 1L)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("k", "x_k1", "denom_q6", "alpha")
    val top = Ranks.groupTopK(cnts, (kEff + 1).toInt, "rnk", Seq(),
      struct((-$"x").as("__nx"), $"user_id", $"x"))
    val s = top.filter($"rnk" <= kEff)
      .agg(sum(round(log($"x".cast("double")) * lit(1000000.0)).cast("long"))
        .as("sum_lnq"))
    val tail = top.filter($"rnk" === kEff + 1L)
      .select($"x".as("x_k1"),
        round(log($"x".cast("double")) * lit(1000000.0)).cast("long").as("lnq_k1"))
    s.crossJoin(tail)
      .select(lit(kEff).as("k"), $"x_k1",
        ($"sum_lnq" - lit(kEff) * $"lnq_k1").as("denom_q6"),
        (lit(kEff).cast("double") * lit(1000000.0)
          / ($"sum_lnq" - lit(kEff) * $"lnq_k1").cast("double")).as("alpha"))
  }

  def latestPerUser(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc)
    events(spark, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        $"event_type", $"value")
  }

  /** q190: snapshot diff — the CDC primitive between two points in time:
    * the keyed state ((user, event_type) → latest value) at cutoff T1
    * vs at T2 = the newest event, T1 = T2 − 30 days, classified per key
    * as added / changed / unchanged and aggregated per event_type. This
    * is the "what must the incremental run actually recompute"
    * question (q149's manifest asks it for documents; this is the
    * relational form over an event log), and the audit a pipeline runs
    * before choosing incremental vs full refresh.
    *
    * Both snapshots come out of ONE key-shuffle: per key, the latest
    * record overall (T2 state) and the latest with ts ≤ T1 (T1 state)
    * are two `max(struct(ts, event_id, value))` aggregates — the
    * max-join argmax, map-side combinable, no window, no self-join, no
    * second scan. The cutoffs are one 1-row aggregate broadcast. On an
    * append-only log old keys never vanish, so `n_removed` is
    * structurally 0 — kept in the output because the full-outer
    * classification is the general CDC contract (a compacting source
    * CAN drop keys).
    */
  def snapshotDiff(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, d)
      .select($"user_id", $"event_type", $"event_id",
        unix_micros($"ts").as("ts_us"), $"value")
    val cuts = ev.agg(max($"ts_us").as("t2"))
      .select($"t2", ($"t2" - lit(30L * 86400L * 1000000L)).as("t1"))
    val states = ev.crossJoin(broadcast(cuts))
      .groupBy($"user_id", $"event_type")
      .agg(
        lexMax(struct($"ts_us", $"event_id", $"value")).as("s2"),
        lexMax(when($"ts_us" <= $"t1",
          struct($"ts_us", $"event_id", $"value"))).as("s1"))
    val classified = states.select($"event_type",
      $"s1".isNull.as("added"),
      ($"s1".isNotNull && $"s1.value" =!= $"s2.value").as("changed"))
    classified.groupBy($"event_type")
      .agg(
        sum($"added".cast("long")).as("n_added"),
        sum($"changed".cast("long")).as("n_changed"),
        sum((!$"added" && !$"changed").cast("long")).as("n_unchanged"),
        count(lit(1)).as("n_keys_t2"))
      .select($"event_type", $"n_added", $"n_changed", $"n_unchanged",
        ($"n_keys_t2" - $"n_added").as("n_keys_t1"), $"n_keys_t2",
        lit(0L).as("n_removed"),
        expr("CASE WHEN n_keys_t2 - n_added = 0 THEN 0L " +
          "ELSE n_changed * 1000000L div (n_keys_t2 - n_added) END")
          .as("changed_q6"))
  }

  /** q142: column profile audit — for every column of `events`: row
    * count, null count, exact distinct count. The schema-drift /
    * completeness gate a pipeline runs on every new partition before
    * processing (a column going silently null or collapsing to one
    * value is the classic upstream breakage).
    *
    * Scale: ONE pass — Spark compiles the multi-column distinct
    * aggregate to a single Expand (×|columns|) + aggregate, not one
    * scan per column; the profile is then unpivoted RELATIONALLY
    * (`stack` over the 1-row aggregate — round-9 advice: no head() at
    * DataFrame-construction time, so building the query stays lazy and
    * plan dumps/registry sweeps never trigger the scan). At 100 TB swap
    * exact distincts for q127-style sketches column by column; null
    * counts stay exact either way.
    */
  def columnProfile(spark: SparkSession, d: String): DataFrame = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap { c =>
        Seq(sum(col(c).isNull.cast("long")).as(s"null_$c"),
          countDistinct(col(c)).as(s"dist_$c"))
      }
    val stackArgs = cols.map(c => s"'$c', null_$c, dist_$c").mkString(", ")
    events(spark, d).agg(aggs.head, aggs.tail: _*)
      .selectExpr("n_rows",
        s"stack(${cols.size}, $stackArgs) AS (column_name, n_null, n_distinct)")
      .select(col("column_name"), col("n_rows"), col("n_null"), col("n_distinct"))
  }

  /** q137: exact variance / standard deviation per group — the textbook
    * n·Σx²−(Σx)² identity is catastrophic-cancellation territory in
    * doubles, so built-in var_samp is NOT cross-engine reproducible.
    * Here values are quantized to cents once (round(value·100) — the
    * same double in, same long out, in both engines), every sum is an
    * exact DECIMAL(38,0)/HUGEINT integer, the numerator subtraction is
    * EXACT integer math, and only the final division/sqrt are (identical)
    * double ops. Same two-moment shape as Welford at scale: one pass,
    * map-side combinable, mergeable across shards by adding (n, Σ, Σ²).
    */
  def exactVariance(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val vc = round($"value" * 100).cast("long")
    val dec38 = "decimal(38,0)"
    events(spark, d)
      .select($"event_type", vc.as("vc"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"vc".cast(dec38)).as("sx"),
        sum(($"vc".cast("decimal(19,0)") * $"vc".cast("decimal(19,0)"))
          .cast(dec38)).as("sxx"))
      .select($"event_type", $"n",
        ($"sx".cast("double") / $"n".cast("double") / 100.0).as("mean"),
        // sample variance is undefined for a single observation — guard
        // the n·(n−1) = 0 division to NULL instead of 0/0 = NaN (the
        // oracle mirrors with CASE WHEN n >= 2)
        when($"n" >= 2L,
          (($"n".cast(dec38) * $"sxx" - $"sx" * $"sx").cast("double")
            / ($"n" * ($"n" - 1L)).cast("double") / 10000.0)).as("var_samp"),
        when($"n" >= 2L,
          sqrt(($"n".cast(dec38) * $"sxx" - $"sx" * $"sx").cast("double")
            / ($"n" * ($"n" - 1L)).cast("double") / 10000.0)).as("std_samp"))
  }

  /** q133: the TPC-H Q5 shape — local supplier volume: six-table
    * snowflake join (region → nation → {customer, supplier} → orders →
    * lineitem) with the "local" c_nationkey = s_nationkey correlation,
    * a region filter and a one-year date window, revenue as the exact
    * DECIMAL product-sum. The one classic OLAP shape the inventory
    * lacked: a join ORDER problem, not just a join.
    *
    * Scale: all four dimension tables are broadcast (region/nation are
    * rows, customer/supplier MBs at any SF — AQE picks broadcast
    * un-hinted; the plan audit pins it); the only data-bearing shuffle
    * is lineitem ⋈ orders on the order key, and the o_orderdate/r_name
    * filters reach the scans as PushedFilters so the fact scan prunes
    * row groups before the join. Catalyst's join reorder puts the
    * selective dims first — declare, don't hand-schedule.
    */
  def localSupplierVolume(spark: SparkSession, d: String,
      regionName: String = "ASIA", yearStart: String = "1996-01-01"): DataFrame = {
    import spark.implicits._
    val o = orders(spark, d)
      .filter($"o_orderdate" >= lit(yearStart).cast("timestamp") &&
        $"o_orderdate" < lit(yearStart).cast("timestamp") + expr("INTERVAL 1 YEAR"))
    lineitem(spark, d)
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(customer(spark, d), $"o_custkey" === $"c_custkey")
      .join(supplier(spark, d),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(nation(spark, d), $"s_nationkey" === $"n_nationkey")
      .join(region(spark, d).filter($"r_name" === regionName),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(stableProdSum($"l_extendedprice", lit(1.0) - $"l_discount")
        .as("revenue"), count(lit(1)).as("n_items"))
  }

  /** q130: semi-structured extraction — the `events.props` JSON payload
    * parsed with `from_json` (a typed schema projection, NOT a string
    * UDF: Jackson parse inside whole-stage codegen at the scan stage)
    * and aggregated per event type with exact integer stats. The
    * "schema-on-read over a JSON side-channel column" pattern every
    * event-log pipeline needs at 100 TB: the parse is map-only and
    * prunes to the one referenced field; only the tiny per-type
    * aggregate shuffles.
    */
  def propsExtract(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d)
      .select($"event_type",
        from_json($"props", "k BIGINT", Map.empty[String, String])
          .getField("k").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"k").as("n_k"),
        sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"))
  }

  /** Rollup (grouping-sets family): per (event_type, user) counts with
    * subtotal and grand-total rows; rollup keys are coalesced to 'ALL'
    * so the oracle compare has no null-vs-NaN ambiguity.
    */
  def rollupCounts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d)
      .rollup($"event_type", $"user_id")
      .agg(count(lit(1)).as("cnt"), stableSum($"value").as("sum_value"))
      .select(coalesce($"event_type", lit("ALL")).as("event_type"),
        coalesce($"user_id".cast("string"), lit("ALL")).as("user_id"),
        $"cnt", $"sum_value")
  }

  /** Pivot: daily event counts spread wide, one column per event type —
    * the long→wide report reshape of the Table-API grouped-aggregate
    * family. The pivot value list is EXPLICIT (the closed event-type
    * vocabulary), so there is no value-discovery scan and the output
    * column set is deterministic. Spark plans it two-phase — aggregate
    * on (day, type), then pivot on day — but only the first shuffle
    * carries data (map-side combine collapses the corpus to |days×types|
    * cells before it); the pivot aggregate runs on those cells.
    * n_total re-derives as the row-sum of the pivoted cells — the five
    * types partition the event space, so no second pass over the fact
    * table is needed.
    */
  def pivotEventCounts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = events(spark, d)
      .groupBy(to_date($"ts").as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    val filled = types.foldLeft(p) { (df, t) =>
      df.withColumn(t, coalesce(col(t), lit(0L))) }
    filled.select(($"day" +: types.map(t => col(t).as(s"n_$t"))) :+
      types.map(col).reduce(_ + _).as("n_total"): _*)
  }

  /** Cube (all 2² grouping sets over priority × status) with
    * grouping_id disambiguating the levels — the OLAP companion of
    * q37's rollup; rollup keys coalesce to 'ALL' per that query's
    * null-handling convention. The price measure quantizes to exact
    * cents before summation, so subtotal rows are integer-exact and
    * engine-order-independent.
    *
    * Scale: one Expand (×4 grouping sets) feeding one hash aggregate;
    * map-side partial agg collapses each grouping set to its group
    * count per partition before the single shuffle.
    */
  def cubeOrders(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    orders(spark, d)
      .cube($"o_orderpriority", $"o_orderstatus")
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        sum(round($"o_totalprice" * 100).cast("long")).as("total_cents"))
      .select(coalesce($"o_orderpriority", lit("ALL")).as("o_orderpriority"),
        coalesce($"o_orderstatus", lit("ALL")).as("o_orderstatus"),
        $"gid".cast("long").as("gid"), $"n_orders", $"total_cents")
  }

  /** Rolling per-key window statistics over the event stream: previous
    * value (lag), 4-row moving sum/count, and running max per user in
    * (ts, event_id) order — the lag/moving/cumulative feature family on
    * ONE shuffle. Values quantize to 1e6 integers first: windowed
    * DOUBLE sums are accumulation-structure-sensitive (a segment tree
    * and a running accumulator differ in ulps), integer sums are not.
    *
    * Scale: all four frames share one (partition, ordering) spec, so
    * the plan is a single hash partition on user_id + one sort within
    * partitions — no extra exchange per frame.
    */
  def rollingStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val mov = byUser.rowsBetween(-3, Window.currentRow)
    events(spark, d)
      .select($"event_id", $"user_id", $"ts",
        round($"value" * 1000000).cast("long").as("vq"))
      .select($"event_id", $"user_id", $"vq",
        lag($"vq", 1).over(byUser).as("prev_vq"),
        sum($"vq").over(mov).as("mov_sum_q"),
        count(lit(1)).over(mov).as("mov_n"),
        max($"vq").over(byUser).as("run_max_q"))
  }

  /** Exact percentiles per group (continuous interpolation — the
    * sort-based exact form; at 100 TB swap in approx_percentile's
    * mergeable sketch, same API shape).
    */
  def percentiles(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d)
      .groupBy($"event_type")
      .agg(percentile($"value", lit(0.5)).as("p50"),
        percentile($"value", lit(0.9)).as("p90"))
  }

  /** INTERSECT: users active in both clicks and purchases (set-semantic
    * intersection — plans as a left-semi over distincts).
    */
  def intersectUsers(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d).filter($"event_type" === "click").select($"user_id")
      .intersect(
        events(spark, d).filter($"event_type" === "purchase").select($"user_id"))
  }

  /** EXCEPT: users who viewed but never made a high-value signup (set difference —
    * plans as a left-anti over distincts).
    */
  def exceptUsers(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    events(spark, d).filter($"event_type" === "view").select($"user_id")
      .except(events(spark, d)
        .filter($"event_type" === "signup" && $"value" > 180.0)
        .select($"user_id"))
  }

  /** Vertex-set construction — union of edge endpoints, distinct
    * (gelly_java/PageRankWithEdgeWeights.java:78-83). Union is a no-shuffle
    * concat; the distinct is the one hash exchange.
    */
  def unionEndpoints(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    customer(spark, d).select($"c_nationkey".as("nationkey"))
      .union(supplier(spark, d).select($"s_nationkey".as("nationkey")))
      .distinct()
  }

  /** q151: SCD-2 history build — the other half of the CDC pair q143
    * (SCD-1 latest-record) started: turn the per-user event changelog
    * into versioned validity intervals. Each change row becomes
    * [valid_from, valid_to) under the (ts, event_id) total order —
    * `valid_to` = the next change's timestamp via `lead()`, the open
    * current version carrying the −1 sentinel (the q113 convention) and
    * `is_current = true`. The point-in-time-joinable dimension table
    * every warehouse derives from a change stream.
    *
    * Scale: ONE shuffle on the natural user key; `version` (row_number)
    * and `valid_to` (lead) ride the same window spec, so one
    * per-partition sort serves both — never a global ordering. Values
    * pass through untouched (no FP aggregation).
    */
  def scd2History(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tsu", $"event_id")
    events(spark, d)
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_micros($"ts").as("tsu"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_us", lead($"tsu", 1).over(w))
      .select($"user_id", $"version", $"event_id", $"event_type", $"value",
        $"tsu".as("valid_from_us"),
        coalesce($"valid_to_us", lit(-1L)).as("valid_to_us"),
        $"valid_to_us".isNull.as("is_current"))
  }

  /** Shared CMS register build: exact per-key counts (map-side combine
    * collapses the fact volume BEFORE the sketch fan-out, so the d-way
    * hash explosion touches |keys| rows, not |events|), then d md5
    * hashes per key added into a (row, bucket) register table of
    * ≤ d·w rows — mergeable by ADDITION across partitions, shards, or
    * days, which is the whole point of shipping a CMS beside the exact
    * q106 heavy hitters.
    */
  private def cmsRegisters(keyed: DataFrame, dRows: Int, w: Int)
      : (DataFrame, DataFrame) = {
    import keyed.sparkSession.implicits._
    val fan = keyed.select($"k", $"cnt",
      explode(array((0 until dRows).map { i =>
        struct(lit(i.toLong).as("r"),
          (graft.functions.Hashing
            .md5Bits32(concat(lit(s"cms:$i:"), $"k".cast("string")), 1)
            % w).as("b"))
      }: _*)).as("rb"))
      .select($"k", $"cnt", $"rb.r".as("r"), $"rb.b".as("b"))
    val reg = fan.groupBy($"r", $"b").agg(sum($"cnt").as("c"))
    (fan, reg)
  }

  /** q162: Count–Min frequency sketch (Cormode & Muthukrishnan 2005) —
    * d=4 md5 hash rows × w=256 buckets over per-user event counts, with
    * point estimates (min over rows) for the exact top-k users. The
    * estimate is always ≥ the exact count (one-sided error — a spec
    * law), within εN with ε = e/w at δ = e^-d. The mergeable-by-add
    * register table is what a 1000-executor fleet actually ships to the
    * driver: 1024 rows per corpus slice, independent of |users|.
    */
  def cmsUserCounts(spark: SparkSession, d: String,
      w: Int = 256, dRows: Int = 4, topK: Int = 20): DataFrame = {
    import spark.implicits._
    val uc = events(spark, d).groupBy($"user_id".as("k"))
      .agg(count(lit(1)).as("cnt"))
    val (fan, reg) = cmsRegisters(uc, dRows, w)
    val top = uc.orderBy($"cnt".desc, $"k").limit(topK)
      .select($"k", $"cnt".as("exact_cnt"))
    top.join(fan.select($"k", $"r", $"b"), "k")
      .join(reg, Seq("r", "b"))
      .groupBy($"k".as("user_id"), $"exact_cnt")
      .agg(min($"c").as("est_cnt"))
      .withColumn("over_cnt", $"est_cnt" - $"exact_cnt")
  }

  /** q163: sketch-based self-join-size estimation — the AMS/CMS second-
    * moment estimate a cost-based planner needs BEFORE running the join:
    * |lineitem ⋈ lineitem on partkey| = Σ_k df(k)² exactly, estimated as
    * min over CMS rows of Σ_b reg[r][b]² (each row's bucket-collision
    * sum upper-bounds F₂; the min is still ≥ F₂ — one-sided, a spec
    * law). The estimate reads 1024 register rows; the exact number needs
    * the full key histogram — that asymmetry is the operator.
    */
  def cmsSelfJoinSize(spark: SparkSession, d: String,
      w: Int = 256, dRows: Int = 4): DataFrame = {
    import spark.implicits._
    val pc = lineitem(spark, d).groupBy($"l_partkey".as("k"))
      .agg(count(lit(1)).as("cnt"))
    val (_, reg) = cmsRegisters(pc, dRows, w)
    // squares accumulate in DECIMAL(38,0) (≙ the oracle's HUGEINT) so a
    // 100 TB register count can't overflow the long product mid-sum; the
    // final scalar is cast down only at the output boundary
    val est = reg.groupBy($"r")
      .agg(sum($"c".cast("decimal(38,0)") * $"c").as("f2r"))
      .agg(min($"f2r").cast("long").as("est_sz"))
    val exact = pc
      .agg(sum($"cnt".cast("decimal(38,0)") * $"cnt").cast("long").as("exact_sz"))
    exact.crossJoin(est)
      .withColumn("over_q6",
        expr("(est_sz - exact_sz) * 1000000L div exact_sz"))
  }

  /** q172: cumulative HLL reach curve — distinct-users-so-far per
    * (event type, day), exact AND estimated from the q127 registers,
    * demonstrating the algebra that makes sketches the 100 TB answer:
    * per-day register tables MERGE by bucket-max, so "reach through day
    * D" is an aggregation over already-tiny per-day sketches — no
    * re-scan of history. The exact curve comes from first-occurrence
    * days (min day per user, one aggregate) + a cumulative count.
    *
    * Scale: the fact volume collapses to per-day register tables
    * (≤ types·days·256 rows) and a (type, user) first-day aggregate; the
    * day-grid range join is calendar-bounded (days² · 256 per type at
    * worst — thousands of rows per type-year, nothing scales with the
    * corpus).
    */
  def hllReachCurve(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val h = graft.functions.Hashing
      .md5Bits32(concat(lit("hll:"), $"user_id".cast("string")), 1)
    val base = events(spark, d)
      .select($"event_type", expr("unix_micros(ts) div 86400000000L").as("dy"),
        $"user_id", h.as("h"))
    val regs = base
      .select($"event_type", $"dy", $"h".bitwiseAND(lit(255L)).as("b"),
        shiftright($"h", 8).as("w"))
      .select($"event_type", $"dy", $"b",
        when($"w" === 0L, lit(25L))
          .otherwise(lit(25L) - length(bin($"w")).cast("long")).as("rank"))
      .groupBy($"event_type", $"dy", $"b").agg(max($"rank").as("m_j"))
    // grid from the register table, not a third pass over the events
    // (regs preserves the (type, day) set by construction)
    val grid = regs.select($"event_type", $"dy").distinct()
      .select($"event_type".as("g_type"), $"dy".as("g_dy"))
    // registers through day D (r17 rewrite): the old form range-joined
    // grid × regs on dy ≤ g_dy — O(days²·256) fan-out per type. The
    // cumulative bucket max is a RUNNING max instead: a (type, day,
    // bucket) skeleton left-joins each day's registers and a window per
    // (type, bucket) — ≤ |days| rows per group, calendar-bounded —
    // carries the max forward: O(days·256) rows per type. A bucket is
    // "present through D" iff its running max is non-null, exactly the
    // rows the range join produced; the HLL terms 2^-m are exact powers
    // of two (sums of ≤256 of them are exact in double), so the merge
    // order change cannot move a bit.
    val cumW = Window.partitionBy($"g_type", $"gb").orderBy($"g_dy")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .select($"g_type", $"g_dy",
        explode(sequence(lit(0L), lit(255L))).as("gb"))
      .join(regs, $"g_type" === $"event_type" && $"g_dy" === $"dy"
        && $"gb" === $"b", "left")
      .select($"g_type", $"g_dy", $"gb", max($"m_j").over(cumW).as("m_j"))
      .filter($"m_j".isNotNull)
    val sketch = cum.groupBy($"g_type", $"g_dy")
      .agg(count(lit(1)).as("nz"), sum(pow(lit(2.0), -$"m_j")).as("snz"))
      .select($"g_type", $"g_dy", (lit(256L) - $"nz").as("v_zero"),
        ((lit(256L) - $"nz").cast("double") + $"snz").as("s"))
    val raw = floor(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
      * lit(65536.0) / $"s").cast("long")
    val fo = base.groupBy($"event_type", $"user_id").agg(min($"dy").as("fod"))
      .groupBy($"event_type", $"fod").agg(count(lit(1)).as("nf"))
    // same running-scan shape for the exact curve: every grid day has at
    // least one first-occurrence ≤ it (its own users), so the running
    // sum matches the old inner range join row-for-row
    val exactW = Window.partitionBy($"g_type").orderBy($"g_dy")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exact = grid
      .join(fo, $"g_type" === $"event_type" && $"g_dy" === $"fod", "left")
      .select($"g_type", $"g_dy",
        sum(coalesce($"nf", lit(0L))).over(exactW).as("n_exact_cum"))
    exact.join(sketch, Seq("g_type", "g_dy"))
      .select($"g_type".as("event_type"), $"g_dy".as("dy"), $"n_exact_cum",
        $"v_zero", raw.as("hll_raw"),
        when($"v_zero" > 0L && raw <= lit(640L),
          element_at(typedLit(HllLcTable), ($"v_zero" + 1L).cast("int")))
          .otherwise(raw).as("hll_est"))
  }

  /** q201: SLIDING-window active users (the WAU curve) — q172's
    * cumulative reach turned into a rolling 7-day window: per observed
    * day D, the HLL estimate of distinct users active in [D−6, D],
    * with the exact distinct count beside it as the audit rung. The
    * window union is register algebra over the (day, bucket) table —
    * each day's 256 registers are EXPLODED to the ≤ `window` future
    * days they participate in and bucket-MAXed per target day, so the
    * sliding merge never revisits events: the corpus-sized work is the
    * one (day, bucket) register aggregate q172 already pays, and the
    * window pass touches |days|·window·256 sketch rows. `n_days`
    * counts the observed days inside each window (ramp-up days and
    * ingest gaps are visible instead of silently diluting the rate).
    *
    * Scale: exactly the mergeable-sketch discipline — per-day registers
    * are what a 100 TB log stores; any window size is a re-merge of
    * register rows, not a rescan. The exact audit column does one
    * window-exploded distinct over daily-distinct users — the declared
    * exact rung, dropped at deployment scale.
    */
  def slidingActives(spark: SparkSession, d: String,
      window: Int = 7): DataFrame = {
    import spark.implicits._
    val h = graft.functions.Hashing
      .md5Bits32(concat(lit("hll:"), $"user_id".cast("string")), 1)
    val base = events(spark, d)
      .select(expr("unix_micros(ts) div 86400000000L").as("dy"),
        $"user_id", h.as("h"))
    val regs = base
      .select($"dy", $"h".bitwiseAND(lit(255L)).as("b"),
        shiftright($"h", 8).as("w"))
      .select($"dy", $"b",
        when($"w" === 0L, lit(25L))
          .otherwise(lit(25L) - length(bin($"w")).cast("long")).as("rank"))
      .groupBy($"dy", $"b").agg(max($"rank").as("m_j"))
      // pinned (q196's register discipline): the fan-out, the day grid
      // and the merge all read this |days|·256-row table
      .cutLineage()
    // a day with any event has at least one register row, so the
    // observed-day grid derives from the PINNED registers — the second
    // event-log scan the base-side distinct paid is gone
    val days = regs.select($"dy").distinct()
    // each day's registers fan out to the window days they belong to;
    // only OBSERVED target days emit (semi join against the day grid)
    val win = regs
      .select(explode(sequence($"dy", $"dy" + (window - 1))).as("g_dy"),
        $"dy", $"b", $"m_j")
      .join(days.select($"dy".as("g_dy")), Seq("g_dy"), "left_semi")
    val merged = win.groupBy($"g_dy", $"b").agg(max($"m_j").as("m_j"))
    val nDays = win.select($"g_dy", $"dy").distinct()
      .groupBy($"g_dy").agg(count(lit(1)).as("n_days"))
    val sketch = merged.groupBy($"g_dy")
      .agg(count(lit(1)).as("nz"), sum(pow(lit(2.0), -$"m_j")).as("snz"))
      .select($"g_dy", (lit(256L) - $"nz").as("v_zero"),
        ((lit(256L) - $"nz").cast("double") + $"snz").as("s"))
    val raw = floor(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
      * lit(65536.0) / $"s").cast("long")
    val du = base.select($"dy", $"user_id").distinct()
    val exact = du
      .select(explode(sequence($"dy", $"dy" + (window - 1))).as("g_dy"),
        $"user_id")
      .join(days.select($"dy".as("g_dy")), Seq("g_dy"), "left_semi")
      .groupBy($"g_dy").agg(count_distinct($"user_id").as("exact_active"))
    sketch
      .join(broadcast(nDays), Seq("g_dy"))
      .join(exact, Seq("g_dy"))
      .select($"g_dy".as("dy"), $"n_days", $"v_zero", raw.as("hll_raw"),
        when($"v_zero" > 0L && raw <= lit(640L),
          element_at(typedLit(HllLcTable), ($"v_zero" + 1L).cast("int")))
          .otherwise(raw).as("hll_est"),
        $"exact_active")
  }

  /** q179: k-anonymity audit — group sizes over the quasi-identifier
    * (event_type, weekday, value bucket): the privacy-side complement of
    * q60's PII scan and q168's deletion audit. Rows whose QI group has
    * fewer than k members are re-identifiable by linkage; the audit
    * reports the minimum group size and the exact at-risk row mass
    * before any release/aggregation decision. Weekday via the q139
    * integer-calendar convention (engines number weekdays differently).
    *
    * Scale: one hash aggregate onto the QI grid (bounded by
    * types·7·buckets) with map-side combine, then a scalar aggregate.
    */
  def kAnonymityAudit(spark: SparkSession, d: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val qi = events(spark, d).select($"event_type",
      expr("(((unix_micros(ts) div 1000000L) div 86400L) + 4L) % 7L")
        .as("dow"),
      floor($"value" / 100.0).cast("long").as("value_bin"))
    qi.groupBy($"event_type", $"dow", $"value_bin")
      .agg(count(lit(1)).as("sz"))
      .agg(sum($"sz").as("n_rows"), count(lit(1)).as("n_groups"),
        min($"sz").as("min_group_size"),
        sum(($"sz" < k).cast("long")).as("n_small_groups"),
        sum(when($"sz" < k, $"sz").otherwise(0L)).as("n_rows_at_risk"))
      .withColumn("risk_q6", expr("n_rows_at_risk * 1000000L div n_rows"))
  }

  /** q167: join-skew advisor — the operational question behind every q33
    * salt and AQE skew split: for each audited join key, the exact key
    * histogram's shape (max/p50/p99 df, exact middle-rank picks — the
    * q129 rank convention, no interpolation), the skew ratio
    * max·keys/rows (how many× the hottest key exceeds the average), and
    * the ceil(max/avg) salt factor that would level it. The planner-side
    * diagnostic you run BEFORE a 100 TB join, on the key aggregate
    * (corpus-sublinear), not the join.
    *
    * Scale: per-key dfs are one hash aggregate each; the percentiles
    * then run on each relation's DEGREE HISTOGRAM (df → how many keys
    * have that df), never on the key table: m distinct degree values
    * satisfy m(m+1)/2 ≤ Σ df = n_rows, so m ≤ √(2·n_rows) — the
    * per-relation prefix-sum window over the histogram is provably
    * sublinear at any scale, and a billion-key relation contributes
    * at most ~√(2·rows) histogram rows to `Ranks.histPercentiles`' one
    * task (the bound argument for that operator here). The middle-rank
    * pick is the covering-class lookup (the class whose cumulative
    * key-count span [lo, hi] contains the target rank); ties on df
    * within a class all carry the same df, so the row-rank form's
    * (df, k) tiebreak cannot change the picked value.
    */
  def joinSkewAdvisor(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    def dfHist(df: DataFrame, rel: String, key: String): DataFrame =
      df.groupBy(col(key).cast("long").as("k"))
        .agg(count(lit(1)).as("df"))
        .groupBy(lit(rel).as("relation"), $"df")
        .agg(count(lit(1)).as("cnt"))
    val hist =
      dfHist(lineitem(spark, d), "lineitem.l_partkey", "l_partkey")
        .unionByName(dfHist(events(spark, d), "events.user_id", "user_id"))
    // the totals and both percentiles from ONE single-task pass over
    // the histogram (its n IS the key count, its sum the row count), so
    // the histogram has one consumer and needs no pin
    Ranks.histPercentiles(hist, "relation", "df", "cnt",
        Seq(50 -> "p50_df", 99 -> "p99_df"))
      .select($"relation", $"sum".as("n_rows"), $"n".as("n_keys"),
        $"max".as("max_df"), $"p50_df", $"p99_df",
        expr("max_df * n_keys * 1000000L div n_rows").as("skew_q6"),
        greatest(lit(1L),
          expr("(max_df * n_keys + n_rows - 1) div n_rows")).as("salt_factor"))
  }

  /** q168: deletion-propagation audit (right-to-be-forgotten) — for the
    * deterministic md5 1 % of customer keys, how many rows each derived
    * table would lose: orders directly, lineitem through the order FK,
    * events through the shared user-id space. The governance query every
    * pipeline owes its DPO, and a join-pruning rehearsal: the deleted-key
    * set is bounded (1 % of the DIMENSION, not the facts), so every
    * probe is a broadcast semi-join against a fact scan.
    */
  def deletionAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val del = customer(spark, d)
      .select($"c_custkey".as("k"))
      .filter(pmod(graft.functions.Hashing.md5Bits32(
        concat(lit("del:"), $"k".cast("string")), 1), lit(100L)) < 1)
    val delOrders = orders(spark, d)
      .join(broadcast(del), $"o_custkey" === $"k")
    def row(rel: String, rows: DataFrame, keyCol: String): DataFrame =
      rows.agg(count(lit(1)).as("n_rows"),
        countDistinct(col(keyCol)).as("n_keys"))
        .select(lit(rel).as("relation"), $"n_rows", $"n_keys")
    row("customer", del.select($"k"), "k")
      .unionByName(row("orders", delOrders.select($"o_custkey"), "o_custkey"))
      .unionByName(row("lineitem",
        lineitem(spark, d).join(broadcast(delOrders.select($"o_orderkey")),
          $"l_orderkey" === $"o_orderkey").select($"o_orderkey"), "o_orderkey"))
      .unionByName(row("events",
        events(spark, d).join(broadcast(del), $"user_id" === $"k")
          .select($"user_id"), "user_id"))
  }

  /** q169: referential-integrity audit — orphan counts for every FK edge
    * of the star schema (lineitem→orders/part/supplier, orders→customer,
    * customer/supplier→nation, nation→region). Each edge is one
    * broadcast-dim anti-join against the fact scan (dims are the small
    * side by construction); a healthy corpus reports zero orphans, and
    * the total row count pins that the probe actually scanned the edge.
    */
  def refIntegrityAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // One scan per FACT answers every FK edge of that fact (r17, guide
    // §2.4): the old shape ran TWO full aggregates per edge (a count
    // and a broadcast anti-join count) and cross-joined the scalars —
    // 14 fact-side passes, 6 of them over lineitem, and 7 one-row
    // nested-loop joins. Instead, left-join the fact against each
    // dim's DISTINCT pk set (row-preserving by construction even on a
    // corrupt dim with duplicated pks — the anti-join semantics) and
    // fold total + per-edge orphan counts in ONE aggregate; the edge
    // rows come back via one explode of a literal-shaped array. Orphan
    // counts coalesce to 0 on an empty fact, matching count()'s 0.
    // the dim pk sets are deliberately UN-HINTED (the round-5 tripScores
    // lesson): orders/part/supplier/customer grow with the corpus, so a
    // forced broadcast (the old shape) is a driver OOM at scale — AQE
    // broadcasts them while they fit and falls back to a shuffle join
    def probe(fact: DataFrame,
        edges: Seq[(String, String, DataFrame, String)]): DataFrame = {
      val joined = edges.foldLeft(fact) { case (f, (_, fk, dim, pk)) =>
        f.join(dim.select(col(pk)).distinct(), col(fk) === col(pk), "left")
      }
      val orphanAggs = edges.zipWithIndex.map { case ((_, _, _, pk), i) =>
        coalesce(sum(when(col(pk).isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"__orph_$i")
      }
      val rows = edges.zipWithIndex.map { case ((rel, _, _, _), i) =>
        struct(lit(rel).as("fk_edge"), $"n_total",
          col(s"__orph_$i").as("n_orphans"))
      }
      joined
        .agg(count(lit(1)).as("n_total"), orphanAggs: _*)
        .select(explode(array(rows: _*)).as("e"))
        .select($"e.fk_edge", $"e.n_total", $"e.n_orphans")
    }
    val li = lineitem(spark, d)
    probe(li.select($"l_orderkey", $"l_partkey", $"l_suppkey"), Seq(
        ("lineitem->orders", "l_orderkey", orders(spark, d), "o_orderkey"),
        ("lineitem->part", "l_partkey", part(spark, d), "p_partkey"),
        ("lineitem->supplier", "l_suppkey", supplier(spark, d), "s_suppkey")))
      .unionByName(probe(orders(spark, d).select($"o_custkey"),
        Seq(("orders->customer", "o_custkey", customer(spark, d), "c_custkey"))))
      .unionByName(probe(customer(spark, d).select($"c_nationkey"),
        Seq(("customer->nation", "c_nationkey", nation(spark, d), "n_nationkey"))))
      .unionByName(probe(supplier(spark, d).select($"s_nationkey"),
        Seq(("supplier->nation", "s_nationkey", nation(spark, d), "n_nationkey"))))
      .unionByName(probe(nation(spark, d).select($"n_regionkey"),
        Seq(("nation->region", "n_regionkey", region(spark, d), "r_regionkey"))))
  }
}
