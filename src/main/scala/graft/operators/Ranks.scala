package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Lineage
import graft.core.Lineage.CutOps

/** The two-phase distributed global rank — rankedVocab's machinery
  * (Text.scala) extracted so every operator that needs a total-order
  * rank (RFM quartiles, session percentile picks, curriculum order)
  * rides the same shape instead of a single-partition `Window.orderBy`:
  *
  *  1. `repartitionByRange` on the order columns (a sampled range
  *     shuffle — each partition owns a contiguous slice of the order),
  *  2. per-partition `row_number` (parallel local sorts),
  *  3. partition row counts folded to the driver in one narrow job
  *     over the cut → prefix offsets (|partitions| scalars, the A3
  *     closed-over-scalar shape),
  *  4. global rank = local rank + partition offset.
  *
  * The lineage cut pins the sampled range boundaries so the two
  * consumers (the count pass and the rank pass) see the SAME
  * partitioning — without it the range sampler may re-draw and offsets
  * would not match.
  *
  * The order MUST be total (include a tiebreak key), or ranks at
  * partition boundaries become sampling-dependent.
  *
  * Fixed cost per rank call = one counted input cut (a single job that
  * materializes the input and returns the row count that prices the
  * window/machinery dial) + on the machinery arm the range sample job,
  * the range shuffle/checkpoint and the offsets fold (~0.5–1.5 s at
  * sf0.1, amortizing constants at 100×). Queries that rank the SAME
  * base several times (three RFM quartiles, a signal committee) should
  * pin it once with `Lineage.counted` and call the `*Pinned` forms with
  * the pin's row count (k × rows for an unpivot of k metrics): the
  * counted cut computes the base NOW and every consumer — the range
  * sampler, the shuffle, a sibling aggregate — re-reads the pinned
  * partitions, so the input cut is paid once, and a pinned rank on the
  * window arm runs no job at construction.
  *
  * Window arm (n ≤ windowMaxRows): each form plans the window it
  * decomposes over the counted input — `globalRank` one global-order
  * window (a single-partition exchange of ≤ windowMaxRows rows, the
  * one declared "No Partition Defined for Window" site besides
  * `groupRank`'s prefix sum), `groupRowNumber` and the running scans
  * one window partitioned by their groups (a hash exchange, one sort,
  * no join). Plan once what the driver already holds: a count the
  * caller knows (a pin's rows, k metrics × n) is a literal, and
  * `groupRowNumber`'s `sizeCol` hands each row its group size instead
  * of a separate count aggregate and join.
  */
object Ranks {

  /** Covering-class spans over a CLASS HISTOGRAM (`cnt` rows per
    * (groups, value) class): appends the inclusive prefix count `hi`,
    * the span start `lo` = hi − cnt + 1, and the per-group total `n` —
    * the covering-class convention q121/q216 and the MAD median share
    * (`histPercentiles` walks the same spans in one task). A class
    * covers rank r iff lo ≤ r ≤ hi, so medians and rank-weighted sums
    * read off the histogram without ever ranking rows. The per-group
    * window is legitimate ONLY when the class count per group is
    * bounded by value cardinality rather than corpus rows — each
    * caller's scaladoc carries its bound argument.
    * `hi`/`lo`/`n` are RESERVED output names: a histogram already
    * carrying one would be silently overwritten, so that is an error.
    */
  def classSpans(hist: DataFrame, groups: Seq[Column], value: Column,
      cnt: Column): DataFrame = {
    val clash = hist.columns.toSet.intersect(Set("hi", "lo", "n"))
    require(clash.isEmpty,
      s"classSpans appends hi/lo/n; input already has ${clash.mkString(",")}")
    val scan = Window.partitionBy(groups: _*).orderBy(value)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("hi", sum(cnt).over(scan))
      .withColumn("lo", col("hi") - cnt + lit(1L))
      .withColumn("n", sum(cnt).over(Window.partitionBy(groups: _*)))
  }

  /** Percentile picks over a CLASS HISTOGRAM (`cnt` rows per
    * (group, value) class, `value` a long, `cnt` a positive long), in
    * ONE task: the histogram is coalesced to one partition and a
    * row-encoded `mapPartitions` sorts each group's classes by value
    * (nulls first, the window order `classSpans` uses) and, for each
    * (pct, outName), takes the value of the covering class of rank
    * ⌈pct·n/100⌉ = `(pct·n + 99) div 100`. Beside the picks it emits
    * what the callers fold over the same histogram: `n` = Σ cnt, `sum`
    * = Σ value·cnt and `max` = max value (both over non-null values,
    * null when there are none). Output: group, n, sum, max, picks —
    * one row per group. Arithmetic is `multiplyExact`/`addExact`, so a
    * sum that overflows a long throws, as Spark's ANSI sum does.
    *
    * Lazy: construction runs no job. The one task is legitimate ONLY
    * when the histogram is bounded by value cardinality rather than
    * corpus rows — each caller's scaladoc carries its bound argument.
    * Against the `classSpans` windows plus a group aggregate this is
    * one operator and one stage over the histogram, with no exchange
    * of its own.
    */
  def histPercentiles(hist: DataFrame, group: String, value: String,
      cnt: String, pcts: Seq[(Int, String)]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val outs = Seq("n", "sum", "max") ++ pcts.map(_._2)
    require(!outs.contains(group),
      s"histPercentiles emits ${outs.mkString(",")}; the group column is $group")
    val in = hist.select(col(group), col(value), col(cnt))
    require(in.schema(value).dataType == LongType && in.schema(cnt).dataType == LongType,
      s"histPercentiles reads long value and count columns: ${in.schema.simpleString}")
    val schema = StructType(Seq(in.schema(group)) ++
      Seq(StructField("n", LongType, nullable = false)) ++
      outs.tail.map(StructField(_, LongType, nullable = true)))
    val ps = pcts.map(_._1)
    in.coalesce(1).mapPartitions { rows =>
      val classes = scala.collection.mutable.LinkedHashMap
        .empty[Any, scala.collection.mutable.ArrayBuffer[(java.lang.Long, Long)]]
      rows.foreach { r =>
        classes.getOrElseUpdate(r.get(0), scala.collection.mutable.ArrayBuffer.empty) +=
          ((if (r.isNullAt(1)) null else r.getLong(1), r.getLong(2)))
      }
      classes.iterator.map { case (key, cs) =>
        val sorted = cs.sortBy(c => Option(c._1).map(_.longValue))
        val n = sorted.iterator.map(_._2).foldLeft(0L)(Math.addExact)
        val vals = sorted.filter(_._1 ne null)
        val sum = if (vals.isEmpty) null else java.lang.Long.valueOf(vals.iterator
          .map(c => Math.multiplyExact(c._1.longValue, c._2)).foldLeft(0L)(Math.addExact))
        val max = vals.lastOption.map(_._1).orNull
        val picks = ps.map { p =>
          val target = Math.addExact(Math.multiplyExact(p.toLong, n), 99L) / 100L
          // the first class whose span reaches the target covers it
          // unless the target precedes every span (p = 0)
          var hi = 0L
          sorted.find { case (_, c) => hi += c; target <= hi }
            .filter { case (_, c) => hi - c < target }.map(_._1).orNull
        }
        Row.fromSeq(Seq(key, n, sum, max) ++ picks)
      }
    }(Encoders.row(schema))
  }

  /** Append `rankCol` = SQL `rank()` within each group (ties share a
    * rank) WITHOUT a group-partitioned window: one `globalRank` under
    * the total order (groups, values, tiebreaks) — each group is a
    * contiguous range of that order, spread across many range
    * partitions — then per-group ranks recovered arithmetically:
    * rank = (min global rank of the row's (group, value) tie class)
    * − (group's first global rank) + 1. The tie-class minima are one
    * hash aggregate; the per-group offset table is |groups| rows,
    * broadcast. This is how a group whose population out-scales one
    * partition (a dominant language, a hot label) still ranks in
    * parallel.
    *
    * Implementation: rank() never needs ROW-level global ranks — only
    * per-class prefix counts. So the machinery runs on the (group,
    * value) CLASS HISTOGRAM, not the rows: one hash aggregate
    * (map-side combined) to |classes| rows, a distributed exclusive
    * prefix-sum of the class counts under the (groups, values) order
    * (the same range-partition + partition-offset construction as
    * `globalRank`, but over the histogram), the |groups|-row offset
    * broadcast, then ONE join of the |classes|-row rank table back to
    * the rows. The full row table is never range-shuffled or sorted —
    * the expensive phases touch |classes| ≤ |rows| rows, and a
    * dominant group still ranks in parallel (its classes spread over
    * many range partitions).
    *
    * When (groups ++ values) is ALREADY a total order (every tie class
    * a singleton), rank() == row_number() and `groupRowNumber` computes
    * the same column from row-level ranks directly — use it (a
    * singleton-class histogram would be as big as the rows).
    *
    * `groups` and `values` must be SIMPLE column references (the
    * re-join after the class aggregate keys on their names); compute
    * derived keys into named columns first. NULL group/value keys are
    * re-joined with null-safe equality (`<=>`), matching the
    * nulls-first window-rank semantics this replaces. There is no
    * tiebreak parameter: rank() is a class-level min, so tiebreak
    * columns cannot affect the output — callers needing a per-row
    * total order want `groupRowNumber`.
    */
  def groupRank(df: DataFrame, rankCol: String, groups: Seq[Column],
      values: Seq[Column]): DataFrame =
    groupRankImpl(df, rankCol, groups, values, prePinned = false)

  /** `groupRank` over a base already pinned by `Lineage.counted` (or a
    * prior rank's checkpointed output) — skips the per-call pin.
    */
  def groupRankPinned(df: DataFrame, rankCol: String, groups: Seq[Column],
      values: Seq[Column]): DataFrame =
    groupRankImpl(df, rankCol, groups, values, prePinned = true)

  private def groupRankImpl(df: DataFrame, rankCol: String,
      groups: Seq[Column], values: Seq[Column],
      prePinned: Boolean): DataFrame = {
    // the base feeds two consumers (the histogram and the final join) —
    // pin it so the upstream lineage runs once
    val base = if (prePinned) df else Lineage.counted(df).df
    val classes = base.groupBy(groups ++ values: _*)
      .agg(count(lit(1)).as("__cnt"))
    val classNames = classes.columns.dropRight(1).toSeq
    val groupNames = classNames.take(groups.size)
    val cp = prefixSumImpl(classes, "__pfx", groups ++ values)
    val goff = cp.groupBy(groups: _*).agg(min(col("__pfx")).as("__goff"))
    val classRanks = joinNullSafe(cp, goff, groupNames, bcast = true)
      .withColumn("__crank", col("__pfx") - col("__goff") + lit(1L))
      .select(classNames.map(col) :+ col("__crank"): _*)
    joinNullSafe(base, classRanks, classNames, bcast = false)
      .withColumn(rankCol, col("__crank"))
      .drop("__crank")
  }

  /** Distributed EXCLUSIVE prefix sum of `__cnt` under the given total
    * order — `globalRank`'s construction with the per-partition offset
    * carrying the running WEIGHT instead of the row count: range
    * shuffle, per-partition running sum, driver-collected per-partition
    * weight totals as offsets.
    */
  /** Inputs at or under this row count take the single-sorted-task
    * window path in the rank/scan machinery instead of the
    * range-partitioned construction: one sorted scan of ≤ 2^18 slim
    * rows is cheaper than the sample job + range shuffle + offsets
    * collect it replaces — on a 1000-executor cluster as much as on
    * local[32] (the machinery exists for inputs that OUTGROW one
    * task, and engaging it below that size only adds exchanges). The
    * AQE move: pick the physical strategy from a runtime statistic;
    * both paths produce identical values under the required total
    * order, so the dial is invisible to callers and oracles
    * (RanksSpec pins the equality, PlanShapeSpec pins both arms).
    * Override via `spark.graft.rank.windowMaxRows` (0 forces the
    * machinery; the count that prices the dial also materializes the
    * persist the range sampler would have paid for anyway).
    */
  private def windowMaxRows(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.rank.windowMaxRows")
      .map(_.toLong).getOrElse(1L << 18)

  /** The dial predicate: bound 0 forces the machinery even on an empty
    * input (the documented contract — `n <= 0` would otherwise route a
    * 0-row frame through the window arm under a forced-machinery conf).
    */
  private def takesWindowArm(spark: org.apache.spark.sql.SparkSession,
      n: Long): Boolean = {
    val bound = windowMaxRows(spark)
    bound > 0 && n <= bound
  }

  private def prefixSumImpl(df: DataFrame, outCol: String,
      order: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    // one job: the counted cut materializes the input (the range sampler
    // would have paid it anyway) and its count prices the small-side dial
    val pin = Lineage.counted(df)
    val input = pin.df
    if (takesWindowArm(spark, pin.rows)) {
      // |classes| fits one sorted scan task — the exclusive prefix sum
      // is a global-order window (one single-partition exchange over
      // histogram rows, never corpus rows); checkpoint pins the result
      // for its two consumers exactly like the machinery path.
      // Declared single-partition window: the counted pin proves the
      // input holds ≤ windowMaxRows rows, so Spark's "No Partition
      // Defined for Window" WARN from this line is expected and bounded
      // (PlanShapeSpec pins that the arm appears only under the bound)
      val w = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val out = input
        .withColumn(outCol, sum(col("__cnt")).over(w) - col("__cnt"))
        .cutLineage()
      Lineage.release(input)
      return out
    }
    val parted = input
      .repartitionByRange(parts, order: _*)
      .withColumn("__pid", spark_partition_id())
      .cutLineage()
    Lineage.release(input)
    val offsets = partitionOffsets(parted, "__pid", Some("__cnt"), parts,
      "prefixSum partition offsets (|partitions| rows)")
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted
      .withColumn(outCol,
        sum(col("__cnt")).over(w) - col("__cnt")
          + element_at(typedLit(offsets), col("__pid")))
      .drop("__pid")
  }

  /** The fast path for the most common call shape: `rankCol` =
    * `row_number()` within each group under `order`, which MUST be a
    * total order within the group (include a unique tiebreak — doc_id,
    * user_id…). Identical to `groupRank(groups, order, Seq())` when
    * the order is total (every tie class is a singleton, so rank ==
    * row_number — the q100 comment made law), but skips the tie-class
    * aggregate and its full-table shuffle join.
    *
    * Within the dial (n ≤ windowMaxRows) this IS the per-group window
    * it decomposes — `row_number() over (partition by groups order by
    * order)`, one hash exchange on the groups, one sort, one Window —
    * legitimate because no group can exceed the counted bound. Above
    * it, per-group rank = global rank − (group's first global rank) +
    * 1, with the |groups|-row offset table broadcast.
    *
    * `sizeCol`, when given, appends each row's group size (long) —
    * `count(1) over (partition by groups)`, evaluated in the same
    * Window as the rank on the window arm and folded into the offset
    * aggregate on the machinery arm — so callers that need n for a
    * percentile target or a bucket need no separate count join.
    * Output columns: the input's, then `sizeCol`, then `rankCol`.
    */
  def groupRowNumber(df: DataFrame, rankCol: String, groups: Seq[Column],
      order: Seq[Column], sizeCol: Option[String] = None): DataFrame =
    groupRowNumberImpl(df, rankCol, groups, order, pinnedRows = None, sizeCol)

  /** `groupRowNumber` over a `Lineage.counted` pin of `rows` rows, or a
    * frame cheap to recompute from one: a narrow projection (k ×
    * the pin's rows for an unpivot of k metrics) or a pinned scan's
    * output. Above the dial the range sampler and the shuffle each
    * re-read it.
    */
  def groupRowNumberPinned(df: DataFrame, rows: Long, rankCol: String,
      groups: Seq[Column], order: Seq[Column],
      sizeCol: Option[String] = None): DataFrame =
    groupRowNumberImpl(df, rankCol, groups, order, Some(rows), sizeCol)

  private def groupRowNumberImpl(df: DataFrame, rankCol: String,
      groups: Seq[Column], order: Seq[Column], pinnedRows: Option[Long],
      sizeCol: Option[String]): DataFrame = {
    val (input, n) = countedInput(df, pinnedRows)
    if (takesWindowArm(df.sparkSession, n)) {
      // the size rides the rank's own (partition, order) spec with a
      // whole-partition frame, so both land in ONE Window over one sort
      val w = Window.partitionBy(groups: _*).orderBy(order: _*)
      val sized = sizeCol.fold(input)(s => input.withColumn(s,
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing))))
      return sized.withColumn(rankCol, row_number().over(w).cast("long"))
    }
    val gr = rankMachinery(input, "__gr", groups ++ order,
      releaseInput = pinnedRows.isEmpty)
    val goff = gr.groupBy(groups: _*).agg(min(col("__gr")).as("__goff"),
      sizeCol.map(s => count(lit(1)).as(s)).toSeq: _*)
    val groupNames = goff.columns.take(groups.size).toSeq
    joinNullSafe(gr, goff, groupNames, bcast = true)
      .withColumn(rankCol, col("__gr") - col("__goff") + lit(1L))
      .drop("__gr", "__goff")
  }

  /** Inclusive per-group running SUM of `weight` under `order` — the
    * distributed replacement for
    * `sum(w).over(Window.partitionBy(groups).orderBy(order).rowsBetween(
    * unboundedPreceding, currentRow))`, whose hot group is one sort
    * partition at scale. The q53 construction with RANGE cells (hash
    * cells cannot carry an order-dependent scan):
    *
    *  1. range-shuffle rows on (groups, order) — a group's rows spread
    *     over many contiguous partitions,
    *  2. per-(partition, group) weight totals — ≤ |partitions| +
    *     |groups| rows (groups are contiguous under the range order, so
    *     each partition holds few groups and each group spans
    *     consecutive partitions),
    *  3. each cell's carried offset = the scan over the TINY cell table
    *     (per group, ordered by partition id — ≤ |partitions| rows per
    *     group, no skew),
    *  4. in-partition running scan + carried offset.
    *
    * Fully distributed — no driver collect; the offset join is a
    * null-safe equi-join on (partition, group) that AQE broadcasts when
    * small. `order` must be total within each group for a deterministic
    * scan.
    */
  def groupRunningSum(df: DataFrame, outCol: String, groups: Seq[Column],
      order: Seq[Column], weight: Column): DataFrame =
    groupScanImpl(df, outCol, groups, order, weight, isMax = false,
      exclusive = false, pinnedRows = None)

  /** EXCLUSIVE per-group running MAX of `value` under `order` — the
    * distributed replacement for `max(v).over(Window.partitionBy(groups)
    * .orderBy(order).rowsBetween(unboundedPreceding, -1))`; NULL on each
    * group's first row, like the window form. Same construction as
    * `groupRunningSum` with max as the scan monoid.
    */
  def groupRunningMaxExcl(df: DataFrame, outCol: String, groups: Seq[Column],
      order: Seq[Column], value: Column): DataFrame =
    groupScanImpl(df, outCol, groups, order, value, isMax = true,
      exclusive = true, pinnedRows = None)

  /** `groupRunningMaxExcl` over a `Lineage.counted` pin of `rows` rows
    * — skips the per-call counted cut, so a caller that scans and then
    * ranks the same rows pays one cut for both.
    */
  def groupRunningMaxExclPinned(df: DataFrame, rows: Long, outCol: String,
      groups: Seq[Column], order: Seq[Column], value: Column): DataFrame =
    groupScanImpl(df, outCol, groups, order, value, isMax = true,
      exclusive = true, pinnedRows = Some(rows))

  private def groupScanImpl(df: DataFrame, outCol: String,
      groups: Seq[Column], order: Seq[Column], weight: Column,
      isMax: Boolean, exclusive: Boolean,
      pinnedRows: Option[Long]): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    val (input, n) = countedInput(df.withColumn("__w", weight), pinnedRows)
    def comb(c: Column) = if (isMax) max(c) else sum(c)
    if (takesWindowArm(spark, n)) {
      // the whole input fits sorted tasks: this IS the window form the
      // machinery decomposes (its scaladoc's "distributed replacement
      // for"), legitimate again because no group can exceed the pinned
      // row bound; the pin keeps multi-consumer callers re-reading
      val w = Window.partitionBy(groups: _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding,
          if (exclusive) -1 else Window.currentRow)
      return input.withColumn(outCol, comb(col("__w")).over(w)).drop("__w")
    }
    val parted = input
      .repartitionByRange(parts, groups ++ order: _*)
      .withColumn("__pid", spark_partition_id())
      .cutLineage()
    if (pinnedRows.isEmpty) Lineage.release(input)
    val cellNames = "__pid" +: groups.map(g =>
      parted.select(g).columns.head)
    val cells = parted.groupBy(col("__pid") +: groups: _*)
      .agg(comb(col("__w")).as("__cw"))
    // carried offset: the exclusive scan over each group's cell row —
    // per group ≤ |partitions| rows, ordered by partition id
    val offW = Window.partitionBy(groups: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cells
      .withColumn("__off", comb(col("__cw")).over(offW))
      .select(cellNames.map(col) :+ col("__off"): _*)
    val inW = Window.partitionBy(col("__pid") +: groups: _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding,
        if (exclusive) -1 else Window.currentRow)
    val within = comb(col("__w")).over(inW)
    val combined =
      if (isMax) greatest(within, col("__off")) // greatest skips NULLs
      else within + coalesce(col("__off"),
        if (isMax) lit(null) else lit(0L).cast("long"))
    joinNullSafe(parted, offsets, cellNames, bcast = false)
      .withColumn(outCol, combined)
      .drop("__pid", "__w", "__off")
  }

  /** Exclusive offsets by partition id of a range-cut table: pid → the
    * total `weight` (or row count when `weight` is None) of every lower
    * pid. One narrow fold over the cut, not an aggregate + collect — the
    * cut is already materialized, so the totals need no shuffle.
    */
  private[graft] def partitionOffsets(parted: DataFrame, pid: String,
      weight: Option[String], parts: Int, what: String): Map[Int, Long] = {
    val totals = graft.core.Bounded.fold(
        parted.select(col(pid) +: weight.toSeq.map(col): _*),
        new graft.core.Bounded.Sums[Int](parts.toLong))(
        (s, r) => s.add(r.getInt(0),
          if (weight.isEmpty) null else r.getAs[java.lang.Long](1)),
        _ merge _)
      .result(what)
    val sizes = totals.toSeq.map { case (p, (sum, rows)) =>
      (p, if (weight.isEmpty) rows else sum.longValue) }.sortBy(_._1)
    sizes.map(_._1).zip(sizes.scanLeft(0L)(_ + _._2)).toMap
  }

  /** Null-safe equi-join on shared key column NAMES: the right side's
    * keys are renamed and matched with `<=>` so NULL keys pair up
    * (window ranks order nulls first; a plain using-join would
    * silently drop null-keyed rows — the round-10 advice). `<=>` is
    * still an equi-join key to the planner, so hash/broadcast
    * strategies apply as before.
    */
  private def joinNullSafe(left: DataFrame, right: DataFrame,
      keys: Seq[String], bcast: Boolean): DataFrame = {
    val renamed = keys.foldLeft(right)((r, k) => r.withColumnRenamed(k, "__r_" + k))
    val rhs = if (bcast) broadcast(renamed) else renamed
    // plain col() refs: the rename makes every key name unique across
    // the two sides, sidestepping same-lineage attribute ambiguity
    val cond = keys.map(k => col(k) <=> col("__r_" + k)).reduce(_ && _)
    left.join(rhs, cond).drop(keys.map("__r_" + _): _*)
  }

  /** Append `rankCol` (1-based, long) under the given total order. */
  def globalRank(df: DataFrame, rankCol: String, order: Column*): DataFrame =
    rankImpl(df, rankCol, order, pinnedRows = None)

  /** `globalRank` over a base already pinned by `Lineage.counted` (or a
    * narrow projection of one) holding `rows` rows — skips the per-call
    * cut (the range sampler and the shuffle both re-read the pinned
    * partitions directly) and, on the window arm, runs no job.
    */
  def globalRankPinned(df: DataFrame, rows: Long, rankCol: String,
      order: Column*): DataFrame =
    rankImpl(df, rankCol, order, Some(rows))

  private def rankImpl(df: DataFrame, rankCol: String, order: Seq[Column],
      pinnedRows: Option[Long]): DataFrame = {
    val (input, n) = countedInput(df, pinnedRows)
    if (takesWindowArm(df.sparkSession, n)) {
      // the whole input fits one sorted task: rank the pinned input (its
      // consumers re-read the pin) with one global-order window (one
      // single-partition exchange of ≤ windowMaxRows slim rows); under
      // the required total order this is the machinery's local-rank +
      // offset, bit for bit. Declared single-partition window: n is the
      // pin's row count, ≤ windowMaxRows, so Spark's "No Partition
      // Defined for Window" WARN from this line is expected and bounded
      // (PlanShapeSpec pins that the arm appears only under the bound)
      return input.withColumn(rankCol,
        row_number().over(Window.orderBy(order: _*)).cast("long"))
    }
    rankMachinery(input, rankCol, order, releaseInput = pinnedRows.isEmpty)
  }

  /** A rank input and its row count: a pinned caller's frame and rows as
    * given (no job), else one counted cut of `df` — a single job that
    * materializes the input (the range sampler would have paid that
    * anyway) and returns the count that prices the small-side dial.
    */
  private def countedInput(df: DataFrame,
      pinnedRows: Option[Long]): (DataFrame, Long) = pinnedRows match {
    case Some(rows) => (df, rows)
    case None =>
      val pin = Lineage.counted(df)
      (pin.df, pin.rows)
  }

  /** The range-partitioned global rank over a counted input.
    * repartitionByRange SAMPLES its input in a separate job before the
    * shuffle, so the input must be cheap to re-read (a counted cut or a
    * caller's pin). `releaseInput` drops the input's checkpoint blocks
    * once the range table is cut — only for a cut this call made; a
    * caller's pin is the caller's to keep.
    */
  private def rankMachinery(input: DataFrame, rankCol: String,
      order: Seq[Column], releaseInput: Boolean): DataFrame = {
    val parts = input.sparkSession.sparkContext.defaultParallelism
    val parted = input
      .repartitionByRange(parts, order: _*)
      .withColumn("__pid", spark_partition_id())
      .cutLineage()
    if (releaseInput) Lineage.release(input)
    val offsets = partitionOffsets(parted, "__pid", None, parts,
      "groupRowNumber partition offsets (|partitions| rows)")
    parted
      .withColumn(rankCol, row_number().over(
        Window.partitionBy(col("__pid")).orderBy(order: _*)).cast("long")
        + element_at(typedLit(offsets), col("__pid")))
      .drop("__pid")
  }

  /** Per-group top-k as ONE aggregate operator — no window, no salt, no
    * row_number anywhere (round-11 verdict, next-round item 5): the
    * native `plans.TopKRowsAgg` aggregate keeps a k-heap per group per
    * partition (map-side partial aggregation — the hot group folds in
    * parallel everywhere it lives), heaps MERGE in the one group
    * shuffle (≤ |partitions|·k rows per group cross the wire), and
    * `posexplode` of the ascending-sorted emission turns the retained
    * set into (row, rank) output. This is the native grouped
    * `TakeOrderedAndProject` the salted two-window form approximated:
    * one operator, O(n log k) fold, never a sort of the raw rows.
    *
    * `sortStruct` must be a struct whose ASCENDING lexicographic order
    * is the desired rank order (negate descending numeric keys) and
    * must embed a unique tiebreak so the retained set and the emission
    * order are deterministic; payload columns ride as extra trailing
    * struct fields (they participate in ordering only after the
    * tiebreak, i.e. never). Output: the group columns, then the struct
    * fields, then `rankCol` (1-based int, rank 1 = first in ascending
    * struct order).
    */
  def groupTopK(df: DataFrame, k: Int, rankCol: String,
      groups: Seq[Column], sortStruct: Column): DataFrame = {
    val agg = df.groupBy(groups: _*)
      .agg(graft.plans.TopKRowsAgg.topKRows(sortStruct, k).as("__tk"))
    val groupNames = agg.columns.dropRight(1).toSeq
    val structFields = df.select(sortStruct.as("__s")).schema
      .fields(0).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq
    agg
      .select(groupNames.map(col) :+
        posexplode(col("__tk")).as(Seq("__p", "__s")): _*)
      .select(groupNames.map(col) ++
        structFields.map(f => col(s"__s.$f").as(f)) :+
        (col("__p") + 1).cast("int").as(rankCol): _*)
  }
}
