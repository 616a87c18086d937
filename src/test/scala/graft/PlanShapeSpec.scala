package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan guarantees for the round-10 audit family — the shapes
  * that make them 100 TB-safe, pinned so a regression (a lost broadcast,
  * a surprise nested loop, a dropped memo) fails loudly rather than
  * silently becoming a quadratic plan.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q158 vocabulary self-join reuses ONE memoized tokenize pass") {
    val p = plan(graft.operators.Text.vocabOverlap(spark, sf))
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"expected the memo-cached vocab set to be reused:\n$p")
  }

  test("q160 attribution pairs by hash join on user_id, not a nested loop") {
    val p = plan(graft.operators.Windowed.linearAttribution(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range residual must ride the user_id equi-join:\n$p")
  }

  test("q162 CMS registers fan out AFTER the per-key aggregate") {
    val df = graft.operators.Relational.cmsUserCounts(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    // the explode (register fan-out) must sit above the user aggregate,
    // so the d-way expansion touches |keys| rows, not |events|
    val genIdx = p.indexOf("Generate explode")
    val aggIdx = p.indexOf("Aggregate", genIdx)
    assert(genIdx >= 0 && aggIdx > genIdx,
      s"explode must consume the aggregate, not the raw scan:\n$p")
  }

  test("q172 reach grid joins hash-partitioned on the type key") {
    val p = plan(graft.operators.Relational.hllReachCurve(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") || !p.contains("Inner BuildLeft"),
      s"day-range residual must ride the type equi-join:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q165/q174 ranks are pinned; the dial's machinery arm engages on demand") {
    for ((name, df) <- Seq(
        ("q165", graft.operators.Windowed.rfmSegments(spark, sf)),
        ("q174", graft.operators.Windowed.sessionStats(spark, sf)))) {
      val p = plan(df)
      // at spec scale the rank base sits under the 2^18 dial, so the
      // plan reads the pinned (checkpointed) base and one sorted task
      // ranks it; the machinery arm is pinned separately below
      assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
        s"$name: expected the checkpointed rank base:\n$p")
    }
  }

  test("rank dial: forcing windowMaxRows=0 engages the range machinery") {
    import spark.implicits._
    val df = spark.range(100).select($"id".as("v"))
    val small = plan(graft.operators.Ranks.globalRank(df, "r", $"v".asc))
    assert(small.contains("ExistingRDD") && !small.contains("__pid"),
      s"under the dial a small input must rank as one pinned sorted task:\n$small")
    spark.conf.set("spark.graft.rank.windowMaxRows", "0")
    try {
      val big = plan(graft.operators.Ranks.globalRank(df, "r", $"v".asc))
      assert(big.contains("__pid"),
        s"windowMaxRows=0 must engage the range-partitioned machinery:\n$big")
    } finally spark.conf.unset("spark.graft.rank.windowMaxRows")
  }

  /** Plans `build` and counts the "No Partition Defined for Window" WARN
    * lines Spark logs meanwhile: the witness that a single-partition
    * window was planned.
    */
  private def singlePartitionWarns(build: => org.apache.spark.sql.DataFrame): Int =
    graft.core.Profile.span(spark)(plan(build))._2.warns
      .count(_.contains("No Partition Defined for Window"))

  test("rank dial: the single-partition windows appear only within windowMaxRows") {
    import spark.implicits._
    // 100 rows; 30 (g, b) classes feed groupRank's prefix sum
    val df = spark.range(100).select($"id".as("v"), ($"id" % 10).as("g"),
      ($"id" % 3).as("b"))
    def windowWarns(bound: Long)(build: => org.apache.spark.sql.DataFrame): Int = {
      spark.conf.set("spark.graft.rank.windowMaxRows", bound.toString)
      try singlePartitionWarns(build)
      finally spark.conf.unset("spark.graft.rank.windowMaxRows")
    }
    assert(windowWarns(100)(graft.operators.Ranks.globalRank(df, "r", $"v".asc)) > 0)
    assert(windowWarns(99)(graft.operators.Ranks.globalRank(df, "r", $"v".asc)) == 0)
    def classRank = graft.operators.Ranks.groupRank(df, "rk", Seq($"g"), Seq($"b"))
    assert(windowWarns(30)(classRank) > 0)
    assert(windowWarns(29)(classRank) == 0)
  }

  test("groupRowNumber window arm: one Window partitioned by the groups, no join") {
    import spark.implicits._
    val df = spark.range(100).select($"id".as("v"), ($"id" % 10).as("g"))
    for (size <- Seq(None, Some("n"))) {
      def rank = graft.operators.Ranks.groupRowNumber(df, "r", Seq($"g"),
        Seq($"v"), sizeCol = size)
      assert(singlePartitionWarns(rank) == 0,
        s"size=$size: groupRowNumber planned a single-partition window")
      val p = plan(rank)
      val windows = "(?m)^\\W*Window \\[".r.findAllIn(p).length
      assert(windows == 1, s"size=$size: want one Window, found $windows:\n$p")
      assert("""Window \[.*\[g#\d+L?\], \[v#\d+L? ASC""".r.findFirstIn(p).nonEmpty,
        s"size=$size: the Window must partition by the groups:\n$p")
      assert(!p.contains("BroadcastHashJoin"), s"size=$size: no offset join:\n$p")
    }
  }

  test("q20 heap top-k equals the window rung; plan has no window at all") {
    val heap = graft.operators.Relational.topKOrders(spark, sf)
    val win = graft.operators.Relational.topKOrdersWindow(spark, sf)
    assert(heap.exceptAll(win).isEmpty && win.exceptAll(heap).isEmpty,
      "heap top-k drifted from the single-window form")
    val p = plan(heap)
    // ONE aggregate operator: the bounded heap runs in
    // ObjectHashAggregate with a partial (map-side) mode — no
    // row_number, no Window, no sort of the raw rows
    assert(p.contains("ObjectHashAggregate") && p.contains("topk_rows"),
      s"expected the native bounded-heap aggregate:\n$p")
    assert(!p.contains("Window"), s"no window may remain in the heap form:\n$p")
    assert(p.contains("partial_topk_rows"),
      s"map-side partial heaps must fold before the shuffle:\n$p")
  }

  test("q214/q217: the new heap-top-k riders keep the no-window plan shape") {
    for ((name, df) <- Seq(
        "q214" -> graft.operators.Relational.trendingTypes(spark, sf),
        "q217" -> graft.operators.Relational.hillTail(spark, sf))) {
      val p = plan(df)
      assert(p.contains("topk_rows"),
        s"$name must ride the native bounded-heap aggregate:\n$p")
      assert(!p.contains("Window"), s"$name: no window may appear:\n$p")
      assert(p.contains("partial_topk_rows"),
        s"$name: map-side partial heaps must fold before the shuffle:\n$p")
    }
  }

  test("q116 score aggregate rides the doc_id pre-partitioning — no (query, doc) exchange") {
    val p = graft.operators.Retrieval.bm25TopK(spark, sf)
      .queryExecution.executedPlan.toString
    // the weight table is cached pre-partitioned by doc_id and the
    // broadcast query join preserves it, so HashPartitioning(doc_id)
    // satisfies the (query_id, doc_id) clustering — a regression shows
    // up as an Exchange keyed on BOTH columns over the candidate stream
    val sig = """Exchange hashpartitioning\(query_id#\d+, doc_id#\d+""".r
    assert(sig.findFirstIn(p).isEmpty,
      s"the ~Σdf(t)-row candidate stream must never shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastQueryStage"),
      s"query terms must broadcast into the posting scan:\n$p")
  }

  test("q169 FK probes: one pass per fact, no scalar nested loops") {
    // r17 shape: each fact is scanned ONCE and left-joins every dim's
    // distinct pk set (orphan == null pk) in one aggregate — the old
    // two-aggregates-per-edge form cross-joined one-row scalars (bnlj)
    // and scanned lineitem six times
    val p = plan(graft.operators.Relational.refIntegrityAudit(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no scalar cross-joins in the audit:\n$p")
    assert(p.contains("LeftOuter"),
      s"facts must probe their dims via row-preserving left joins:\n$p")
    val liScans = p.sliding("lineitem.parquet".length).count(_ == "lineitem.parquet")
    assert(liScans <= 1,
      s"the three lineitem FK edges must share ONE fact scan, saw $liScans:\n$p")
  }

  test("q191 equi-depth rank reads a pinned base, never a bare type sort") {
    val p = plan(graft.operators.Relational.equiDepthHist(spark, sf))
    // at spec scale the dial takes the pinned single-sorted-task arm;
    // the machinery arm is pinned by the rank-dial test above
    assert(p.contains("ExistingRDD"),
      s"expected the checkpointed rank base:\n$p")
  }

  test("q188 phash candidates come from the band equi-join, not an all-pairs loop") {
    val p = plan(graft.multimodal.Multimodal.phashPairs(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"phash pair join must stay a hash equi-join on the band key:\n$p")
  }

  test("q192 probe-sweep top-k rides the native bounded-heap aggregate; candidates hash-join on list id") {
    val p = plan(graft.operators.Similarity.ivfProbeSweep(spark, sf))
    assert(p.contains("topk_rows") && p.contains("partial_topk_rows"),
      s"all (budget, query) top-k sets must fold map-side k heaps:\n$p")
    assert(!p.contains("Window"),
      s"no per-query window may rank the scored candidates:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere in the sweep:\n$p")
  }

  test("q194 negative sampling: equi-joins only, the sole nested loop is the 1-row |V| broadcast") {
    val p = plan(graft.operators.Graph.negativeSamples(spark, sf))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    val bnlj = p.sliding("BroadcastNestedLoopJoin".length + 200)
      .count(_.startsWith("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the scalar |V| broadcast may nest:\n$p")
  }

  test("q229 two-NN rides the native bounded-heap aggregate, no window") {
    val p = plan(graft.operators.Similarity.twoNNDim(spark, sf))
    assert(p.contains("topk_rows") && p.contains("partial_topk_rows"),
      s"q229 must fold map-side k=2 heaps:\n$p")
    assert(!p.contains("Window"), s"q229: no window may appear:\n$p")
  }

  test("q232/q236 global-order windows consume AGGREGATES, never corpus rows") {
    for ((name, df) <- Seq(
        "q232" -> graft.operators.Sampling.ksSplitAudit(spark, sf),
        "q236" -> graft.operators.Sampling.padSplitPlan(spark, sf))) {
      val p = df.queryExecution.optimizedPlan.toString
      // the Window must sit strictly ABOVE the histogram Aggregate in
      // the operator tree (optimizedPlan prints parents first), so the
      // single-partition sort touches |distinct lengths| rows only
      val winIdx = p.indexOf("Window")
      val aggIdx = p.indexOf("Aggregate", winIdx)
      assert(winIdx >= 0 && aggIdx > winIdx,
        s"$name: the ECDF window must consume the value-domain aggregate:\n$p")
    }
  }

  test("q246 CUSUM window is per-type over the calendar grid, not events") {
    val df = graft.operators.Windowed.cusumChangePoint(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("Aggregate", winIdx)
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"q246: the running sum must consume the (type, day) aggregate:\n$p")
    assert(plan(df).contains("event_type"), "window partitions by type")
  }

  test("q251 greedy walk is windows-over-aggregates with no cartesian") {
    val p = plan(graft.operators.Sampling.qualityKnapsack(spark, sf))
    assert(!p.contains("CartesianProduct"), s"no cartesian in the walk:\n$p")
    // the |sources|-row walk and the 1-row budget broadcast are the
    // only nested loops allowed
    val bnlj = p.sliding("BroadcastNestedLoopJoin".length + 200)
      .count(_.startsWith("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"only scalar/1-row broadcasts may nest:\n$p")
  }

  test("q109 verify stage is the array-intersect form: no re-exploded shingle join") {
    val df = graft.operators.Dedup.jaccardPrefixJoin(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    // round-13 shape: the exact verify is one array_intersect per
    // candidate off the cached (doc_id, array) table — the pre-13 form
    // re-joined the EXPLODED index twice and re-grouped per pair, which
    // shows as an Aggregate whose grouping carries both pair sides
    assert(p.contains("array_intersect"),
      s"q109 verify must score candidates with array_intersect:\n$p")
    // the positional PPJoin bound survives optimization as the alpha
    // comparison on the candidate join
    assert(p.toLowerCase.contains("least"),
      s"q109 candidates must carry the positional overlap bound:\n$p")
  }

  test("q235 member dots ride the broadcast centroid fold, not a corpus-keyed aggregate") {
    val df = graft.operators.Similarity.centroidDriftAudit(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    // round-13 shape: the member cosines are a per-row zip_with/
    // aggregate fold against the broadcast 2-row centroid table. The
    // pre-13 form re-exploded the corpus and shuffled a corpus-sized
    // (vec_id, half)-keyed aggregate for them — that grouping key is
    // the signature this pins away. (The one posexplode lineage — the
    // (half, dim) sums — re-lists per crossJoin branch logically but
    // executes once via exchange reuse; PLANSTATS carries the count.)
    assert(!p.contains("Aggregate [vec_id"),
      s"q235 must not re-aggregate the corpus per vector:\n$p")
    assert(p.contains("zip_with"),
      s"member dots must be the array fold:\n$p")
    assert(p.contains("posexplode"), s"the dim sums still explode once:\n$p")
  }
}
