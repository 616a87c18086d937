package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Lineage, Profile}
import graft.operators.Ranks

/** Laws for the two-phase distributed rank family — each form must be
  * value-identical to the single-window SQL function it replaces, on a
  * fixture with hot groups, ties, and (for the null-safety law) NULL
  * group/value keys.
  */
class RanksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixture = {
    import spark.implicits._
    // 3 groups with skewed sizes, deliberate ties in v (v = i % 7)
    (0 until 500).map { i =>
      val g = if (i % 10 < 7) "hot" else if (i % 10 < 9) "warm" else "cold"
      (g, (i % 7).toLong, i.toLong)
    }.toDF("g", "v", "id")
  }

  test("groupRank == rank() over (partition by g order by v) — ties share") {
    import spark.implicits._
    val df = fixture
    val expected = df.withColumn("want",
      rank().over(Window.partitionBy($"g").orderBy($"v")).cast("long"))
    val got = Ranks.groupRank(df, "rn", Seq($"g"), Seq($"v"))
    val joined = got.join(expected.select($"id".as("id2"), $"want"),
      $"id" === $"id2")
    assert(joined.filter($"rn" =!= $"want").count() === 0L)
    assert(joined.count() === 500L)
  }

  test("groupRowNumber == row_number() under a total order, and == groupRank") {
    import spark.implicits._
    val df = fixture
    val expected = df.withColumn("want",
      row_number().over(Window.partitionBy($"g").orderBy($"v", $"id"))
        .cast("long"))
    val got = Ranks.groupRowNumber(df, "rn", Seq($"g"), Seq($"v", $"id"))
    val joined = got.join(expected.select($"id".as("id2"), $"want"),
      $"id" === $"id2")
    assert(joined.filter($"rn" =!= $"want").count() === 0L)
    assert(joined.count() === 500L)
    // fast-path law: identical to the general form when the order is total
    val slow = Ranks.groupRank(df, "rn2", Seq($"g"), Seq($"v", $"id"))
      .select($"id".as("id3"), $"rn2")
    assert(got.join(slow, $"id" === $"id3")
      .filter($"rn" =!= $"rn2").count() === 0L)
  }

  test("NULL group/value keys rank like the window form (nulls first), not dropped") {
    import spark.implicits._
    val df = Seq[(Option[String], Option[java.lang.Long], Long)](
      (None, Some(1L), 1L), (None, None, 2L), (Some("a"), Some(2L), 3L),
      (Some("a"), None, 4L), (Some("a"), Some(2L), 5L), (Some("b"), Some(0L), 6L))
      .toDF("g", "v", "id")
    val expected = df.withColumn("want",
      rank().over(Window.partitionBy($"g").orderBy($"v")).cast("long"))
    val got = Ranks.groupRank(df, "rn", Seq($"g"), Seq($"v"))
    assert(got.count() === 6L, "null-keyed rows must survive the re-joins")
    val joined = got.join(expected.select($"id".as("id2"), $"want"),
      $"id" === $"id2")
    assert(joined.filter($"rn" =!= $"want").count() === 0L)
    val rnNull = Ranks.groupRowNumber(df, "rn", Seq($"g"), Seq($"v", $"id"))
    assert(rnNull.count() === 6L)
  }

  test("groupRunningSum == sum() over (partition by g order by ...) running window") {
    import spark.implicits._
    val df = fixture.withColumn("w", ($"id" % 13L) + 1L)
    val expected = df.withColumn("want",
      sum($"w").over(Window.partitionBy($"g").orderBy($"v", $"id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val got = Ranks.groupRunningSum(df, "cum", Seq($"g"), Seq($"v", $"id"), $"w")
    val joined = got.join(expected.select($"id".as("id2"), $"want"),
      $"id" === $"id2")
    assert(joined.count() === 500L)
    assert(joined.filter($"cum" =!= $"want").count() === 0L)
  }

  test("groupRunningMaxExcl == max() over (... rowsBetween(unboundedPreceding, -1))") {
    import spark.implicits._
    // value deliberately non-monotone in the scan order
    val df = fixture.withColumn("w", ($"id" * 7919L) % 501L)
    val expected = df.withColumn("want",
      max($"w").over(Window.partitionBy($"g").orderBy($"v", $"id")
        .rowsBetween(Window.unboundedPreceding, -1)))
    val got = Ranks.groupRunningMaxExcl(df, "rmax", Seq($"g"), Seq($"v", $"id"), $"w")
    val joined = got.join(expected.select($"id".as("id2"), $"want"),
      $"id" === $"id2")
    assert(joined.count() === 500L)
    assert(joined.filter(!($"rmax" <=> $"want")).count() === 0L,
      "exclusive running max must match, including NULL first rows")
    // each group's first row in scan order must be NULL
    assert(got.filter($"rmax".isNull).count() === 3L)
  }

  test("randomized: all four machines match their window references on skewed data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 200 + rnd.nextInt(600)
      val nGroups = 1 + rnd.nextInt(6)
      // zipf-ish group sizes: group 0 hot
      val df = (0 until n).map { i =>
        val g = if (rnd.nextInt(10) < 6) 0 else rnd.nextInt(nGroups)
        (s"g$g", rnd.nextInt(20).toLong, i.toLong, rnd.nextInt(1000).toLong)
      }.toDF("g", "v", "id", "w")
      val byGv = Window.partitionBy($"g").orderBy($"v", $"id")
      val want = df
        .withColumn("wr", rank().over(Window.partitionBy($"g").orderBy($"v")).cast("long"))
        .withColumn("wn", row_number().over(byGv).cast("long"))
        .withColumn("ws", sum($"w").over(
          byGv.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("wm", max($"w").over(
          byGv.rowsBetween(Window.unboundedPreceding, -1)))
        .select($"id".as("id2"), $"wr", $"wn", $"ws", $"wm")
      val got = Ranks.groupRunningMaxExcl(
        Ranks.groupRunningSum(
          Ranks.groupRowNumber(
            Ranks.groupRank(df, "gr", Seq($"g"), Seq($"v")),
            "gn", Seq($"g"), Seq($"v", $"id")),
          "gs", Seq($"g"), Seq($"v", $"id"), $"w"),
        "gm", Seq($"g"), Seq($"v", $"id"), $"w")
      val joined = got.join(want, $"id" === $"id2")
      assert(joined.count() === n.toLong, s"trial $trial row conservation")
      assert(joined.filter($"gr" =!= $"wr" || $"gn" =!= $"wn" ||
        $"gs" =!= $"ws" || !($"gm" <=> $"wm")).count() === 0L,
        s"trial $trial machine/window divergence")
    }
  }

  test("pinned forms are value-identical to the unpinned forms") {
    import spark.implicits._
    val df = fixture
    val pin = Lineage.counted(df)
    assert(pin.rows === 500L)
    val base = pin.df
    val a = Ranks.globalRankPinned(base, pin.rows, "r", $"v", $"id")
      .select($"id", $"r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Ranks.globalRank(df, "r", $"v", $"id")
      .select($"id", $"r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    val c = Ranks.groupRankPinned(base, "rn", Seq($"g"), Seq($"v"))
      .select($"id", $"rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = Ranks.groupRank(df, "rn", Seq($"g"), Seq($"v"))
      .select($"id", $"rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c === e)
  }

  /** Skewed-group scale rehearsal (round-11 verdict, next-round item 2):
    * ~20 queries ride this machinery; prove on a 90%-hot-group corpus
    * that (a) the hot group is physically SPREAD — no output partition
    * holds a majority of rows, because the range shuffle keys on
    * (groups ++ order), not groups alone; (b) groupRank never falls
    * back to a group-partitioned window over the row table; (c) wall
    * time on the skewed corpus stays within noise of the balanced one
    * (a single-partition hot-group sort would blow this up with the
    * corpus, not the constant).
    */
  test("skewed-group rehearsal: hot group spreads; runtime flat vs balanced") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val n = 400000L
    def corpus(skewed: Boolean): DataFrame = {
      val g =
        if (skewed) when($"id" % 10 < 9, lit("hot"))
          .otherwise(concat(lit("g"), ($"id" % 20).cast("string")))
        else concat(lit("g"), ($"id" % 20).cast("string"))
      spark.range(n).select(g.as("g"), ($"id" % 97).as("v"), $"id".as("rid"))
        .localCheckpoint() // freeze the input so timing measures the machine
    }
    val skew = corpus(skewed = true)
    val bal = corpus(skewed = false)
    val rangeMachines: Seq[(String, DataFrame => DataFrame)] = Seq(
      "groupRowNumber" -> (df =>
        Ranks.groupRowNumber(df, "r", Seq($"g"), Seq($"v", $"rid"))),
      "groupRunningSum" -> (df =>
        Ranks.groupRunningSum(df, "s", Seq($"g"), Seq($"v", $"rid"), lit(1L))),
      "groupRunningMaxExcl" -> (df =>
        Ranks.groupRunningMaxExcl(df, "m", Seq($"g"), Seq($"v", $"rid"), $"v")))
    val machines = rangeMachines :+
      ("groupRank" -> ((df: DataFrame) =>
        Ranks.groupRank(df, "r", Seq($"g"), Seq($"v"))))
    // (a) partition spread for the RANGE-partitioned machines: their
    // outputs keep the (groups ++ order) range partitioning (the offset
    // joins broadcast), so spark_partition_id() of the output exposes
    // it — the hot group must never collapse into one partition.
    // (groupRank's output partitioning is the class-table hash join's,
    // not a sort layout — its skew law is (b) plus the runtime check.)
    for ((name, make) <- rangeMachines) {
      val per = make(skew).withColumn("__p", spark_partition_id())
        .groupBy($"__p").agg(count(lit(1)).as("c"))
        .collect().map(_.getLong(1))
      assert(per.max.toDouble / per.sum < 0.55,
        s"$name: one partition holds ${per.max}/${per.sum} rows — " +
          "the 90% group was not spread")
    }
    // (b) groupRank never reintroduces a g-partitioned window
    val p = Ranks.groupRank(skew, "r", Seq($"g"), Seq($"v"))
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("windowspecdefinition(g#"),
      s"groupRank fell back to a group-partitioned window:\n$p")
    // (c) runtime flat: same n, same machine — only the group sizes
    // differ. A hot-group single sort partition would scale with the
    // 90% group; the two-phase machines pay |partitions|-bounded
    // constants. 3× absorbs host noise while still catching the
    // degenerate shape (which measures >5× here).
    for ((name, make) <- machines) {
      def time(df: DataFrame): Double = {
        val t0 = System.nanoTime(); make(df).count(); (System.nanoTime() - t0) / 1e9
      }
      time(bal); // warm codegen for this machine's plan shape
      // min-of-three: under full-suite contention a single slow leg
      // pushed groupRunningSum to 3.99× (r17 inherited-state flake, green
      // in isolation); the degenerate single-sort-partition shape still
      // measures >5× so the 3×+0.5 law keeps catching it
      val tb = Seq(time(bal), time(bal), time(bal)).min
      val ts = Seq(time(skew), time(skew), time(skew)).min
      assert(ts <= tb * 3.0 + 0.5,
        s"$name: skewed corpus took ${ts}s vs balanced ${tb}s — not flat")
    }
  }

  test("small-side dial: window arm equals the range machinery bit for bit") {
    import spark.implicits._
    // 5k rows with ties and a hot group — under the 2^18 dial, so the
    // default path is the single-sorted-task window; forcing
    // windowMaxRows=0 engages the range machinery on the SAME input.
    // Every machine must produce identical values either way.
    val df = spark.range(5000).select(
      (pmod(hash($"id"), lit(10L)) < 9L).cast("int").as("g"),
      pmod(hash($"id", lit(1)), lit(97L)).as("v"),
      $"id".as("rid"))
    val machines: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "globalRank" -> (in => Ranks.globalRank(in, "r", $"v".asc, $"rid".asc)),
      "groupRowNumber" -> (in => Ranks.groupRowNumber(in, "r",
        Seq($"g"), Seq($"v", $"rid"))),
      "groupRank" -> (in => Ranks.groupRank(in, "r", Seq($"g"), Seq($"v"))),
      "groupRunningSum" -> (in => Ranks.groupRunningSum(in, "r",
        Seq($"g"), Seq($"v", $"rid"), $"v")),
      "groupRunningMaxExcl" -> (in => Ranks.groupRunningMaxExcl(in, "r",
        Seq($"g"), Seq($"v", $"rid"), $"v")))
    for ((name, make) <- machines) {
      val small = make(df).orderBy($"rid").collect()
      spark.conf.set("spark.graft.rank.windowMaxRows", "0")
      val big = try make(df).orderBy($"rid").collect()
        finally spark.conf.unset("spark.graft.rank.windowMaxRows")
      assert(small.sameElements(big),
        s"$name: dial arms diverge — ${small.take(3).mkString(";")} vs ${big.take(3).mkString(";")}")
    }
  }

  test("groupRowNumber arms agree with and without the size column: null keys, hot group, empty") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // a hot group, a NULL group key and NULL order keys, plus the empty
    // input: the window arm (default dial) and the machinery arm
    // (windowMaxRows=0) must give the same rows, and the size column
    // must equal the group's row count
    val hot = spark.range(2000).select(
      when($"id" % 10 === 0L, lit(null).cast("int"))
        .otherwise((pmod(hash($"id"), lit(10L)) < 8L).cast("int")).as("g"),
      when($"id" % 7 === 0L, lit(null).cast("long"))
        .otherwise(pmod(hash($"id", lit(1)), lit(97L))).as("v"),
      $"id".as("rid"))
    val empty = hot.filter(lit(false))
    def arms(in: DataFrame, size: Option[String]): (Array[org.apache.spark.sql.Row],
        Array[org.apache.spark.sql.Row]) = {
      def run() = Ranks.groupRowNumber(in, "r", Seq($"g"), Seq($"v", $"rid"),
        sizeCol = size).orderBy($"rid").collect()
      val window = run()
      spark.conf.set("spark.graft.rank.windowMaxRows", "0")
      val machinery = try run() finally spark.conf.unset("spark.graft.rank.windowMaxRows")
      (window, machinery)
    }
    for (in <- Seq(hot, empty); size <- Seq(None, Some("n"))) {
      val (window, machinery) = arms(in, size)
      assert(window.sameElements(machinery),
        s"size=$size: arms diverge — ${window.take(3).mkString(";")} vs " +
          machinery.take(3).mkString(";"))
      assert(window.length.toLong == in.count())
    }
    val (sized, _) = arms(hot, Some("n"))
    val want = hot.groupBy($"g").agg(count(lit(1)).as("n")).collect()
      .map(r => Option(r.get(0)) -> r.getLong(1)).toMap
    val cols = Ranks.groupRowNumber(hot, "r", Seq($"g"), Seq($"v", $"rid"),
      sizeCol = Some("n")).columns.toSeq
    assert(cols == Seq("g", "v", "rid", "n", "r"))
    assert(sized.forall(r => r.getLong(3) == want(Option(r.get(0)))),
      "size column must be the group's row count, NULL group included")
    assert(want.size == 3, "fixture must carry the NULL group")
  }

  test("groupRunningMaxExclPinned equals the counting form on both arms") {
    import spark.implicits._
    val df = fixture.withColumn("w", ($"id" * 7919L) % 501L)
    val pin = Lineage.counted(df)
    def both() = (
      Ranks.groupRunningMaxExclPinned(pin.df, pin.rows, "m", Seq($"g"),
        Seq($"v", $"id"), $"w").orderBy($"id").collect(),
      Ranks.groupRunningMaxExcl(df, "m", Seq($"g"), Seq($"v", $"id"), $"w")
        .orderBy($"id").collect())
    val (a, b) = both()
    assert(a.sameElements(b), "window arm: pinned form diverges")
    spark.conf.set("spark.graft.rank.windowMaxRows", "0")
    val (c, e) = try both() finally spark.conf.unset("spark.graft.rank.windowMaxRows")
    assert(c.sameElements(e), "machinery arm: pinned form diverges")
    assert(a.sameElements(c), "arms diverge")
    // the caller's pin survives the machinery arm: it is not released
    assert(pin.df.count() === 500L)
  }

  test("machinery arm releases its input pin once the range table is cut") {
    import spark.implicits._
    // the counted input cut is needed only until `parted` is cut; after
    // a rank and its action the only new persisted RDD is `parted`
    val df = spark.range(5000).select(
      (pmod(hash($"id"), lit(10L)) < 9L).cast("int").as("g"),
      pmod(hash($"id", lit(1)), lit(97L)).as("v"),
      $"id".as("rid"))
    val machines: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "globalRank" -> (in => Ranks.globalRank(in, "r", $"v".asc, $"rid".asc)),
      "groupRowNumber" -> (in => Ranks.groupRowNumber(in, "r",
        Seq($"g"), Seq($"v", $"rid"))),
      "groupRowNumber sized" -> (in => Ranks.groupRowNumber(in, "r",
        Seq($"g"), Seq($"v", $"rid"), sizeCol = Some("n"))),
      "groupRunningSum" -> (in => Ranks.groupRunningSum(in, "r",
        Seq($"g"), Seq($"v", $"rid"), $"v")),
      "groupRunningMaxExcl" -> (in => Ranks.groupRunningMaxExcl(in, "r",
        Seq($"g"), Seq($"v", $"rid"), $"v")))
    spark.conf.set("spark.graft.rank.windowMaxRows", "0")
    try {
      for ((name, make) <- machines) {
        // new ids, not a size difference: the cleaner dropping an older
        // leg's RDD mid-leg must not hide one this leg left behind
        val before = spark.sparkContext.getPersistentRDDs.keySet
        assert(make(df).count() === 5000L)
        val grown = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
        assert(grown <= 1, s"$name: $grown persisted RDDs left behind, want <= 1")
      }
    } finally spark.conf.unset("spark.graft.rank.windowMaxRows")
  }

  test("dial bound 0 forces the machinery even on an EMPTY input") {
    import spark.implicits._
    // the documented contract: windowMaxRows=0 means "never take the
    // window arm" — an empty input (n=0 ≤ 0) must not sneak through it.
    val empty = spark.range(0).select(
      lit(0).as("g"), $"id".as("v"), $"id".as("rid"))
    spark.conf.set("spark.graft.rank.windowMaxRows", "0")
    try {
      val outs = Seq(
        Ranks.globalRank(empty, "r", $"v".asc, $"rid".asc),
        Ranks.groupRowNumber(empty, "r", Seq($"g"), Seq($"v", $"rid")),
        Ranks.groupRank(empty, "r", Seq($"g"), Seq($"v")),
        Ranks.groupRunningSum(empty, "r", Seq($"g"), Seq($"v", $"rid"), $"v"),
        Ranks.groupRunningMaxExcl(empty, "r", Seq($"g"), Seq($"v", $"rid"), $"v"))
      // the guard routes n=0 through the machinery when forced — the
      // pin is that the machinery itself (sampler, offsets collect,
      // checkpoint) survives a zero-row input without throwing
      for (out <- outs) assert(out.count() === 0L)
    } finally spark.conf.unset("spark.graft.rank.windowMaxRows")
  }

  test("histPercentiles == the value at row-rank ceil(p*n/100) per group") {
    import spark.implicits._
    // brute reference: rank every row, take the ceil-rank value; the
    // row count, value total and max are plain group aggregates
    def brute(rows: DataFrame) = {
      val ranked = rows.withColumn("rn",
          row_number().over(Window.partitionBy($"g").orderBy($"v", $"id"))
            .cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"g")))
      def pick(p: Int, out: String) = ranked
        .filter($"rn" === expr(s"($p * n + 99) div 100"))
        .select($"g", $"v".as(out))
      rows.groupBy($"g").agg(count(lit(1)).as("n"), sum($"v").as("sum"),
          max($"v").as("max"))
        .join(pick(50, "p50"), "g").join(pick(90, "p90"), "g")
    }
    def got(rows: DataFrame) = Ranks.histPercentiles(
      rows.groupBy($"g", $"v").agg(count(lit(1)).as("cnt")),
      "g", "v", "cnt", Seq(50 -> "p50", 90 -> "p90"))
    def same(rows: DataFrame): Unit = {
      val (g, w) = (got(rows), brute(rows))
      assert(g.columns.toSeq == w.columns.toSeq)
      assert(g.collect().toSet == w.collect().toSet)
    }
    same(fixture) // ties, a hot group
    val (_, work) = Profile.span(spark)(got(fixture))
    assert(work.jobs == 0, "construction runs no job")
    // a group with no rows has no output row, as in the reference
    same(fixture.filter($"g" === "none"))
    // n_rows past a long throws, as Spark's ANSI sum does
    val big = Seq(("a", Long.MaxValue / 2, 1L), ("a", Long.MaxValue / 2, 2L),
      ("a", 3L, 3L)).toDF("g", "v", "id")
    intercept[Exception](brute(big).collect())
    val e = intercept[Exception](got(big).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e.toString)
  }

  test("classSpans: lo/hi/n reproduce row-level rank spans on the histogram") {
    import spark.implicits._
    // law: for a class histogram of (g, v, cnt), lo == rank() of v's
    // first row under (partition g order v), hi == lo + cnt − 1 ==
    // the inclusive prefix count, n == the group's row count — the
    // covering-class convention every percentile pick rides.
    val rows = fixture // (g, v, id) with ties and a hot group
    val hist = rows.groupBy($"g", $"v").agg(count(lit(1)).as("cnt"))
    val spans = Ranks.classSpans(hist, Seq($"g"), $"v", $"cnt")
    val want = rows
      .withColumn("rk", rank().over(Window.partitionBy($"g").orderBy($"v"))
        .cast("long"))
      .withColumn("n_want",
        count(lit(1)).over(Window.partitionBy($"g")).cast("long"))
      .groupBy($"g", $"v")
      .agg(min($"rk").as("lo_want"), (min($"rk") + count(lit(1)) - 1L).as("hi_want"),
        max($"n_want").as("nw"))
    val joined = spans.join(want, Seq("g", "v"))
    assert(joined.count() === hist.count())
    assert(joined.filter($"lo" =!= $"lo_want" || $"hi" =!= $"hi_want" ||
      $"n" =!= $"nw").count() === 0L)
  }
}
