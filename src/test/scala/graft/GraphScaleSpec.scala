package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Profile
import graft.operators.Graph

/** Round-13 verdict item 3: skew/scale rehearsal for the ITERATIVE
  * graph family (pageRank supersteps, k-core peel, BFS frontier
  * expansion, label-propagation sweeps) — the RanksSpec/AqeSkewSpec
  * discipline applied to the loops. The classic killer is a power-law
  * hub vertex holding ~90% of the edges: every per-round vertex-keyed
  * join then lands the hub's whole adjacency in ONE post-shuffle
  * partition unless something spreads it.
  *
  * What this pins, per the verdict's (a)/(b)/(c):
  *  (a) no single task absorbs the hub — measured DIRECTLY off
  *      per-task shuffle-read bytes via `Profile.span` during a real
  *      pageRank run, plus AQE `skewed`-marker plan evidence on the
  *      superstep join shape (test-scaled thresholds; the production
  *      defaults fire the same OptimizeSkewedJoin rule);
  *  (b) the hub run's total shuffle volume stays proportional to the
  *      balanced run's (no round amplifies the hub);
  *  (c) hub runtime within noise of the balanced fixture for all four
  *      loops.
  * Plus the LP-specific structural fix this rehearsal motivated: the
  * sweep winner is a struct-extreme argmax (map-side combinable), not
  * a row_number window whose hub partition would hold the hub's whole
  * distinct-label neighborhood — pinned here by an equivalence law
  * against the window form (ties included) and a plan-shape assert.
  */
class GraphScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withSkewConfs[A](body: => A): A = {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val V = 15000L
  private val E = 150000L

  /** Directed (src, dst, w) edges; hub ⇒ vertex 0 is the SOURCE of 90%
    * of edges (the shape that skews the ranks⋈prob superstep join,
    * which shuffles on src). localCheckpoint freezes the input so
    * timing measures the loop, not the generator.
    */
  private def prEdges(hub: Boolean): DataFrame = {
    import spark.implicits._
    val rndSrc = pmod(hash($"id").cast("long"), lit(V))
    val src = if (hub) when($"id" % 10 < 9, lit(0L)).otherwise(rndSrc)
              else rndSrc
    spark.range(E).select(src.as("src"),
        pmod(hash($"id" * 31 + 7).cast("long"), lit(V)).as("dst"),
        ($"id" % 5 + 1L).as("w"))
      .filter($"src" =!= $"dst")
      .localCheckpoint()
  }

  /** Undirected (p1, p2) edges; hub ⇒ vertex 0 touches 90% of edges. */
  private def undEdges(hub: Boolean): DataFrame = {
    import spark.implicits._
    val rndP1 = pmod(hash($"id").cast("long"), lit(V))
    val p1 = if (hub) when($"id" % 10 < 9, lit(0L)).otherwise(rndP1)
             else rndP1
    spark.range(E).select(p1.as("p1"),
        (pmod(hash($"id" * 31 + 7).cast("long"), lit(V - 1)) + 1L).as("p2"))
      .filter($"p1" =!= $"p2")
      .localCheckpoint()
  }

  test("LP sweep winner: struct-argmax ≡ row_number window, ties included") {
    import spark.implicits._
    // small hub graph — dense enough that count ties (c=1 across many
    // candidate labels) exercise the min-label tie rule every sweep
    val edges = spark.range(900).select(
        when($"id" % 3 === 0, lit(0L))
          .otherwise(pmod(hash($"id"), lit(300)).cast("long")).as("p1"),
        (pmod(hash($"id" * 13 + 5), lit(299)).cast("long") + 1L).as("p2"))
      .filter($"p1" =!= $"p2")
      .localCheckpoint()
    val rounds = 3
    // reference: the pre-round-13 row_number form, computed in-spec
    val nb = edges.select($"p1".as("v"), $"p2".as("u"))
      .union(edges.select($"p2".as("v"), $"p1".as("u")))
      .localCheckpoint()
    var ref = nb.select($"v").distinct().withColumn("lbl", $"v")
      .localCheckpoint()
    var refAcc = ref.withColumn("round", lit(0L))
    for (t <- 1 to rounds) {
      ref = nb.join(ref.select($"v".as("u"), $"lbl"), "u")
        .groupBy($"v", $"lbl").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"v").orderBy($"c".desc, $"lbl".asc)))
        .filter($"rn" === 1).select($"v", $"lbl")
        .localCheckpoint()
      refAcc = refAcc.union(ref.withColumn("round", lit(t.toLong)))
    }
    val got = Graph.lpSweeps(spark, edges, rounds)
      .select($"round", $"v", $"lbl").as[(Long, Long, Long)].collect().toSet
    val want = refAcc.select($"round", $"v", $"lbl")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, "struct-argmax sweep diverged from the window form")
    // and the plan never reintroduces a v-partitioned window
    val p = Graph.lpSweeps(spark, edges, 1)
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("windowspecdefinition"),
      s"lpSweeps fell back to a window:\n$p")
  }

  test("salted supersteps are BIT-identical to the unsalted loop (no/one/two hubs)") {
    import spark.implicits._
    // three hot-set shapes: NONE (the constant-salt fast path), ONE hub
    // (~90% of edges), TWO hubs (~50% + ~40%) — fairShare =
    // max(1000, 20000/par), so both multi-hub sources engage the salt
    val shapes: Seq[(String, Column)] = Seq(
      "no hub" -> pmod(hash($"id").cast("long"), lit(2000L)),
      "one hub" -> when($"id" % 10 < 9, lit(0L))
        .otherwise(pmod(hash($"id").cast("long"), lit(2000L))),
      "two hubs" -> when($"id" % 10 < 5, lit(0L))
        .when($"id" % 10 < 9, lit(1L))
        .otherwise(pmod(hash($"id").cast("long"), lit(2000L))))
    for ((label, srcCol) <- shapes) {
      val edges = spark.range(20000).select(srcCol.as("src"),
          pmod(hash($"id" * 31 + 7).cast("long"), lit(2000L)).as("dst"),
          ($"id" % 5 + 1L).as("w"))
        .filter($"src" =!= $"dst")
        .localCheckpoint()
      val iterations = 3
      // reference: the pre-salting loop, computed in-spec
      val outSums = edges.groupBy($"src").agg(sum($"w").as("sumOut"))
      val prob = edges.join(outSums, "src")
        .select($"src", $"dst",
          ($"w".cast("double") / $"sumOut".cast("double")).as("p"))
        .localCheckpoint()
      val vertices = edges.select($"src".as("id"))
        .union(edges.select($"dst".as("id"))).distinct().localCheckpoint()
      val n = vertices.count().toDouble
      var ranks = vertices.select($"id", lit(1.0).as("rank"))
      for (_ <- 1 to iterations) {
        val contribs = ranks.join(prob, $"id" === $"src")
          .groupBy($"dst")
          .agg((sum(round(($"rank" * $"p") * 1e14).cast("long"))
            .cast("double") / 1e14).as("s"))
        ranks = vertices.join(contribs, $"id" === $"dst", "left")
          .select($"id", (lit(0.85) * coalesce($"s", lit(0.0))
            + lit(0.15 / n)).as("rank"))
          .localCheckpoint()
      }
      val want = ranks.select($"id", $"rank").as[(Long, Double)].collect().toMap
      val got = Graph.pageRankEdges(spark, edges, iterations)
        .select($"id", $"rank").as[(Long, Double)].collect().toMap
      assert(got.keySet == want.keySet, label)
      // bit-identical, not approximately equal: the salt must only move
      // rows between tasks, never change what the quantized sums see
      val diff = got.filter { case (id, r) => want(id) != r }
      assert(diff.isEmpty,
        s"$label: salted ranks diverged bitwise on ${diff.take(5)}")
    }
  }

  test("pageRank on a hub graph: no task absorbs the hub; volume bounded") {
    withSkewConfs {
      val balanced = prEdges(hub = false)
      val hub = prEdges(hub = true)
      // one span per run: each sees the stages of its own loop only
      def stages(edges: DataFrame) = Profile.span(spark)(
        Graph.pageRankEdges(spark, edges, iterations = 3).count())._2.stages
      val balancedStages = stages(balanced)
      val hubStages = stages(hub)
      // (a) the hub's adjacency never collapses into one task: in every
      // stage that moved real data, the largest task read a bounded
      // share (an unsplit hub partition measures ~0.9 here)
      val big = hubStages.filter(_.shuffleRead > 512 * 1024)
      assert(big.nonEmpty, "expected at least one data-bearing shuffle stage")
      for (s <- big)
        assert(s.maxTaskShuffleRead.toDouble / s.shuffleRead < 0.7,
          s"one task read ${s.maxTaskShuffleRead} of ${s.shuffleRead} " +
            "shuffle bytes — hub not spread")
      // (b) total shuffle volume tracks the balanced run (no round
      // amplifies the hub's adjacency; 3× absorbs plan variance)
      val balancedVolume = balancedStages.map(_.shuffleRead).sum
      val hubVolume = hubStages.map(_.shuffleRead).sum
      assert(hubVolume < balancedVolume * 3 + (1 << 20),
        s"hub shuffle volume $hubVolume vs balanced $balancedVolume")
    }
  }

  test("CC star rounds on a hub-and-ring graph are exact: two components") {
    import spark.implicits._
    val spokes = spark.range(1L, 2001L).select(lit(0L).as("x"), $"id".as("y"))
    val ringN = 1000L
    val ring = spark.range(ringN).map { i =>
      val base = 10001L
      (base + i, base + (i + 1) % ringN)
    }.toDF("x", "y")
    val labels = Graph.connectedComponentsStar(spokes.union(ring))
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 3001)
    assert((0L to 2000L).forall(labels(_) == 0L), "hub component labels to 0")
    assert((10001L until 10001L + ringN).forall(labels(_) == 10001L),
      "ring component labels to its min id")
  }

  test("k-core peel on a hub-and-ring graph is exact: spokes and hub peel") {
    import spark.implicits._
    // hub 0 → 2000 degree-1 spokes; ring 10001..11000 where i links
    // i+1 and i+2 (wrapping) ⇒ every ring vertex has degree 4
    val spokes = spark.range(1L, 2001L).select(lit(0L).as("p1"), $"id".as("p2"))
    val ringN = 1000L
    val ring = spark.range(ringN).flatMap { i =>
      val base = 10001L
      Seq((base + i, base + (i + 1) % ringN), (base + i, base + (i + 2) % ringN))
    }.toDF("p1", "p2")
    val core = Graph.kCoreEdges(spark, spokes.union(ring), k = 3)
      .select($"id", $"deg").as[(Long, Long)].collect().toMap
    assert(core.size == ringN, s"3-core should be exactly the ring, got ${core.size}")
    assert(core.keys.forall(id => id >= 10001L && id <= 10000L + ringN))
    assert(core.values.forall(_ == 4L), "every ring vertex keeps degree 4")
  }

  test("BFS on a hub graph is exact: hop distances through the hub") {
    import spark.implicits._
    // hub 0 at distance 0 (min p1), spokes at 1, a chain hung off
    // spoke 1 at 2 and 3
    val spokes = spark.range(1L, 2001L).select(lit(0L).as("p1"), $"id".as("p2"))
    val chain = Seq((1L, 5001L), (5001L, 5002L)).toDF("p1", "p2")
    val hops = Graph.bfsEdges(spark, spokes.union(chain))
      .select($"id", $"hops").as[(Long, Long)].collect().toMap
    assert(hops(0L) == 0L && hops(1L) == 1L && hops(2000L) == 1L)
    assert(hops(5001L) == 2L && hops(5002L) == 3L)
    assert(hops.size == 2003)
  }

  test("random walks: driver and distributed arms give identical rows") {
    import spark.implicits._
    // the hub fixture; KCoreSpec compares the arms on sf0.001
    val edges = undEdges(hub = true)
    val onDriver = Graph.walkEdges(spark, edges, 4)
    val distributed = Graph.walkEdges(spark, edges, 4, driverMaxEdges = 0)
    // the driver arm is a local table, the distributed arm a join loop
    assert(onDriver.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty)
    assert(distributed.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.nonEmpty)
    val want = distributed.as[(Long, Long, Long, Long, Long)].collect()
    assert(want.nonEmpty)
    assert(onDriver.as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq ==
      want.sorted.toSeq)
  }

  test("iterative loops: hub runtime within noise of balanced") {
    withSkewConfs {
      import spark.implicits._
      val prBal = prEdges(hub = false)
      val prHub = prEdges(hub = true)
      val undBal = undEdges(hub = false)
      val undHub = undEdges(hub = true)
      val loops: Seq[(String, DataFrame => DataFrame, DataFrame, DataFrame, Double)] = Seq(
        ("pageRank 3-iter",
          (e: DataFrame) => Graph.pageRankEdges(spark, e, iterations = 3),
          prBal, prHub, 3.0),
        ("lpSweeps 2-round",
          (e: DataFrame) => Graph.lpSweeps(spark, e, rounds = 2),
          undBal, undHub, 3.0),
        // peel/frontier round COUNTS legitimately differ with structure
        // (hub graphs have diameter ~2; peels converge in ≤4 rounds
        // either way) — the law still catches the degenerate hot-task
        // shape, which measures far outside 4×
        ("kCore k=3 peel",
          (e: DataFrame) => Graph.kCoreEdges(spark, e, k = 3),
          undBal, undHub, 4.0),
        ("BFS frontier",
          (e: DataFrame) => Graph.bfsEdges(spark, e),
          undBal, undHub, 4.0),
        // star CC: each round localCheckpoints, so every groupBy-min /
        // join-back sees a FRESH exchange — AQE's split applies; round
        // counts differ with structure (hub graphs star out in ~2)
        ("CC star rounds",
          (e: DataFrame) => Graph.connectedComponentsStar(
            e.select($"p1".as("x"), $"p2".as("y"))),
          undBal, undHub, 4.0))
      for ((name, make, bal, hub, factor) <- loops) {
        def time(e: DataFrame): Double = {
          val t0 = System.nanoTime(); make(e).count(); (System.nanoTime() - t0) / 1e9
        }
        time(bal) // warm codegen for this loop's plan shapes
        val tb = math.min(time(bal), time(bal))
        val ts = math.min(time(hub), time(hub))
        assert(ts <= tb * factor + 1.0,
          s"$name: hub fixture took ${ts}s vs balanced ${tb}s — not flat")
      }
    }
  }
}
