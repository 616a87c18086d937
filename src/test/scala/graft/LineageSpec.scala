package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Lineage
import graft.operators.Graph

/** Arm-identity law for `graft.core.Lineage.cut` — the
  * `spark.graft.reliableCheckpointDir` dial (round-17 verdict ask 1).
  *
  * The dial swaps every iterative lineage cut and sampling pin from
  * `localCheckpoint` (executor-resident blocks, lost with the
  * executor) to a RELIABLE `checkpoint(dir)` (shared-storage files,
  * re-readable after executor loss). A dial must never change
  * ANSWERS, only recoverability — so each family's loop is run on
  * both arms here and the canonical row multisets must be
  * bit-identical (doubles included: pagerank's quantized-exact sums
  * make the superstep math order-independent, so even a different
  * physical materialization cannot drift a ulp). Executor-loss
  * recovery itself is executed by RetryDrill's late-kill leg on a
  * real standalone cluster (a local-mode test has no executor to
  * lose); this spec owns the answer-identity half of the contract.
  */
class LineageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withDial[A](body: => A): A = {
    val dir = Files.createTempDirectory("graft_reliable_ckpt").toString
    spark.conf.set(Lineage.ConfKey, dir)
    try body
    finally {
      spark.conf.unset(Lineage.ConfKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
    }
  }

  private def canon(df: DataFrame): Vector[String] =
    graft.tools.InvarianceSweep.canon(df)

  /** Deterministic scale-free-ish test edges (src, dst, w). */
  private def edges(n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      pmod(hash($"id"), lit(97)).cast("long").as("src"),
      pmod(hash($"id" + 1000000L), lit(97)).cast("long").as("dst"),
      (pmod(hash($"id" * 7L), lit(5)) + 1).cast("long").as("w"))
      .filter($"src" =!= $"dst")
  }

  test("cut: reliable arm returns identical rows and partitioning, and " +
      "actually writes checkpoint files") {
    import spark.implicits._
    val df = spark.range(1000).select($"id", ($"id" % 7).as("k"))
      .repartition(5, $"k")
    val n = df.count()
    val localArm = Lineage.cut(df)
    // the plain cut, and the counted cut with its row count checked
    val cuts: Seq[(String, DataFrame => DataFrame)] = Seq(
      "cut" -> (d => Lineage.cut(d)),
      "counted" -> { d =>
        val pin = Lineage.counted(d)
        assert(pin.rows == n, s"counted cut: ${pin.rows} rows, want $n")
        pin.df
      })
    for ((name, cut) <- cuts) {
      val local = cut(df)
      val dir = Files.createTempDirectory("graft_reliable_ckpt")
      spark.conf.set(Lineage.ConfKey, dir.toString)
      val reliableArm =
        try cut(df)
        finally spark.conf.unset(Lineage.ConfKey)
      assert(canon(localArm) == canon(local), name)
      assert(canon(localArm) == canon(reliableArm), name)
      assert(localArm.rdd.getNumPartitions == local.rdd.getNumPartitions, name)
      assert(localArm.rdd.getNumPartitions == reliableArm.rdd.getNumPartitions, name)
      // the reliable arm must be file-backed (that IS the recoverability
      // claim): setCheckpointDir minted a UUID subdir holding rdd-* data
      val files = Files.walk(dir).iterator()
      var sawPart = false
      while (files.hasNext) {
        val f = files.next()
        if (f.getFileName.toString.startsWith("part-")) sawPart = true
      }
      assert(sawPart, s"$name: no checkpoint part files under $dir")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit
    }
  }

  test("static-side pin: cache preserves a repartition's hash " +
      "partitioning, so the superstep join exchanges only the " +
      "changing side (the r17 CC discipline)") {
    import spark.implicits._
    // dedupLabels pins its static adjacency as repartition(key).cache()
    // so every round's edges⋈labels join reuses the partitioning
    // (measured: q32's 10x slope 2.06x -> 1.31x, q86 2.11x -> 1.58x).
    // The pin MUST ride cache, not cutLineage: the cut's checkpointed
    // scan reports UnknownPartitioning under AQE (measured this round —
    // which is why lpSweeps/kCore carry no pin: their loops only have
    // cut tables). The pin silently dies if Spark stops carrying the
    // partitioning through InMemoryRelation — this is that canary.
    val edges = spark.range(2000)
      .select(pmod($"id", lit(97L)).as("y"), pmod($"id", lit(89L)).as("x"))
    def joinExchanges(staticSide: DataFrame): Int = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val labels = spark.range(97).select($"id".as("doc_id"), $"id".as("lbl"))
      val j = staticSide.join(labels, staticSide("y") === labels("doc_id"))
      j.collect(): Unit
      // traverse the executed ADAPTIVE plan: under AQE, shuffles are
      // ShuffleQueryStageExec stages and every QueryStageExec is a LEAF
      // wrapper (its subtree lives in .plan, invisible to .collect); a
      // naive toString grep double-counts (initial+final plan) and sees
      // InMemoryRelation's INTERNAL exchange (the one-off pin
      // materialization, not a per-join cost)
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      def shuffles(p: SparkPlan): Int = p match {
        case _: ShuffleQueryStageExec => 1
        case s: ShuffleExchangeLike => 1 + s.children.map(shuffles).sum
        case q: QueryStageExec => shuffles(q.plan)
        case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
        case _: InMemoryTableScanExec => 0
        case other => other.children.map(shuffles).sum
      }
      shuffles(j.queryExecution.executedPlan)
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val cached = edges.repartition($"y").cache()
      cached.count(): Unit
      try {
        val exCache = joinExchanges(cached)
        assert(exCache == 1, s"cache arm: expected 1 exchange (changing side only), got $exCache")
      } finally cached.unpersist(): Unit
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("cut: unparseable dial values are ignored only when empty/blank") {
    spark.conf.set(Lineage.ConfKey, "   ")
    try {
      val df = spark.range(10).toDF("id")
      // blank dial = unset = local arm; must not throw on setCheckpointDir("")
      assert(canon(Lineage.cut(df)) == canon(df))
    } finally spark.conf.unset(Lineage.ConfKey)
  }

  test("pagerank: arms bit-identical") {
    val e = edges(4000)
    val base = canon(Graph.pageRankEdges(spark, e, iterations = 5))
    val dial = withDial {
      canon(Graph.pageRankEdges(spark, e, iterations = 5))
    }
    assert(base == dial)
  }

  test("connected components (star): arms bit-identical") {
    import spark.implicits._
    val e = edges(4000).select($"src".as("x"), $"dst".as("y"))
    val base = canon(Graph.connectedComponentsStar(e))
    val dial = withDial { canon(Graph.connectedComponentsStar(e)) }
    assert(base == dial)
  }

  test("k-core peel: arms bit-identical") {
    import spark.implicits._
    val e = edges(4000).select($"src".as("p1"), $"dst".as("p2"))
    val base = canon(Graph.kCoreEdges(spark, e, k = 3))
    val dial = withDial { canon(Graph.kCoreEdges(spark, e, k = 3)) }
    assert(base == dial)
  }

  test("bfs hops: arms bit-identical") {
    import spark.implicits._
    val e = edges(4000).select($"src".as("p1"), $"dst".as("p2"))
    val base = canon(Graph.bfsEdges(spark, e))
    val dial = withDial { canon(Graph.bfsEdges(spark, e)) }
    assert(base == dial)
  }

  test("distributed rank pin (curriculum order path): arms bit-identical") {
    import spark.implicits._
    // globalRank pins its range-partitioned table via Lineage.cut; the
    // pin is the SAMPLING freeze, so identical INPUT ⇒ identical output
    // on both arms (nondeterminism is frozen per run, values must agree
    // because the order key below is total and collision-free)
    val df = spark.range(5000).select($"id",
      pmod(hash($"id"), lit(1000)).as("q"))
    val base = canon(
      graft.operators.Ranks.globalRank(df, "pos", col("q").asc, col("id").asc))
    val dial = withDial {
      canon(
        graft.operators.Ranks.globalRank(df, "pos", col("q").asc, col("id").asc))
    }
    assert(base == dial)
  }
}
