package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.functions.VectorFunctions._
import graft.operators.{Retrieval, Similarity}

/** Detector QUALITY at scale — the round-17 companion to ScaleSweep's
  * COST laws. The 10×/100× sweeps prove the dialed ANN/dedup paths are
  * fast and digest-stable; this tool measures whether they still FIND
  * things above the knee, where the nLists dial has left the
  * spec-pinned static plans (781 lists at 100× — the broadcast-
  * centroid assignment arm):
  *
  *   1. q253 pair recall — `semanticDedupScaled`'s IVF pair stage vs
  *      EXACT planted ground truth. The scaled fixture transforms each
  *      copy's embeddings by a cyclic coordinate rotation (and a
  *      negation on the second cycle), both of which preserve every
  *      within-copy integer dot product and norm EXACTLY — so the
  *      base corpus's exact-N² pair set (2000 vectors: trivially
  *      brute-forceable), key-shifted per copy, IS the fixture's
  *      within-copy truth. That claim is not assumed: a per-run sample
  *      of shifted truth pairs is re-scored against the actual fixture
  *      embeddings and must reproduce the base cosine bit-for-bit.
  *      Cross-copy pairs are EXCLUDED from the recall denominator
  *      (decorrelated copies plant none; enumerating accidental ones
  *      would need the N² the detector exists to avoid) but found
  *      cross-copy pairs are counted and reported — they are genuine
  *      ≥-threshold pairs by construction, since the detector's final
  *      filter applies the exact cosine to every emitted candidate
  *      (which is also why pair PRECISION is structurally 1.0 and
  *      recall is the number that must be measured).
  *   2. q255 dense-arm recall@20 — `DenseIvfScaledGen`'s per-query
  *      top-20 vs a brute exact-cosine top-20 for a deterministic
  *      200-query sample of the eval split (the brute reference ranks
  *      the sampled queries against the ENTIRE train corpus, cross-
  *      copy candidates included — no block-structure shortcut).
  *   3. q255 lexical-arm independence check — BM25's heap-aggregate
  *      top-20 (`Ranks.groupTopK`) recomputed for the same sampled
  *      queries through the window-sort form off the same candidate
  *      stream; the (query, doc, rank) sets must be identical. BM25
  *      scores every candidate exactly (no blocking), so its recall
  *      is 1.0 by construction; what CAN drift at scale is the top-k
  *      machinery, and this law pins it with an independent plan.
  *
  * Laws (exit code = violations): each factor's q253 recall and
  * dense recall@20 must be ≥ 0.9 × the 1× value (the declared floor:
  * the dial may trade a bounded slice of recall for linear cost, but
  * quality must not fall off a cliff between decades), and the BM25
  * set-equality must hold exactly.
  *
  * Usage: `sbt "runMain graft.tools.QualitySweep [srcDir] [factor...]"`
  * (default: /root/testdata/sf0.1 at 10 and 100; factor 1 always runs
  * first as the floor reference). Reuses ScaleSweep's kept fixtures at
  * /tmp/graft_scale<factor> (building them if absent/stale).
  */
object QualitySweep {

  private val Threshold = 0.4
  private val TopK = 20
  private val SampleQ = 200

  /** The eval-split predicate (Retrieval's evalFlag, replicated here
    * because the original is private to the operator: same "eval:" md5
    * bucket, same 5%).
    */
  private def isEval(id: org.apache.spark.sql.Column) =
    pmod(Hashing.md5Bits32(concat(lit("eval:"), id.cast("string")), 1),
      lit(100L)) < 5

  private def session(cpus: Int, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** q253's pair stage at `dir`'s scale, with the deployment dial
    * applied — the exact pair source `semanticDedupScaled` consumes.
    */
  private def foundPairs(spark: SparkSession, dir: String): DataFrame = {
    val n = Similarity.corpusWithNorm(spark, dir).count()
    val nLists = math.max(8L, n / 256L).toInt
    Similarity.embeddingNearDupIvf(spark, dir, Threshold, nLists,
      nProbe = 4, updates = 2, tables = Similarity.annTables(spark, nLists))
  }

  /** One factor's quality row. `truthBase` is the base corpus's exact
    * pair set collected as (x, y, cos) — small by the planted-pair
    * design (dup density, not corpus size).
    */
  private def leg(spark: SparkSession, dir: String, factor: Int,
      truthBase: Array[(Long, Long, Double)]): (Double, Long, Long, Double, Boolean) = {
    import spark.implicits._
    val stride = ScaleSweep.STRIDE

    // --- 1. q253 pair recall vs shifted planted truth ---
    val truthF = spark.range(factor).select($"id".as("k"))
      .crossJoin(truthBase.toSeq.toDF("bx", "by", "bcos"))
      .select(($"bx" + $"k" * stride).as("x"), ($"by" + $"k" * stride).as("y"),
        $"bcos")
      .cache()
    val nTruth = truthF.count()
    // rotation-invariance audit: 1000 sampled shifted truth pairs,
    // re-scored on the ACTUAL fixture embeddings, must reproduce the
    // base cosine exactly (the claim that base truth IS fixture truth)
    val c = Similarity.corpusWithNorm(spark, dir)
    val sampled = truthF
      .orderBy(Hashing.md5Bits32(concat(lit("ts:"), $"x".cast("string"),
        lit(":"), $"y".cast("string")), 1))
      .limit(1000)
    val rescored = sampled
      .join(c.select($"vec_id".as("x"), $"qemb".as("qa"), $"n2".as("na")), "x")
      .join(c.select($"vec_id".as("y"), $"qemb".as("qb"), $"n2".as("nb")), "y")
      .select($"x", $"y", $"bcos",
        cosineFromParts(dotPreQ($"qa", $"qb"), $"na", $"nb").as("fcos"))
    val nSampled = rescored.count()
    val nDrift = rescored.filter($"fcos" =!= $"bcos").count()
    require(nSampled > 0 && nDrift == 0,
      s"fixture rotation-invariance audit failed: $nDrift of $nSampled " +
        s"sampled truth pairs re-score differently on $dir — the shifted " +
        "base truth is NOT this fixture's truth; rebuild the fixture")
    val found = foundPairs(spark, dir).select($"x", $"y").cache()
    val nHit = found.join(truthF.select($"x", $"y"), Seq("x", "y"), "left_semi")
      .count()
    val nCross = found
      .filter(($"x" / stride).cast("long") =!= ($"y" / stride).cast("long"))
      .count()
    val recall = nHit.toDouble / nTruth
    truthF.unpersist()
    found.unpersist()

    // --- 2. dense-arm recall@20 vs sampled brute truth ---
    val qs = c.filter(isEval($"vec_id"))
      .orderBy(Hashing.md5Bits32(concat(lit("qs:"), $"vec_id".cast("string")), 1),
        $"vec_id")
      .limit(SampleQ)
      .select($"vec_id".as("query_id"), $"qemb".as("qq"), $"n2".as("qn2"))
      .cache()
    val brute = c.filter(!isEval($"vec_id"))
      .crossJoin(broadcast(qs))
      .select($"query_id", $"vec_id".as("doc_id"),
        cosineFromParts(dotPreQ($"qq", $"qemb"), $"qn2", $"n2").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cos".desc, $"doc_id".asc)))
      .filter($"rank" <= TopK)
      .select($"query_id", $"doc_id")
      .cache()
    val nBrute = brute.count()
    val ivf = Retrieval.DenseIvfScaledGen(spark, dir, TopK)
      .join(qs.select($"query_id"), Seq("query_id"), "left_semi")
    val nDenseHit = ivf.select($"query_id", $"doc_id")
      .join(brute, Seq("query_id", "doc_id"), "left_semi").count()
    val denseRecall = nDenseHit.toDouble / nBrute
    qs.unpersist()
    brute.unpersist()

    // --- 3. BM25 heap-top-k ≡ window-top-k on the sampled queries ---
    val qIds = c.filter(isEval($"vec_id"))
      .orderBy(Hashing.md5Bits32(concat(lit("qs:"), $"vec_id".cast("string")), 1),
        $"vec_id")
      .limit(SampleQ).select($"vec_id".as("query_id"))
    val heap = Retrieval.bm25TopK(spark, dir, TopK)
      .join(qIds, Seq("query_id"), "left_semi")
      .select($"query_id", $"doc_id", $"rank")
    val windowForm = Retrieval.bm25Candidates(spark, dir, None)
      .join(qIds, Seq("query_id"), "left_semi")
      .groupBy($"query_id", $"doc_id").agg(sum($"sq").as("score_q"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"score_q".desc, $"doc_id".asc)).cast("long"))
      .filter($"rank" <= TopK)
      .select($"query_id", $"doc_id", $"rank")
    val bmEqual = heap.exceptAll(windowForm).isEmpty &&
      windowForm.exceptAll(heap).isEmpty

    (recall, nTruth, nCross, denseRecall, bmEqual)
  }

  /** `--curve=N` mode: measure the amplification curve — run each of N
    * independently-seeded quantizers SEPARATELY at one factor,
    * collect its truth-hit pair set and its sampled-query dense
    * candidates, and print cumulative union recall for every R ≤ N.
    * One pass over the compute buys the whole recall-vs-tables curve
    * (a single R-table run costs the same but yields one point) — the
    * measurement the annTables default formula is calibrated from.
    */
  private def curve(spark: SparkSession, dir: String, factor: Int,
      truthBase: Array[(Long, Long, Double)], nTables: Int): Unit = {
    import spark.implicits._
    val stride = ScaleSweep.STRIDE
    val truthF = spark.range(factor).select($"id".as("k"))
      .crossJoin(truthBase.toSeq.toDF("bx", "by", "bcos"))
      .select(($"bx" + $"k" * stride).as("x"), ($"by" + $"k" * stride).as("y"))
      .cache()
    val nTruth = truthF.count()
    val c = Similarity.corpusWithNorm(spark, dir)
    val n = c.count()
    val nLists = math.max(8L, n / 256L).toInt
    val qs = c.filter(isEval($"vec_id"))
      .orderBy(Hashing.md5Bits32(concat(lit("qs:"), $"vec_id".cast("string")), 1),
        $"vec_id")
      .limit(SampleQ)
      .select($"vec_id".as("query_id"), $"qemb".as("qq"), $"n2".as("qn2"))
      .cache()
    val brute = c.filter(!isEval($"vec_id"))
      .crossJoin(broadcast(qs))
      .select($"query_id", $"vec_id".as("doc_id"),
        cosineFromParts(dotPreQ($"qq", $"qemb"), $"qn2", $"n2").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cos".desc, $"doc_id".asc)))
      .filter($"rank" <= TopK)
      .select($"query_id", $"doc_id")
      .as[(Long, Long)].collect().toSet
    println(s"curve at ${factor}x: nLists=$nLists, truth=$nTruth pairs, " +
      s"brute=${brute.size} (query,doc) slots")
    var pairHits = Set.empty[(Long, Long)]
    var denseCand = Map.empty[Long, Map[Long, Double]]
    println("| R | q253_recall_cum | dense_recall@20_cum | new_pair_hits |")
    println("|---|---|---|---|")
    (0 until nTables).foreach { t =>
      val hitsT = Similarity.embeddingNearDupIvf(spark, dir, Threshold,
          nLists, 4, 2, tables = 1, firstTable = t)
        .join(truthF, Seq("x", "y"), "left_semi")
        .select($"x", $"y").as[(Long, Long)].collect().toSet
      val candT = denseCandidates(spark, dir, nLists, t)
        .join(qs.select($"query_id"), Seq("query_id"), "left_semi")
        .as[(Long, Long, Double)].collect()
      val before = pairHits.size
      pairHits ++= hitsT
      candT.foreach { case (q, doc, cos) =>
        val m = denseCand.getOrElse(q, Map.empty)
        denseCand += q -> (m + (doc -> cos))
      }
      // cumulative dense top-20 from the unioned candidate pool
      val hits20 = denseCand.iterator.map { case (q, docs) =>
        docs.toSeq.sortBy { case (d, cos) => (-cos, d) }.take(TopK)
          .count { case (d, _) => brute((q, d)) }
      }.sum
      println(f"| ${t + 1} | ${pairHits.size.toDouble / nTruth}%.4f " +
        f"| ${hits20.toDouble / brute.size}%.4f | ${pairHits.size - before}%d |")
    }
    truthF.unpersist()
    qs.unpersist()
  }

  /** One quantizer's scored dense candidates for ALL eval queries:
    * (query_id, doc_id, cos) — the per-table slice of denseIvf before
    * its top-k, used by the curve mode.
    */
  private def denseCandidates(spark: SparkSession, dir: String,
      nLists: Int, table: Int): DataFrame = {
    import spark.implicits._
    val cents = Similarity.lloydCentroids(spark, dir, nLists, 2, table)
    val ranked = Similarity.centRanked(
      Similarity.corpusWithNorm(spark, dir)
        .select($"vec_id", $"qemb", $"n2", isEval($"vec_id").as("ev")),
      cents, 4)
    val corpusSide = ranked.filter(!$"ev")
      .select($"vec_id", $"qemb", $"n2",
        get($"ds", lit(0)).getField("cid").as("list_id"))
    val qp = ranked.filter($"ev")
      .select($"vec_id".as("query_id"), $"qemb".as("qq"), $"n2".as("qn2"),
        explode(transform(slice($"ds", 1, 4), p => p.getField("cid")))
          .as("p_list"))
    corpusSide.join(qp, $"list_id" === $"p_list")
      .select($"query_id", $"vec_id".as("doc_id"),
        cosineFromParts(dotPreQ($"qq", $"qemb"), $"qn2", $"n2").as("cos"))
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = {
      val named = args.drop(1).filterNot(_.startsWith("--")).map(_.toInt)
      if (named.nonEmpty) named.toSeq else Seq(10, 100)
    }
    val curveTables = args.find(_.startsWith("--curve"))
      .map(f => f.split("=").lift(1).map(_.toInt).getOrElse(9))
    args.filter(_.startsWith("--")).filterNot(_.startsWith("--curve"))
      .foreach(f => sys.error(s"unknown flag $f\nusage: QualitySweep " +
        "[src] [factor...] [--curve[=N]]"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    // base truth once, and the fixtures up front (each in its own
    // session so leg sessions start cold, the ScaleSweep discipline)
    val truthBase: Array[(Long, Long, Double)] = locally {
      val s = session(cpus, cpus)
      val t = Similarity.embeddingNearDup(s, src, Threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      factors.foreach(f =>
        ScaleSweep.ensureFixture(s, src, s"/tmp/graft_scale$f", f))
      s.stop()
      t
    }
    println(s"base exact truth: ${truthBase.length} pairs at cos >= $Threshold")

    curveTables.foreach { nT =>
      factors.foreach { f =>
        val spark = session(cpus, cpus * f)
        try curve(spark, s"/tmp/graft_scale$f", f, truthBase, nT)
        finally { graft.core.Profile.drain(spark); spark.stop() }
      }
      return
    }

    var violations = 0
    println("| factor | truth_pairs | q253_recall | cross_copy_found | " +
      "dense_recall@20 | bm25_topk_equal | law |")
    println("|---|---|---|---|---|---|---|")
    var floor253 = 0.0
    var floorDense = 0.0
    (1 +: factors).foreach { f =>
      val dir = if (f == 1) src else s"/tmp/graft_scale$f"
      val spark = session(cpus, cpus * f)
      val (r253, nTruth, nCross, rDense, bmEq) =
        try leg(spark, dir, f, truthBase)
        finally { graft.core.Profile.drain(spark); spark.stop() }
      val ok =
        if (f == 1) { floor253 = r253; floorDense = rDense; bmEq }
        else r253 >= 0.9 * floor253 && rDense >= 0.9 * floorDense && bmEq
      if (!ok) violations += 1
      println(f"| ${f}x | $nTruth%d | $r253%.4f | $nCross%d | $rDense%.4f " +
        f"| $bmEq%b | ${if (ok) "PASS" else "FAIL"} |")
    }
    println(s"qualitysweep: $violations violations " +
      s"(laws: recall >= 0.9x the 1x floor; bm25 top-k exact)")
    if (violations > 0) sys.exit(violations)
  }
}
