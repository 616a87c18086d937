package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Lineage
import graft.core.Lineage.CutOps
import graft.plans.LexExtreme.lexMax
import graft.core.Tables._

/** Weighted PageRank as an iterative DataFrame loop — the Gelly exercise
  * (gelly_java/PageRankWithEdgeWeights.java) re-expressed Spark-first
  * (no GraphFrames jar in this environment; SURVEY §2.9).
  *
  * Pipeline, mirroring the reference exactly:
  *  1. edge build: trade graph customer-nation → supplier-nation, weight =
  *     co-occurrence count (our edge list; the reference reads a file).
  *  2. out-weight sums per source (A8, `reduceOnEdges(SumWeight, OUT)`,
  *     gelly_java :86-88 — Java twin is canonical, the Scala twin's
  *     first-value bug is documented, not ported; SURVEY §7.4.5).
  *  3. transition probabilities w/sumOut (J4, `joinWithEdgesOnSource`,
  *     :91-100).
  *  4. fixed-iteration PR, damping 0.85 (:47): rank' = d·Σ_in(rank·p) +
  *     (1−d)/N, seeded 1.0 (Gelly's simplified PR; SURVEY §2.9 G2).
  *
  * Scale notes: each iteration is ranks⋈edges (shuffle on src) + agg on
  * dst; a `Lineage.cut` every iteration truncates the growing lineage —
  * the one place Catalyst gives no help (SURVEY §4). The cut is
  * localCheckpoint by default and a RELIABLE checkpoint under the
  * `spark.graft.reliableCheckpointDir` dial — the arm that survives
  * executor loss AFTER a cut (see graft.core.Lineage). Contribution sums are
  * quantized to 1e-14-scaled longs so ranks stay bit-identical across
  * engines/partitionings (they feed a hash-compare; Σ ≤ N·1e14 ≪ 2^53).
  */
object Graph extends graft.core.Memo.Owner {

  /** Edges (src, dst, w): nation-to-nation trade intensity. The 4-way
    * fact join shuffles on o_custkey/l_orderkey; customer and supplier
    * dims are broadcast.
    */
  def tradeEdges(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, d).select($"l_orderkey", $"l_suppkey")
      .join(orders(spark, d).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(customer(spark, d).select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(supplier(spark, d).select($"s_suppkey", $"s_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Per-vertex triangle counts on the undirected trade graph — the
    * degree-ordered node-iterator (Schank's orientation trick in its
    * distributed form, Suri & Vassilvitskii 2011): orient every edge
    * from its (degree, id)-smaller endpoint to the larger, enumerate
    * wedges only at each triangle's minimum-rank apex, close them
    * against the undirected edge set. The orientation bounds every
    * vertex's OUT-degree by O(√m), so the wedge self-join is
    * Σ outdeg² = O(m^{3/2}) — the distributed-triangle bound — instead
    * of hub-quadratic Σ deg²; each triangle is emitted exactly once (at
    * its unique minimum-rank apex).
    *
    * Scale: two vertex-key joins (wedge build + closure) and one
    * endpoints-explode aggregate; no vertex ever materializes its full
    * neighborhood in a single task. The 25-nation graph is a toy, but
    * this is the plan that survives a billion-edge graph.
    */
  def triangleCounts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val und = tradeEdges(spark, d)
      .filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
    val deg = und.select($"a".as("id")).union(und.select($"b".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("deg"))
    val lower = $"da" < $"db" || ($"da" === $"db" && $"a" < $"b")
    val ornt = und
      .join(deg.select($"id".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"id".as("b"), $"deg".as("db")), "b")
      .select(when(lower, $"a").otherwise($"b").as("u"),
        when(lower, $"b").otherwise($"a").as("v"))
    val tri = ornt.as("e1").join(ornt.as("e2"),
        $"e1.u" === $"e2.u" && $"e1.v" < $"e2.v")
      .select($"e1.u".as("x"), $"e1.v".as("y"), $"e2.v".as("z"))
      .join(und, $"y" === $"a" && $"z" === $"b")
      .select($"x", $"y", $"z")
    val pv = tri.select($"x".as("id"))
      .union(tri.select($"y".as("id")))
      .union(tri.select($"z".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("n_triangles"))
    deg.join(pv, Seq("id"), "left")
      .select($"id".as("nationkey"), $"deg",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"))
  }

  def pageRank(spark: SparkSession, d: String, iterations: Int = 10,
      damping: Double = 0.85, teleport: Double = 0.15): DataFrame = {
    import spark.implicits._
    pageRankEdges(spark, tradeEdges(spark, d), iterations, damping, teleport)
      .select($"id".as("nationkey"), $"rank")
  }

  /** The pageRank superstep loop over an explicit (src, dst, w) edge
    * table — split out (round 13) so GraphScaleSpec can rehearse the
    * ranks⋈edges join on a power-law hub fixture without a parquet dir.
    *
    * Hub-skew handling (round 13, GraphScaleSpec finding): AQE's skew
    * split can NEVER rescue this loop — the cached prob table's
    * HashPartitioning(src) is reused by every superstep join without a
    * fresh exchange, so there is no shuffle for OptimizeSkewedJoin to
    * split and one task absorbs a power-law hub's whole adjacency
    * (measured 86% of stage shuffle bytes on the rehearsal fixture).
    * The fix is a degree-aware SALTED join: sources whose out-degree
    * exceeds a task's fair share of edges — provably fewer than
    * `parallelism` of them, since each holds > |E|/parallelism edges —
    * get salt = hash(dst) % S on their adjacency rows, and the rank
    * side explodes ×S replicas for exactly that broadcast-small hot
    * set (cold rows keep salt 0 and a single replica). Every prob row
    * still meets exactly one rank replica, and the contribution sum is
    * quantized-exact, so ranks are BIT-IDENTICAL to the unsalted form
    * (GraphScaleSpec pins the equality); the hub's adjacency now
    * spreads across S tasks every iteration. The outSums build join is
    * materialization-barriered (localCheckpoint — the bm25Weights
    * move) so ITS one-off hub partition is AQE-splittable.
    */
  private[graft] def pageRankEdges(spark: SparkSession, edges0: DataFrame,
      iterations: Int, damping: Double = 0.85,
      teleport: Double = 0.15): DataFrame = {
    import spark.implicits._
    val ctx = prSetup(spark, edges0)
    var ranks = ctx.vertices.select($"id", lit(1.0).as("rank"))
    for (_ <- 1 to iterations)
      ranks = prStep(spark, ctx, ranks, damping, teleport)
    ctx.cleanup()
    ranks.select($"id", $"rank")
  }

  /** Everything a PR superstep loop shares: the cached salted
    * transition table, the vertex set, and the salt machinery (plan
    * fragments only — no encoders touch this).
    */
  private case class PrCtx(prob: DataFrame, vertices: DataFrame,
    n: Double, statePartitions: Int, hotEmpty: Boolean,
    saltArr: org.apache.spark.sql.Column,
    idHot: org.apache.spark.sql.Column, cleanup: () => Unit)

  /** Build the shared PR state off an edge table: out-sums (checkpointed
    * as the AQE materialization barrier for the build join), hot-source
    * detection, the salted+cached transition table, the vertex set.
    */
  private def prSetup(spark: SparkSession, edges0: DataFrame): PrCtx = {
    import spark.implicits._
    val edges = edges0.cache()
    val totalEdges = edges.count()
    // A8: per-source sum of outgoing weights (Java-canonical semantics);
    // the checkpoint is an AQE materialization barrier for the build
    // join below (an aggregate directly under a join hides map stats)
    val outSums = edges.groupBy($"src")
      .agg(sum($"w").as("sumOut"), count(lit(1)).as("odeg"))
      .cutLineage()
    val par = spark.sparkContext.defaultParallelism
    val fairShare = math.max(1000L, totalEdges / math.max(1, par))
    // hot sources: out-degree above one task's fair share ⇒ < par rows
    val hotSrcs = graft.core.Bounded.collect(
        outSums.filter($"odeg" > fairShare).select($"src"),
        par.toLong, "pageRank hot sources (< parallelism rows)")
      .map(_.getLong(0)).toSeq
    val saltFan = par
    val isHot =
      if (hotSrcs.isEmpty) lit(false) else $"src".isin(hotSrcs: _*)
    // J4: transition probability = w / sumOut (exact-long inputs: one
    // correctly-rounded division, deterministic everywhere); hot rows
    // carry a dst-hash salt so the cache layout spreads the hub
    val prob = edges.join(outSums, "src")
      .select($"src", $"dst",
        ($"w".cast("double") / $"sumOut".cast("double")).as("p"),
        when(isHot, pmod(hash($"dst"), lit(saltFan)).cast("int"))
          .otherwise(lit(0)).as("salt"))
      .repartition($"src", $"salt")
      .cache()
    // G1: vertex set = distinct edge endpoints, seeded rank 1.0
    val vertices = edges.select($"src".as("id"))
      .union(edges.select($"dst".as("id"))).distinct().cache()
    val n = vertices.count().toDouble
    val saltArr = array((0 until saltFan).map(s => lit(s)): _*)
    val idHot =
      if (hotSrcs.isEmpty) lit(false) else $"id".isin(hotSrcs: _*)
    // iteration-state partitioning: the rank table is orders of magnitude
    // smaller than the edge data, so shrink it between supersteps (a real
    // deployment sizes this to |V| / target-partition-rows; 32 shuffle
    // partitions of a 25-row table is pure task overhead)
    val statePartitions = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, n.toInt / 1000 + 1))
    PrCtx(prob, vertices, n, statePartitions, hotSrcs.isEmpty, saltArr,
      idHot,
      // the per-superstep localCheckpoint cut ranks' lineage, so the
      // cached inputs are no longer referenced — don't pin them
      () => { edges.unpersist(); prob.unpersist(); vertices.unpersist() })
  }

  /** ONE PR superstep over the shared context — the identical
    * quantized-exact math of the fixed loop and the converged loop.
    */
  private def prStep(spark: SparkSession, ctx: PrCtx, ranks: DataFrame,
      damping: Double, teleport: Double): DataFrame = {
    import spark.implicits._
    // replicate ONLY hot vertices' ranks across the salt fan; cold
    // ranks keep one salt-0 replica — each prob row joins exactly
    // one. With NO hot sources the salt column is constant 0 and the
    // replica array is [0], so the explode is skipped outright and
    // the plan is the plain pre-salting join.
    val saltedRanks =
      if (ctx.hotEmpty) ranks.select($"id", $"rank", lit(0).as("salt"))
      else ranks.select($"id", $"rank",
        explode(when(ctx.idHot, ctx.saltArr).otherwise(array(lit(0))))
          .as("salt"))
    val contribs = saltedRanks
      .join(ctx.prob,
        $"id" === $"src" && saltedRanks("salt") === ctx.prob("salt"))
      .groupBy($"dst")
      // quantized-exact contribution sum: deterministic under any
      // aggregation order (see scaladoc)
      .agg((sum(round(($"rank" * $"p") * 1e14).cast("long")).cast("double") / 1e14).as("s"))
    ctx.vertices
      .join(contribs, $"id" === $"dst", "left")
      // teleport as the explicit 0.15 literal, NOT (1 - damping): the
      // latter is 0.15000000000000002 in doubles and the oracle's
      // 0.15::DOUBLE would differ by 1 ulp on in-edge-less vertices
      .select($"id", (lit(damping) * coalesce($"s", lit(0.0))
        + lit(teleport / ctx.n)).as("rank"))
      .coalesce(ctx.statePartitions)
      .cutLineage() // cut lineage each superstep
  }

  /** PageRank with an L1-convergence early exit: identical per-superstep
    * math to `pageRank` (same quantized-exact contribution sums, same
    * explicit teleport literal), but the loop stops once the L1 delta
    * between consecutive rank vectors drops to `tol` — settled graphs
    * skip the remaining supersteps instead of burning fixed iterations.
    * `pageRank(iterations)` stays the oracle contract (q13) — note the
    * two stop rules genuinely differ on this PR variant (mass decays from
    * |V| toward 1, so a tol exit fires when the chain has SETTLED, not at
    * any particular iteration count). GraphAppSpec pins both properties:
    * tol=0 is bit-identical to the fixed loop, and a tol exit satisfies
    * the PR fixed-point equation to ≤ damping·tol (Banach: the map is a
    * `damping`-contraction in L1, so delta ≤ tol bounds the residual).
    * The delta is one extra |V|-row aggregate per superstep — cheap next
    * to the ranks⋈edges join it can elide whole rounds of.
    */
  def pageRankConverged(spark: SparkSession, d: String,
      maxIterations: Int = 50, tol: Double = 1e-12,
      damping: Double = 0.85, teleport: Double = 0.15): DataFrame = {
    import spark.implicits._
    // same salted superstep machinery as the fixed loop (round 13):
    // the convergence variant runs MORE supersteps, so the hub-skew
    // trap (AQE can't split the cache-partitioned prob join) bites
    // it harder, not less
    val ctx = prSetup(spark, tradeEdges(spark, d))
    var ranks = ctx.vertices.select($"id", lit(1.0).as("rank"))
    var it = 0
    var delta = Double.MaxValue
    while (it < maxIterations && delta > tol) {
      val next = prStep(spark, ctx, ranks, damping, teleport)
      // empty graph → SUM over zero vertices is NULL ≡ converged
      delta = graft.core.Scalars.doubleAt(
        next.select($"id", $"rank".as("next_rank"))
          .join(ranks.select($"id", $"rank".as("prev_rank")), "id")
          .agg(sum(abs($"next_rank" - $"prev_rank"))).head(), 0, 0.0)
      ranks = next
      it += 1
    }
    ctx.cleanup()
    ranks.select($"id".as("nationkey"), $"rank")
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the O(log n)-round algorithm that replaces min-label
    * propagation's O(diameter) supersteps: each round hangs every node
    * under the minimum of its neighborhood, halving path lengths, so a
    * million-link chain converges in ~20 rounds instead of a million.
    *
    * Per round: large-star points every neighbor v > u at
    * m = min(Γ(u) ∪ {u}); small-star points every neighbor v ≤ u (and u)
    * at the minimum of that set. Both are one groupBy-min plus one join
    * back onto the edge list — two shuffles a round, state ∝ |edges|
    * (never collected). Convergence = the edge multiset stops changing
    * (checked as an anti-join count, one job); at the fixpoint the edges
    * form stars rooted at component minima.
    *
    * Input: undirected edges (x, y); output: (id, component) for every
    * endpoint, component = the component's minimum id. `roundsOut`, when
    * non-null, receives the number of rounds run — the spec's O(log n)
    * round-count pin.
    */
  def connectedComponentsStar(edges0: DataFrame, maxRounds: Int = 40,
      roundsOut: java.util.concurrent.atomic.AtomicInteger = null): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    // large-star over the SYMMETRIC view: every node u points its
    // strictly-larger neighbors at m = min(Γ(u) ∪ {u}); output is
    // directed (hi → lo) because v > u ≥ m
    def largeStar(dir: DataFrame): DataFrame = {
      val sym = dir.union(dir.select($"y".as("x"), $"x".as("y")))
      val mins = sym.groupBy($"x").agg(min($"y").as("mn"))
        .select($"x".as("u"), least($"mn", $"x").as("m"))
      sym.join(mins, $"x" === $"u")
        .filter($"y" > $"x")
        .select($"y".as("x"), $"m".as("y"))
        .distinct()
    }
    // small-star over the directed (hi → lo) view: u points its smaller
    // neighbors (and itself) at their minimum; output stays hi → lo
    def smallStar(dir: DataFrame): DataFrame = {
      val mins = dir.groupBy($"x").agg(min($"y").as("m"))
      dir.join(mins, "x")
        .select($"y".as("v"), $"m")
        .union(mins.select($"x".as("v"), $"m"))
        .filter($"v" =!= $"m")
        .select($"v".as("x"), $"m".as("y"))
        .distinct()
    }
    val start = Lineage.counted(edges0.select($"x", $"y")
      .filter($"x" =!= $"y")
      .select(greatest($"x", $"y").as("x"), least($"x", $"y").as("y"))
      .distinct())
    var edges = start.df
    var round = 0
    var stable = false
    var edgeCount = start.rows
    while (!stable && round < maxRounds) {
      val next = Lineage.counted(smallStar(largeStar(edges)))
      // fixpoint = the directed-canonical edge SETS are equal; both are
      // distinct by construction, so equality ⟺ same cardinality AND an
      // empty one-sided difference — the cut's own count + one anti-join
      // job per round, not two exceptAll jobs
      stable = next.rows == edgeCount && next.df.exceptAll(edges).isEmpty
      edges = next.df
      edgeCount = next.rows
      round += 1
    }
    // non-star edges at this point would put a node on the hi side of
    // several edges → multiple (id, component) rows per node downstream,
    // silently inflating cluster counts. Fail loudly instead: O(log n)
    // convergence means hitting maxRounds=40 is a pathology, not a corpus.
    require(stable,
      s"connected components did not reach the star fixpoint in $maxRounds rounds")
    if (roundsOut ne null) roundsOut.set(round)
    // at the fixpoint edges form stars (member → root); roots label
    // themselves (a root never appears on the hi side of a star edge)
    val members = edges.select($"x".as("id"), $"y".as("component"))
    val roots = edges.select($"y".as("id")).distinct()
      .join(members.select($"id"), Seq("id"), "left_anti")
      .select($"id", $"id".as("component"))
    members.union(roots)
  }

  /** Co-purchase edges (p1 < p2, cnt): the bipartite order–part graph
    * projected onto parts — two parts are linked once per order that
    * contains both, kept when they co-occur in ≥ `minCount` orders.
    * Memo-shared: q111 emits it, q112's k-core peels it.
    *
    * Scale: the projection is a self-join ON THE ORDER KEY, so each
    * task's pair fan-out is bounded by the square of a single order's
    * line count (≤ ~13 parts/order in TPC-H shape — never the
    * hub-quadratic part×part blow-up of joining on the part side), and
    * the pair aggregate is one shuffle with map-side combine. This is
    * the standard market-basket projection plan.
    */
  private[graft] val copurchaseEdges =
    shared("copurchaseEdges", cache = true, 2) { (spark, d, minCount) =>
      import spark.implicits._
      // one ORDER-grouped basket pass instead of the distinct+self-join
      // (r17, guide §3.4/§2.3): collect_set folds the distinct into the
      // same exchange, and the i<j pair fan-out happens IN the scan
      // stage off the sorted basket array — so the plan is scan →
      // basket agg → pair agg (2 exchanges, no join) at ANY scale,
      // where the join form kept a second scan and degrades to a
      // corpus-sized SMJ once the distinct side outgrows the local
      // broadcast. Fan-out per task is still bounded by the square of
      // a single order's basket (the market-basket bound); sorted
      // distinct baskets make (i < j) ≡ (p1 < p2), so the pair
      // multiset — and hence every count — is identical to the join
      // form's. The null filters mirror the join's null-rejecting
      // keys (null order/part rows produced no pairs there either).
      lineitem(spark, d)
        .filter($"l_orderkey".isNotNull && $"l_partkey".isNotNull)
        .groupBy($"l_orderkey")
        .agg(sort_array(collect_set($"l_partkey")).as("ps"))
        .select($"ps", posexplode($"ps").as(Seq("i", "p1")))
        .select($"p1", $"i", posexplode($"ps").as(Seq("j", "p2")))
        .filter($"j" > $"i")
        .groupBy($"p1", $"p2")
        .agg(count(lit(1)).as("cnt"))
        .filter($"cnt" >= minCount)
    }

  /** q111: the co-purchase pair list itself (support ≥ 2). */
  def copurchasePairs(spark: SparkSession, d: String): DataFrame =
    copurchaseEdges(spark, d)

  /** q112: the k-core of the co-purchase graph — iterative degree peel
    * (Matula–Beck in its distributed form): drop every vertex with
    * degree < k, recompute degrees on the surviving subgraph, repeat to
    * the fixpoint; output each surviving vertex with its in-core degree.
    *
    * Scale: each round is one degree aggregate + one semi-join of the
    * edge list against the surviving vertex set — state ∝ |edges|,
    * nothing collected; `localCheckpoint` per round truncates the
    * growing loop lineage (the PageRank/CC discipline). Round count is
    * bounded by the peel depth (10 on the sf0.01 fixture, O(√m) worst
    * case), not by |V|. The DuckDB oracle unrolls a fixed 16 stages;
    * KCoreSpec asserts the fixture reaches its fixpoint within that.
    */
  def kCore(spark: SparkSession, d: String, k: Int = 3,
      maxRounds: Int = 40): DataFrame = {
    import spark.implicits._
    kCoreEdges(spark, copurchaseEdges(spark, d).select($"p1", $"p2"), k,
        maxRounds)
      .select($"id".as("partkey"), $"deg".as("core_deg"))
  }

  /** The k-core peel loop over an explicit (p1, p2) edge table —
    * split out (round 13) for GraphScaleSpec's hub-skew rehearsal.
    */
  private[graft] def kCoreEdges(spark: SparkSession, edges0: DataFrame,
      k: Int, maxRounds: Int = 40): DataFrame = {
    import spark.implicits._
    def degrees(e: DataFrame): DataFrame =
      e.select($"p1".as("id")).union(e.select($"p2".as("id")))
        .groupBy($"id").agg(count(lit(1)).as("deg"))
    val start = Lineage.counted(edges0.select($"p1", $"p2"))
    var edges = start.df
    // carry the surviving-edge count across rounds: the stability test
    // needs |next| vs |edges|, and |edges| is last round's |next| — the
    // counted cut's own job is the only one per round
    var edgeCount = start.rows
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      val keep = degrees(edges).filter($"deg" >= k).select($"id")
      // NOT partition-pinned (r17 measured): the edge table shrinks
      // every round, so there is no static side to pin, and the cut
      // reports UnknownPartitioning under AQE (LineageSpec's cache-arm
      // canary documents which form the CC pins ride instead).
      val next = Lineage.counted(edges
        .join(keep.select($"id".as("p1")), Seq("p1"), "left_semi")
        .join(keep.select($"id".as("p2")), Seq("p2"), "left_semi")
        .select($"p1", $"p2"))
      stable = next.rows == edgeCount
      edgeCount = next.rows
      edges = next.df
      round += 1
    }
    require(stable, s"k-core peel did not converge in $maxRounds rounds")
    degrees(edges).select($"id", $"deg")
  }

  /** q118: common-neighbor link prediction on the co-purchase graph —
    * for every NON-adjacent part pair sharing ≥ `minCommon` neighbors,
    * the common-neighbor count and the neighbor-set Jaccard
    * cn/(deg_a + deg_b − cn) (Liben-Nowell & Kleinberg's CN/Jaccard
    * predictors; the "customers who bought X also consider Y" candidate
    * generator). Rides the q111/q112 memo-shared edge projection.
    *
    * Scale: the same wedge join as q110's triangles — pair fan-out is
    * per-vertex-degree-bounded (each shared neighbor z contributes
    * deg(z)² wedges), one (pair) aggregate with map-side combine, then a
    * broadcast-able LEFT ANTI join against the edge list to keep only
    * non-edges. Degrees and the Jaccard are exact integers + one
    * division. No all-pairs stage anywhere.
    */
  def linkPrediction(spark: SparkSession, d: String, minCommon: Int = 2): DataFrame = {
    import spark.implicits._
    val edges = copurchaseEdges(spark, d).select($"p1", $"p2")
    val nb = edges.select($"p1".as("z"), $"p2".as("x"))
      .union(edges.select($"p2".as("z"), $"p1".as("x")))
    val deg = nb.groupBy($"x".as("id")).agg(count(lit(1)).as("deg"))
    val cn = nb.as("a").join(nb.as("b"),
        $"a.z" === $"b.z" && $"a.x" < $"b.x")
      .groupBy($"a.x".as("p1"), $"b.x".as("p2"))
      .agg(count(lit(1)).as("cn"))
      .filter($"cn" >= minCommon)
      .join(edges, Seq("p1", "p2"), "left_anti")
    cn.join(deg.select($"id".as("p1"), $"deg".as("d1")), "p1")
      .join(deg.select($"id".as("p2"), $"deg".as("d2")), "p2")
      .select($"p1", $"p2", $"cn",
        ($"cn".cast("double") / ($"d1" + $"d2" - $"cn").cast("double"))
          .as("jaccard"))
  }

  /** q230: degree assortativity (Newman 2002, PRL 89 208701) of the
    * co-purchase graph — the Pearson correlation of end-point degrees
    * over the 2m directed stubs of the undirected edge set. Positive r:
    * hubs link to hubs (a core–periphery basket graph, where hub
    * removal fragments little); negative r: hubs link to leaves (a
    * star-like graph whose diameter and component structure hinge on a
    * few parts). Read next to q110/q112/q144 before trusting sampled
    * subgraphs: degree-biased samplers (random walks q145, frontier BFS
    * q123) over- or under-visit by exactly this correlation.
    *
    * Exactness: degrees are exact integers; both stub orientations make
    * the x/y marginals identical (Σx = Σy, Σx² = Σy²), so r = (n·Σxy −
    * (Σx)²) / (n·Σx² − (Σx)²) needs only THREE decimal(38,0) sums; the
    * single final division is the only FP op — cross-engine bit-equal.
    *
    * Shape: one degree aggregate (vertex-keyed shuffle with map-side
    * combine), two vertex-keyed joins of the stub list against the
    * degree table, ONE 1-row global aggregate. No window, no self-join,
    * nothing collected — at 100 TB this is two edge-list-sized hash
    * joins and a scalar reduce.
    */
  def degreeAssortativity(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dec38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val edges = copurchaseEdges(spark, d).select($"p1", $"p2")
    val nb = edges.select($"p1".as("z"), $"p2".as("x"))
      .union(edges.select($"p2".as("z"), $"p1".as("x")))
    val deg = nb.groupBy($"x".as("id")).agg(count(lit(1)).as("deg"))
    val st = nb
      .join(deg.select($"id".as("z"), $"deg".as("du")), "z")
      .join(deg.select($"id".as("x"), $"deg".as("dv")), "x")
      .select($"du", $"dv")
    st.agg(
        count(lit(1)).as("n_stubs"),
        sum($"du".cast(dec38)).as("sx"),
        sum(($"du".cast(dec38) * $"dv".cast(dec38))).as("sxy"),
        sum(($"du".cast(dec38) * $"du".cast(dec38))).as("sxx"))
      .select(
        ($"n_stubs" / lit(2L)).cast("long").as("n_edges"),
        round($"sx".cast("double") / $"n_stubs".cast("double")
          * lit(1000000.0)).cast("long").as("mean_deg_q6"),
        when($"n_stubs".cast(dec38) * $"sxx" - $"sx" * $"sx" > 0,
          ($"n_stubs".cast(dec38) * $"sxy" - $"sx" * $"sx").cast("double")
            / ($"n_stubs".cast(dec38) * $"sxx" - $"sx" * $"sx").cast("double"))
          .otherwise(lit(0.0)).as("assortativity"))
  }

  /** q123: single-source BFS hop distances on the co-purchase graph from
    * its minimum vertex id — frontier-expansion form: each round joins
    * the adjacency ONLY against the vertices discovered last round,
    * anti-joins the already-settled set, and stops when the frontier
    * empties. Emits (partkey, hops) for the reachable component;
    * unreached vertices are absent by definition.
    *
    * Scale: the textbook distributed BFS — per-round work ∝ edges
    * incident to the frontier (never the settled set, unlike a
    * Bellman-Ford relaxation over all vertices each round); round count
    * = source eccentricity (10 on the sf0.01 fixture, spec-pinned ≤ the
    * oracle's 14 unrolled stages); `localCheckpoint` per round cuts the
    * loop lineage. The min-aggregate on candidates keeps multi-parent
    * discoveries deterministic.
    */
  def bfsHops(spark: SparkSession, d: String, maxRounds: Int = 40): DataFrame = {
    import spark.implicits._
    bfsEdges(spark, copurchaseEdges(spark, d).select($"p1", $"p2"), maxRounds)
      .select($"id".as("partkey"), $"hops")
  }

  /** The BFS frontier loop over an explicit (p1, p2) edge table —
    * split out (round 13) for GraphScaleSpec's hub-skew rehearsal.
    */
  private[graft] def bfsEdges(spark: SparkSession, edges0: DataFrame,
      maxRounds: Int = 40): DataFrame = {
    import spark.implicits._
    val edges = edges0.select($"p1", $"p2")
    // NOT partition-pinned like the CC loops (r17 measured negative):
    // the frontier side is the small one here, so every round's join
    // broadcasts the frontier and nb is never exchanged anyway — a
    // repartition($"z").cache() pin measured 0.80 → 1.27 s (its one-off
    // materialization is pure loss), and an unsalted hub pin would
    // recreate the pageRank skew lesson at scale.
    val nb = edges.select($"p1".as("z"), $"p2".as("x"))
      .union(edges.select($"p2".as("z"), $"p1".as("x")))
    // no edges → no BFS source; a defined empty frame, not a null read
    // (the hillTail guard convention)
    val srcRow = edges.agg(min($"p1")).head()
    if (srcRow.isNullAt(0))
      return Seq.empty[(Long, Long)].toDF("id", "hops")
    val src = srcRow.getLong(0)
    var dist = Seq((src, 0L)).toDF("id", "hops").cutLineage()
    var frontier = dist
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val cand = nb.join(frontier, nb("z") === frontier("id"))
        .select($"x".as("id"), ($"hops" + 1L).as("hops"))
      val fresh = Lineage.counted(cand.join(dist, Seq("id"), "left_anti")
        .groupBy($"id").agg(min($"hops").as("hops")))
      if (fresh.rows == 0) done = true
      else {
        dist = dist.union(fresh.df).cutLineage()
        frontier = fresh.df
      }
      round += 1
    }
    require(done, s"BFS did not exhaust its frontier in $maxRounds rounds")
    dist.select($"id", $"hops")
  }

  /** q134: association rules over the co-purchase pairs — for every
    * directed rule a→b with pair support ≥ 2: the support count,
    * confidence conf(a→b) = sup(a,b)/sup(a), and lift
    * sup(a,b)·N/(sup(a)·sup(b)) — the Agrawal-Srikant market-basket
    * primitives ("customers who bought X buy Y with p, q× over chance").
    * Both ratios are ONE double division of exact integers, quantized to
    * 1e6 (the engine's standard ratio discipline), so the oracle is
    * value-exact.
    *
    * Scale: rides the memo-shared q111/q112/q118/q123/q126 edge
    * projection (per-order-bounded fan-out); item supports are one
    * distinct-pair aggregate; N is one driver scalar; the rule table is
    * 2·|edges| rows with two broadcast-able support joins.
    */
  def associationRules(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pp = lineitem(spark, d).select($"l_orderkey", $"l_partkey").distinct()
    val sup = pp.groupBy($"l_partkey".as("pk")).agg(count(lit(1)).as("sup"))
    val n = pp.select($"l_orderkey").distinct().count()
    val e = copurchaseEdges(spark, d).select($"p1", $"p2", $"cnt")
    val rules = e.select($"p1".as("antecedent"), $"p2".as("consequent"), $"cnt")
      .unionByName(e.select($"p2".as("antecedent"), $"p1".as("consequent"), $"cnt"))
    rules
      .join(sup.select($"pk".as("antecedent"), $"sup".as("sup_a")), "antecedent")
      .join(sup.select($"pk".as("consequent"), $"sup".as("sup_b")), "consequent")
      .select($"antecedent", $"consequent", $"cnt",
        round($"cnt".cast("double") / $"sup_a".cast("double") * 1000000.0)
          .cast("long").as("conf_q"),
        round(($"cnt" * n).cast("double") / ($"sup_a" * $"sup_b").cast("double")
          * 1000000.0).cast("long").as("lift_q"))
  }

  /** q144: one-hop neighborhood feature aggregation — per co-purchase
    * vertex: its degree, and the min/mean/max of its neighbors' degrees
    * (mean as one exact-integer division). THE message-passing primitive
    * GNN pipelines run to build node features before sampling/training —
    * one round of degree propagation expressed relationally.
    *
    * Scale: degrees are one endpoint-union aggregate; the propagation is
    * one join of the (static) adjacency onto the degree table keyed by
    * vertex, then a per-vertex aggregate — the exact shape of one GNN
    * aggregation layer, memo-sharing the q111 edge projection.
    */
  def neighborhoodDegrees(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val edges = copurchaseEdges(spark, d).select($"p1", $"p2")
    val nb = edges.select($"p1".as("v"), $"p2".as("u"))
      .union(edges.select($"p2".as("v"), $"p1".as("u")))
    val deg = nb.groupBy($"v").agg(count(lit(1)).as("deg"))
    nb.join(deg.select($"v".as("u"), $"deg".as("udeg")), "u")
      .groupBy($"v")
      .agg(count(lit(1)).as("deg"),
        min($"udeg").as("min_nbr_deg"),
        (sum($"udeg").cast("double") / count(lit(1)).cast("double"))
          .as("mean_nbr_deg"),
        max($"udeg").as("max_nbr_deg"))
      .select($"v".as("partkey"), $"deg", $"min_nbr_deg",
        $"mean_nbr_deg", $"max_nbr_deg")
  }

  /** q145: deterministic random walks — one `steps`-hop walk from every
    * co-purchase vertex, the node2vec/DeepWalk corpus-generation
    * primitive made fully oracle-checkable: at step t from vertex v the
    * walk takes neighbor index md5("walk:start:t:v") mod deg(v) over the
    * id-ordered adjacency — a hash-derived choice both engines derive
    * identically (the q52/q29 md5-determinism discipline), so the whole
    * walk corpus is value-exact, not rows-only.
    *
    * Scale: `walkEdges` — at most `WalkDriverMaxEdges` edges walk on the
    * driver and come back as a local table; above it the walk is the
    * distributed join loop.
    */
  def randomWalks(spark: SparkSession, d: String, steps: Int = 4): DataFrame =
    walkEdges(spark, copurchaseEdges(spark, d), steps)

  /** The edge bound of `walkEdges`' driver arm. Bound argument: the
    * driver holds the collected rows (about 100 bytes each) and a CSR
    * copy of the adjacency (three long arrays of 2 entries per edge),
    * under 100 MB at this bound, where the co-purchase graph is ~3.6k
    * edges at sf0.1 (its pairs need two co-purchases, so they grow with
    * the part count, not the orders).
    */
  private[graft] val WalkDriverMaxEdges = 500000L

  /** The walk over an explicit (p1, p2) edge table with non-null ids —
    * undirected, one adjacency entry per edge and direction. One bounded
    * collect of the edges decides the arm:
    *
    *  - at most `driverMaxEdges` edges: the walk runs on the driver over
    *    a CSR adjacency, each vertex's neighbors sorted by id, the pick
    *    `Hashing.md5BucketJvm` (the JVM twin of the md5_bits32 pick), and
    *    returns a local table. Construction runs the collect's one job;
    *    the action reads the local table.
    *  - above it: the distributed walk — each step joins the walk
    *    frontier onto the current vertex's degree, computes the pick,
    *    and joins the ranked adjacency on (vertex, neighbor index), so a
    *    hub's adjacency is never fanned out per walk; state is |V| rows
    *    throughout; the adjacency (with per-vertex neighbor ranks) is
    *    pinned once and reused across steps, and the steps run in the
    *    query's action.
    *
    * The arms give identical rows (GraphScaleSpec, KCoreSpec).
    */
  private[graft] def walkEdges(spark: SparkSession, edges0: DataFrame, steps: Int,
      driverMaxEdges: Long = WalkDriverMaxEdges): DataFrame = {
    val edges = edges0.select("p1", "p2")
    // one partition makes the limit collect one job at any scale: Spark
    // takes a limit over p partitions in 1 + ⌈log4 p⌉ jobs. The one task
    // reads at most driverMaxEdges + 1 rows of the cached edges
    graft.core.Bounded.collectWithin(edges.coalesce(1), driverMaxEdges) match {
      case Some(rows) => driverWalks(spark, rows, steps)
      case None => distributedWalks(spark, edges, steps)
    }
  }

  private def driverWalks(spark: SparkSession,
      edges: Array[org.apache.spark.sql.Row], steps: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.functions.Hashing.md5BucketJvm
    // both directions of every edge, then a CSR layout: vertex i's
    // neighbors are nbr(off(i) until off(i + 1)), sorted by id
    val from = new Array[Long](2 * edges.length)
    val to = new Array[Long](2 * edges.length)
    edges.indices.foreach { i =>
      val (a, b) = (edges(i).getLong(0), edges(i).getLong(1))
      from(2 * i) = a; to(2 * i) = b
      from(2 * i + 1) = b; to(2 * i + 1) = a
    }
    val verts = from.distinct.sorted
    def at(v: Long) = java.util.Arrays.binarySearch(verts, v)
    val off = new Array[Int](verts.length + 1)
    from.foreach(v => off(at(v) + 1) += 1)
    verts.indices.foreach(i => off(i + 1) += off(i))
    val nbr = new Array[Long](to.length)
    val fill = off.clone()
    from.indices.foreach { j =>
      val i = at(from(j)); nbr(fill(i)) = to(j); fill(i) += 1
    }
    verts.indices.foreach(i => java.util.Arrays.sort(nbr, off(i), off(i + 1)))
    val walks = verts.indices.map { s =>
      var i = s
      Row.fromSeq(verts(s) +: (1 to steps).map { t =>
        val pick = md5BucketJvm(s"walk:${verts(s)}:$t:${verts(i)}", off(i + 1) - off(i))
        val next = nbr(off(i) + pick.toInt)
        i = at(next)
        next
      })
    }
    val schema = StructType(("start_id" +: (1 to steps).map(t => s"v$t"))
      .map(StructField(_, LongType, nullable = false)))
    spark.createDataFrame(walks.asJava, schema)
  }

  private def distributedWalks(spark: SparkSession, edges: DataFrame,
      steps: Int): DataFrame = {
    import spark.implicits._
    import graft.functions.Hashing.md5Bits32
    val nb = edges.select($"p1".as("v"), $"p2".as("u"))
      .union(edges.select($"p2".as("v"), $"p1".as("u")))
    // materialized once: the one pin every step's join re-reads
    val ranked = nb
      .withColumn("idx", row_number().over(
        Window.partitionBy($"v").orderBy($"u")).cast("long") - 1L)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy($"v")))
      .cutLineage()
    // every vertex with a neighbor has exactly one idx = 0 row
    val firsts = ranked.filter($"idx" === 0L)
    var walk = firsts.select($"v".as("start"), $"v".as("cur"))
    for (t <- 1 to steps) {
      // per-step renamed projections: their aliases are fresh attribute
      // ids, so joining the pin onto a walk that already read it is no
      // self-join, and plain names resolve on one side only. The steps
      // stay one lineage — the md5 pick is deterministic, so nothing
      // needs freezing between them. The pick is computed from the
      // current vertex's degree BEFORE the adjacency join, so each walk
      // meets exactly one adjacency row: joining on the vertex alone
      // and filtering after fans every walk at a hub out to the hub's
      // whole adjacency
      val deg = firsts.select($"v".as("__dv"), $"deg".as("__deg"))
      val adj = ranked.select($"v".as("__v"), $"idx".as("__idx"),
        $"u".as(s"v$t"))
      val pick = pmod(md5Bits32(concat(lit("walk:"), $"start".cast("string"),
        lit(s":$t:"), $"cur".cast("string")), 1), $"__deg")
      walk = walk
        .join(deg, $"cur" === $"__dv")
        .withColumn("__pick", pick)
        .join(adj, $"cur" === $"__v" && $"__pick" === $"__idx")
        .select(($"start" +: (1 to t).map(i => col(s"v$i"))): _*)
        .withColumn("cur", col(s"v$t"))
    }
    walk.select($"start".as("start_id") +: (1 to steps).map(i => col(s"v$i")): _*)
  }

  /** q194: deterministic NEGATIVE sampling over the co-purchase graph —
    * the other half of the training table q118/q144/q145 prepare: a
    * link-prediction or embedding trainer needs k non-edges per vertex
    * to contrast against the positive edges, drawn reproducibly (the
    * hash-not-rand discipline — membership survives re-materialization).
    *
    * Construction, mirrored exactly by the oracle: vertices get a dense
    * 1-based rank under the id order (the two-phase `Ranks.globalRank` —
    * no single-partition sort); each vertex draws `m` candidate RANKS
    * as md5("neg:v:i") mod |V| (an alias-table pick — uniform over the
    * vertex set); candidates resolve rank→id through the rank table,
    * then self-hits and actual edges are rejected (one anti-join against
    * the canonical p1<p2 edge list) and the first `k` survivors by draw
    * index are kept. A vertex can yield < k rows if many draws hit its
    * neighborhood — the trainer's standard oversample-and-reject
    * contract (m = 16 draws for k = 5 keeps that probability negligible
    * away from near-clique vertices).
    *
    * Scale: |V| comes from one aggregate broadcast (no driver collect);
    * the rank resolve and the edge rejection are hash equi-joins; the
    * first-k window partitions on the VERTEX — a high-cardinality key
    * with ≤ m rows per group, the bounded-window shape (q128), not a
    * hot-group sort.
    */
  def negativeSamples(spark: SparkSession, d: String,
      k: Int = 5, m: Int = 16): DataFrame = {
    import spark.implicits._
    import graft.functions.Hashing.md5Bits32
    val edges = copurchaseEdges(spark, d).select($"p1", $"p2")
    // pinned ONCE (r17): the vertex set feeds THREE consumers — the
    // rank, the modulus count, and the candidate fan-out. The unpinned
    // form leaned on globalRank's internal persist, which rankImpl
    // releases as soon as its own checkpoint materializes, so nDf and
    // cands each re-ran the union+distinct lineage (measured: three
    // identical 64-task stages ≈ 42 of the query's 49 task-s)
    val pin = Lineage.counted(edges.select($"p1".as("v"))
      .union(edges.select($"p2".as("v"))).distinct())
    val verts = pin.df
    val ranked = Ranks.globalRankPinned(verts, pin.rows, "r", $"v".asc)
    val nDf = verts.agg(count(lit(1)).as("n"))
    val cands = verts
      .select($"v", explode(sequence(lit(0L), lit((m - 1).toLong))).as("draw"))
      .crossJoin(broadcast(nDf))
      .withColumn("cr", pmod(md5Bits32(concat(lit("neg:"), $"v".cast("string"),
        lit(":"), $"draw".cast("string")), 1), $"n") + 1L)
      .join(ranked.select($"r".as("cr"), $"v".as("neg_id")), "cr")
      .filter($"neg_id" =!= $"v")
    val nonEdges = cands.join(edges,
        least($"v", $"neg_id") === $"p1" && greatest($"v", $"neg_id") === $"p2",
        "left_anti")
    nonEdges
      .withColumn("rn", row_number().over(
        Window.partitionBy($"v").orderBy($"draw")).cast("long"))
      .filter($"rn" <= k)
      .select($"v".as("part_id"), $"neg_id", $"draw", $"rn")
  }

  /** q126: community detection by synchronous label propagation
    * (Raghavan et al. 2007) on the co-purchase graph, a fixed `rounds`
    * sweeps. Every vertex starts as its own label; each sweep it adopts
    * the most frequent label among its neighbors, ties broken toward the
    * SMALLEST label — a total order, so the trajectory (and hence the
    * oracle's unrolled replay) is deterministic, unlike the randomized
    * async variant. Fixed sweeps rather than convergence because sync
    * LPA can 2-cycle on bipartite structure; 4 sweeps is the label-
    * diameter of the fixture's communities (spec-pinned).
    *
    * Scale: one sweep = one join of the (static, cached) adjacency list
    * against the label table on the neighbor key + one (v, lbl) count
    * aggregate + a per-vertex argmax window — all keyed on vertex ids,
    * map-side combinable, state ∝ |edges|; `localCheckpoint` per sweep
    * truncates loop lineage (the PageRank/k-core discipline).
    */
  def labelPropagation(spark: SparkSession, d: String,
      rounds: Int = lpTrajectory.warm): DataFrame = {
    import spark.implicits._
    lpTrajectory(spark, d, rounds).filter($"round" === rounds)
      .select($"v".as("partkey"), $"lbl".as("community"))
  }

  /** The FULL label-propagation trajectory — (round, v, lbl) for
    * rounds 0..`rounds` — memo-cached so the sweep loop runs ONCE per
    * session for the whole family: q126 takes the last round, q204's
    * modularity reads the same labels, q220's churn curve diffs
    * consecutive rounds. (rounds+1)·|V| cached rows.
    */
  private[graft] val lpTrajectory =
    shared("lpTrajectory", cache = true, 4) { (spark, d, rounds) =>
      import spark.implicits._
      lpSweeps(spark, copurchaseEdges(spark, d).select($"p1", $"p2"), rounds)
    }

  /** The label-propagation sweep loop over an explicit (p1, p2) edge
    * table, un-memoized — split out (round 13) for GraphScaleSpec's
    * hub-skew rehearsal; `lpTrajectory` is the memo-cached fixture form.
    */
  private[graft] def lpSweeps(spark: SparkSession, edges: DataFrame,
      rounds: Int): DataFrame = {
    {
      import spark.implicits._
      val nb = edges.select($"p1".as("v"), $"p2".as("u"))
        .union(edges.select($"p2".as("v"), $"p1".as("u")))
        .cutLineage()
      var labels = nb.select($"v").distinct().withColumn("lbl", $"v")
        .cutLineage()
      var acc = labels.withColumn("round", lit(0L))
      for (t <- 1 to rounds) {
        // winner per vertex via struct-extreme argmax (max c, ties →
        // min lbl — identical to the row_number(c desc, lbl asc) form
        // it replaced): a hub vertex's candidate labels stay inside a
        // map-side-combinable aggregate instead of one row_number sort
        // partition holding its whole distinct-label neighborhood
        labels = nb
          .join(labels.select($"v".as("u"), $"lbl"), "u")
          .groupBy($"v", $"lbl").agg(count(lit(1)).as("c"))
          .groupBy($"v")
          .agg(lexMax(struct($"c", (-$"lbl").as("nl"))).as("t"))
          .select($"v", (-$"t".getField("nl")).as("lbl"))
          .cutLineage()
        acc = acc.union(labels.withColumn("round", lit(t.toLong)))
      }
      acc.select($"round", $"v", $"lbl")
    }
  }

  /** q220: label-propagation churn curve — per sweep t of the q126
    * trajectory: how many vertices changed label, and the 1e6-quantized
    * churn rate. The convergence gate beside q204's quality gate: q126
    * pins 4 sweeps, and this is the evidence the fixpoint is (or is
    * not) near — churn still high at the last sweep means the label
    * table is an artifact of the cutoff, not of the graph.
    *
    * Shape: reads the memo-shared `lpTrajectory` (the sweep loop runs
    * ONCE per session for q126/q204/q220), diffs consecutive rounds
    * with one vertex-keyed self-join, and aggregates to `rounds` rows
    * — no extra loop, nothing driver-side but the vertex count.
    */
  def labelPropChurn(spark: SparkSession, d: String,
      rounds: Int = lpTrajectory.warm): DataFrame = {
    import spark.implicits._
    val tr = lpTrajectory(spark, d, rounds)
    val nV = tr.filter($"round" === 0L).count()
    tr.filter($"round" >= 1L)
      .join(tr.select(($"round" + 1L).as("round"), $"v", $"lbl".as("prev")),
        Seq("round", "v"))
      .groupBy($"round")
      .agg(sum(when($"lbl" =!= $"prev", 1L).otherwise(0L)).as("n_changed"))
      .select($"round", $"n_changed", lit(nV).as("n_vertices"),
        round($"n_changed".cast("double") / lit(nV).cast("double")
          * lit(1000000.0)).cast("long").as("churn_q6"))
  }

  /** q204: modularity audit of the q126 label-propagation communities —
    * per community: member count, intra-community edge count e_c, total
    * degree mass d_c, and the 1e6-quantized Newman modularity
    * contribution e_c/m − (d_c/2m)². The sum over communities is the
    * partition's modularity Q — the "did label prop find real structure
    * or noise" gate (Q ≈ 0 ⇒ the communities are no better than random,
    * whatever the label table claims); per-community rows localize WHICH
    * communities carry the structure.
    *
    * Exactness: e_c, d_c, m are exact longs; the contribution is the
    * identical short double chain in both engines (two single divisions,
    * one multiply-subtract — the q129 rule), HALF_UP-quantized.
    *
    * Scale: the label table rides the lpLabels memo (built once for
    * q126/q204), degrees are one map-side-combined aggregate over the
    * edge list, intra edges are two vertex-keyed shuffle joins of edges
    * against labels + one aggregate — everything keyed, nothing
    * quadratic, |communities| output rows.
    */
  def modularity(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val edges = copurchaseEdges(spark, d).select($"p1", $"p2")
    val labels = labelPropagation(spark, d)
      .select($"partkey".as("v"), $"community")
    val m = edges.count()
    val deg = edges.select($"p1".as("v")).union(edges.select($"p2".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    val perC = deg.join(labels, "v")
      .groupBy($"community")
      .agg(count(lit(1)).as("n_vertices"), sum($"deg").as("degree_sum"))
    val intra = edges
      .join(labels.select($"v".as("p1"), $"community".as("c1")), "p1")
      .join(labels.select($"v".as("p2"), $"community".as("c2")), "p2")
      .filter($"c1" === $"c2")
      .groupBy($"c1".as("community")).agg(count(lit(1)).as("intra_edges"))
    perC.join(intra, Seq("community"), "left")
      .select($"community", $"n_vertices", $"degree_sum",
        coalesce($"intra_edges", lit(0L)).as("intra_edges"))
      .withColumn("contrib_q6",
        round(($"intra_edges".cast("double") / lit(m).cast("double")
          - ($"degree_sum".cast("double") / lit(2L * m).cast("double"))
            * ($"degree_sum".cast("double") / lit(2L * m).cast("double")))
          * lit(1000000.0)).cast("long"))
  }
}
